package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.perfbench.Internal
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One query execution as the benchmark saw it. Times are epoch ns:
  * `start` is the call into the query function, `built` its return,
  * `planned` the end of physical planning and `end` the end of the
  * fingerprint action that forced the result. */
final case class Run(id: String, name: String, start: Long, built: Long, planned: Long, end: Long,
                     err: Option[String], fp: Option[Fingerprint], phases: Map[String, Double]) {
  def wall: Double = (end - start) / 1e9
}

/** What one expected result is compared on: the full fingerprint, or
  * (for queries without an exact oracle) the row count only. */
final case class Expect(fp: Fingerprint, hashChecked: Boolean) {
  def matches(got: Fingerprint): Boolean = got.rows == fp.rows && (!hashChecked || got.hash == fp.hash)
}

/** One measured phase: its runs and each lap's (start, end); the last
  * lap may be partial. */
final case class Phase(runs: Seq[Run], laps: Seq[(Long, Long)]) {
  /** Completed queries per second over the phase's laps. */
  def qps: Double = runs.count(_.err.isEmpty) / (laps.map { case (a, b) => b - a }.sum / 1e9)
}

/** Runs one workload: set up, measure a closed loop for a fixed time,
  * check every result, and write the result file (and, traced, the
  * ledger). run.py builds the arguments; see README.md. */
object Main {
  final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                          data: String, work: String, queries: Seq[String], warmLaps: Int,
                          expected: Map[String, Expect], result: String, ledger: String)

  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + epochOffset

  def toJson(doc: AnyRef): String = Serialization.write(doc)(DefaultFormats)

  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    // queries.tsv as Freeze writes it: a header row, then one row per query
    val lines = scala.io.Source.fromFile(need("expected")).getLines().map(_.split("\t", -1)).toSeq
    val col = lines.head.zipWithIndex.toMap
    val expected = lines.tail.filter(_(col("fingerprint")).nonEmpty).map { r =>
      r(col("query")) -> Expect(Fingerprint.parse(r(col("fingerprint"))), r(col("check")) == "hash")
    }.toMap
    Config(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("work"), need("queries").split(",").toSeq, need("warm-laps").toInt, expected,
      need("result"), need("ledger"))
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val missing = cfg.queries.filterNot(cfg.expected.contains)
    require(missing.isEmpty, s"no expected fingerprint for ${missing.mkString(",")}")
    val out = new Bench(cfg).run()
    Files.writeString(Paths.get(cfg.result), toJson(out))
  }
}

final class Bench(cfg: Main.Config) {
  import Main.now

  private val cpus = Runtime.getRuntime.availableProcessors
  private val runs = ArrayBuffer[Run]()
  private var spark: SparkSession = _

  /** Query order of one lap: the seed permutes the list. */
  def order(lap: Int): Seq[String] = new scala.util.Random(cfg.seed * 1000003L + lap).shuffle(cfg.queries)

  private def runOne(phase: String, name: String, seq: String): Run = {
    val id = s"$phase/$seq"
    spark.sparkContext.setLocalProperty(Trace.QueryKey, id)
    val t0 = now()
    var (built, planned) = (t0, t0)
    var df: DataFrame = null
    val result =
      try {
        df = Engine.query(name)(spark, cfg.data)
        built = now()
        df.queryExecution.executedPlan
        planned = now()
        Right(Fingerprint.of(df))
      } catch {
        case t: Throwable =>
          val msg = (t.getClass.getSimpleName + ": " + Option(t.getMessage).getOrElse("")).take(200)
          System.err.println(s"[perfbench] ERROR in $name: $msg")
          Left(msg)
      }
    val end = now()
    if (built == t0) built = end
    if (planned == t0) planned = end
    val phases =
      if (df == null) Map.empty[String, Double]
      else df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
    val r = Run(id, name, t0, built, planned, end, result.left.toOption, result.toOption, phases)
    runs += r
    r
  }

  /** Closed loop in laps over the workload, each query as soon as the
    * previous one completes, so query counts differ by at most one. The
    * first `minLaps` laps run whole; after them no query starts after
    * `deadline` once `minSamples` queries are in. Stopping between
    * queries rather than between laps keeps a slightly faster run from
    * measuring a whole extra lap. */
  private def loop(phase: String, firstLap: Int, deadline: Long, minLaps: Int, minSamples: Int): Phase = {
    val mine = ArrayBuffer[Run]()
    val laps = ArrayBuffer[(Long, Long)]()
    var lap = firstLap
    def more = now() < deadline || lap - firstLap < minLaps || mine.size < minSamples
    while (more) {
      val start = now()
      val qs = order(lap).iterator
      var i = 0
      while (qs.hasNext && more) { mine += runOne(phase, qs.next(), s"$lap.$i"); i += 1 }
      laps += ((start, now()))
      lap += 1
    }
    Phase(mine.toSeq, laps.toSeq)
  }

  /** The latency tail needs more than 10 samples beyond it, and from 24
    * on it sits clear of the median (p58 or higher). Queries that throw
    * count here too, so a failing workload still ends. */
  private val MinSamples = 24

  /** Heap MB live after a full collection: what the session retains
    * (memos, cached blocks, plans) once the workload has run. */
  private def heapMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Block-manager storage after the drain graft.Bench uses, which lets
    * the cleaner reclaim unreferenced staging checkpoints first: memory
    * MB, disk MB, cached RDDs. */
  private def storage(): (Double, Double, Int) = {
    System.gc(); Thread.sleep(3000); System.gc(); Thread.sleep(3000)
    val st = spark.sparkContext.getRDDStorageInfo
    (st.map(_.memSize).sum / 1048576.0, st.map(_.diskSize).sum / 1048576.0, st.length)
  }

  def run(): Map[String, Any] = {
    val box0 = Box.sample()
    // set-up: JVM start, session creation, then the untimed warm laps:
    // the first is cold (session memos, JIT, codegen), and the laps after
    // it run slow until the JIT has compiled the hot driver code
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    spark = Engine.session(cpus, s"${cfg.work}/local")
    val ready = now()
    (0 until cfg.warmLaps).foreach(i => loop(s"warm$i", -1 - i, 0L, 1, 0))
    val warmed = now()
    val ms = (cfg.seconds * 1e9).toLong
    val t0 = now()
    val (measured, traced) =
      if (!cfg.trace) (loop("m", 0, t0 + ms, 0, MinSamples), None)
      else {
        // Untraced and traced laps in the order u t t u u t t u ..., so
        // both sample the same point of any JIT warm-up that still runs
        // through the measured laps. At least one lap is traced, so the
        // ledger holds every query of the workload.
        val tracer = new Tracer
        val (us, ts) = (ArrayBuffer[Phase](), ArrayBuffer[Phase]())
        var lap = 0
        while (now() < t0 + ms || ts.isEmpty) {
          if (lap % 4 == 1 || lap % 4 == 2) {
            spark.sparkContext.addSparkListener(tracer)
            ts += loop("t", lap, 0L, 1, 0)
            Internal.drainListeners(spark.sparkContext)
            spark.sparkContext.removeSparkListener(tracer)
          } else us += loop("u", lap, 0L, 1, 0)
          lap += 1
        }
        def merge(ps: Seq[Phase]) = Phase(ps.flatMap(_.runs), ps.flatMap(_.laps))
        val (untraced, tr) = (merge(us.toSeq), merge(ts.toSeq))
        (merge(Seq(untraced, tr)), Some((tracer, tr, untraced.qps, tr.qps)))
      }
    val checks = check()
    val box1 = Box.sample()
    val ok = measured.runs.filter(_.err.isEmpty)
    val wrong = measured.runs.count(r => checks.get(r.id).contains(false))
    val checked = measured.runs.count(r => checks.contains(r.id))
    val walls = ok.groupBy(_.name).map { case (q, rs) => q -> rs.map(_.wall) }
    val (p50, tailV, tailP) = Stats.latency(walls).getOrElse((Double.NaN, Double.NaN, Double.NaN))
    val annotations = Map[String, Any](
      "workload" -> cfg.workload, "seed" -> cfg.seed, "nproc" -> cpus,
      "samples" -> ok.size, "tail_percentile" -> tailP,
      "query_median_s" -> walls.map { case (q, xs) => q -> Stats.median(xs) },
      "load_start" -> box0.load, "load_end" -> box1.load,
      "other_cpu_cores" -> Box.otherCores(box0, box1),
      "lap_s" -> measured.laps.map { case (a, b) => (b - a) / 1e9 })
    val (threw, allWrong) = (runs.count(_.err.nonEmpty), runs.count(r => checks.get(r.id).contains(false)))
    val metrics: Seq[(String, Double, String)] = traced match {
      case None => Seq(
        ("qps", measured.qps, "1/s"),
        ("query_p50_s", p50, "s"),
        ("query_tail_s", tailV, "s"),
        ("setup_s", (warmed - jvmStart) / 1e9, "s"),
        ("ok_frac", ok.size.toDouble / measured.runs.size, "fraction"),
        ("match_frac", (checked - wrong).toDouble / checked, "fraction"),
        ("heap_mb", heapMb(), "MB"))
      case Some((tracer, tr, uQps, tQps)) =>
        val tables = openTables()
        val (storMb, storDiskMb, cachedRdds) = storage()
        val ledger = new Ledger(tracer, tr.runs.filter(_.err.isEmpty), t0)
        ledger.write(cfg.ledger, annotations ++ Map("qps_untraced" -> uQps, "qps_traced" -> tQps))
        ledger.layerMetrics ++ tables ++ Seq(
          ("storage_mb", storMb, "MB"),
          ("storage_disk_mb", storDiskMb, "MB"),
          ("cached_rdds", cachedRdds.toDouble, "count"),
          ("setup.session_s", (ready - jvmStart) / 1e9, "s"),
          ("setup.warm_s", (warmed - ready) / 1e9, "s"),
          ("trace_overhead", uQps / tQps - 1, "fraction"),
          ("unattributed_jobs", tracer.jobs.values.count(_.query.isEmpty).toDouble, "count"))
    }
    spark.stop()
    Map(
      "correct" -> (threw == 0 && allWrong == 0),
      "attempted" -> measured.runs.size,
      "failed" -> (measured.runs.size - ok.size + wrong),
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "annotations" -> annotations)
  }

  /** Result checks by run id, warm laps included. */
  private def check(): Map[String, Boolean] = {
    val res = runs.flatMap(r => r.fp.map(fp => r.id -> cfg.expected(r.name).matches(fp))).toMap
    res.collect { case (id, false) => id }.foreach(id => System.err.println(s"[perfbench] WRONG result: $id"))
    res
  }

  /** Tables layer: fresh `Tables.table(...).schema` for every table,
    * three times; median total time and the jobs one pass starts. */
  private def openTables(): Seq[(String, Double, String)] = {
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    val times = (0 until 3).map { rep =>
      spark.sparkContext.setLocalProperty(Trace.QueryKey, s"tables/$rep")
      val t0 = now()
      Engine.Tables.foreach(t => Engine.openTable(spark, cfg.data, t).schema)
      (now() - t0) / 1e6
    }
    Internal.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tracer)
    val jobs = tracer.jobs.values.count(_.query == "tables/0")
    Seq(("Tables.open_ms", Stats.median(times), "ms"), ("Tables.open_jobs", jobs.toDouble, "count"))
  }
}

/** Box load annotations, as graft.Bench takes them: 1-minute load
  * average, and busy jiffies of the whole box and of this process. */
final case class Box(at: Long, load: Double, busy: Long, self: Long)

object Box {
  def sample(): Box = {
    def read(p: String) = try Some(Files.readString(Paths.get(p))) catch { case _: Throwable => None }
    val load = read("/proc/loadavg").map(_.split("\\s+")(0).toDouble).getOrElse(-1.0)
    // busy = user+nice+system+irq+softirq+steal; guest is inside user
    val busy = read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu "))).map { l =>
      l.trim.split("\\s+").drop(1).map(_.toLong).take(8).zipWithIndex
        .collect { case (v, i) if i != 3 && i != 4 => v }.sum
    }.getOrElse(-1L)
    val self = read("/proc/self/stat").map { s =>
      val rest = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
      rest(11).toLong + rest(12).toLong
    }.getOrElse(-1L)
    Box(System.nanoTime(), load, busy, self)
  }

  /** Average cores used by other processes between two samples. */
  def otherCores(a: Box, b: Box): Double =
    if (a.busy < 0 || b.busy < 0 || a.self < 0 || b.self < 0) -1.0
    else ((b.busy - a.busy) - (b.self - a.self)) / 100.0 / ((b.at - a.at) / 1e9)
}
