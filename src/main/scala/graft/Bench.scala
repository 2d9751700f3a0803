package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge

/** Driver-run benchmark: times every SparkEntry query at the sf under
  * test, prints ONE compact JSON line (copied to `target/bench.json`)
  * and writes the run's per-query ledger, `target/bench_queries.jsonl`
  * ([[renderLedger]]).
  *
  * Invariants:
  *  - One untimed warm-up pass over the whole query set runs first, so
  *    the timed passes measure steady state: JIT, codegen, page cache
  *    and the session memos (staged adjacency, dedup pair sets, sigma
  *    towers) are built before any clock runs. A query's time is its
  *    best of 3 timed passes.
  *  - A query that throws is an error, never a timing: its
  *    time-to-failure is left out of the timings and the total, and the
  *    line carries `errors` and `errors_detail`.
  *  - Each query's minimum is corroborated by another of its own passes
  *    ([[corroborated]]). An uncorroborated query is re-timed alone; one
  *    still uncorroborated taints the measurement, which is re-run.
  *  - Storage is read after a GC + ContextCleaner drain, so it measures
  *    the retained set, and is checked against [[StorageBudgetMb]].
  *  - A SparkListener counts each pass. A query's counters are read
  *    after its action, once the listener bus has drained, and outside
  *    its timed interval; they hold exactly that query's jobs.
  */
object Bench {
  /** What the listener saw of one query in one pass: jobs started,
    * stages completed and their tasks, shuffle bytes read and written,
    * summed executor run, CPU and GC milliseconds, and the [[TopStages]]
    * stages with the most executor run time. */
  final case class Counters(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
                            shuffleRead: Long = 0L, shuffleWrite: Long = 0L,
                            runMs: Long = 0L, cpuMs: Long = 0L, gcMs: Long = 0L,
                            top: Seq[Stage] = Nil)

  /** One completed stage: its executor run ms, tasks and RDD scopes (the
    * operators it ran). */
  final case class Stage(id: Int, runMs: Long, tasks: Int, scopes: String)

  val TopStages = 5

  /** One query's outcome in one pass: wall seconds, the error (class +
    * truncated message) if the query threw, and its counters. A thrown
    * query's `sec` is time-to-failure and is NEVER reported as a
    * timing — see merge(). */
  final case class QTime(name: String, sec: Double, err: Option[String],
                         c: Counters = Counters())

  /** Counts the jobs and completed stages of its context until [[take]]. */
  private final class Listener extends SparkListener {
    private var jobs = 0
    private val done = scala.collection.mutable.ArrayBuffer[StageInfo]()
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized { done += s.stageInfo }

    /** The counts since the last take; the next take starts from zero. */
    def take(): Counters = synchronized {
      def sum(f: StageInfo => Long): Long = done.map(f).sum
      val top = done.sortBy(-_.taskMetrics.executorRunTime).take(TopStages).map { si =>
        Stage(si.stageId, si.taskMetrics.executorRunTime, si.numTasks,
          si.rddInfos.flatMap(_.scope).map(_.name.takeWhile(_ != '\n'))
            .distinct.mkString(" | ").take(200))
      }.toSeq
      val c = Counters(jobs, done.size, done.map(_.numTasks).sum,
        sum(_.taskMetrics.shuffleReadMetrics.totalBytesRead),
        sum(_.taskMetrics.shuffleWriteMetrics.bytesWritten),
        sum(_.taskMetrics.executorRunTime), sum(_.taskMetrics.executorCpuTime) / 1000000L,
        sum(_.taskMetrics.jvmGCTime), top)
      jobs = 0; done.clear()
      c
    }
  }

  private def clean(s: String): String = s.replaceAll("""["\\\n\r\t]""", " ")

  /** Time one pass over the query set. Failures are captured, not
    * swallowed: the error is carried in the result AND echoed to stderr
    * immediately (so even a truncated artifact leaves a loud trace). */
  def runPass(spark: SparkSession, sfDir: String,
              qs: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[QTime] = {
    val sc = spark.sparkContext
    val counters = new Listener
    Bridge.drainListeners(sc) // no earlier event reaches the listener
    sc.addSparkListener(counters)
    try qs.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch {
          case t: Throwable =>
            val msg = clean(t.getClass.getSimpleName + ": " +
              Option(t.getMessage).getOrElse("")).take(160)
            System.err.println(s"[bench] ERROR in $name: $msg")
            Some(msg)
        }
      val sec = (System.nanoTime() - t0) / 1e9
      Bridge.drainListeners(sc)
      QTime(name, sec, err, counters.take())
    } finally sc.removeSparkListener(counters)
  }

  /** Best-of-N merge: per-query minimum wall time over the passes, but a
    * query that threw in ANY pass is an error (first message kept) — a
    * partial failure must not hide behind one lucky pass. */
  def merge(passes: Seq[Seq[QTime]]): Seq[QTime] =
    passes.head.indices.map { i =>
      val name = passes.head(i).name
      QTime(name, passes.map(_(i).sec).min, passes.flatMap(_(i).err).headOption)
    }

  /** 1-minute load average from /proc/loadavg (-1.0 if unreadable —
    * non-Linux or restricted proc; the bench still runs, just unannotated). */
  private def loadAvg1m(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Cumulative busy jiffies across all cores (user+nice+system+irq+softirq
    * +steal from /proc/stat line "cpu") — idle and iowait excluded, and
    * guest/guest_nice (fields 8-9) excluded too: per proc(5) guest time
    * is already accounted inside user/nice, so including it would
    * double-count VM tenants and over-trip the tainted flag.
    * -1 if unreadable. */
  private def busyJiffiesAll(): Long =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      // fields: user nice system idle iowait irq softirq steal guest gnice
      cpu.take(8).zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
    } catch { case _: Throwable => -1L }

  /** This JVM's own cumulative CPU jiffies (utime+stime over all threads,
    * /proc/self/stat fields 14-15). -1 if unreadable. */
  private def selfJiffies(): Long =
    try {
      val s = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
      // comm (field 2) may contain spaces; split after the closing paren.
      val rest = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
      rest(11).toLong + rest(12).toLong // utime, stime (fields 14,15 overall)
    } catch { case _: Throwable => -1L }

  /** Post-suite block-manager budget (MB): the intentional session memos
    * measure ~92 MB at sf0.1; 200 leaves room for growth while catching
    * an accumulation regression. A breach is flagged in the JSON
    * (`storage_ok`) and itemized (`storage_top`), not fatal. */
  val StorageBudgetMb = 200L

  /** A 1-minute load above this delays the start of a measurement (for
    * a bounded time), and other processes' CPU above it over the timed
    * window taints it: uniform external load inflates every pass alike,
    * which per-query corroboration cannot see. */
  private val LoadThreshold = 2.0

  /** Pass-total dispersion — max/min over per-pass wall totals, 1.0
    * when passes agree. An annotation, not a taint trigger: one noisy
    * window inflates a pass total even when every query's minimum is
    * corroborated by another pass. */
  val DispersionThreshold = 1.25

  def passDispersion(passTotals: Seq[Double]): Double =
    if (passTotals.nonEmpty && passTotals.min > 0)
      passTotals.max / passTotals.min
    else 1.0

  /** A query's best-of time is CORROBORATED when its second-smallest
    * recorded time is within 50% (+100 ms absolute slack for sub-second
    * queries) of the minimum: the minimum was reproduced to within the
    * box's single-pass swing (±30-50%, the best-of-3 rationale), so it
    * is a steady-state floor, not a fluke. A tighter band indicts
    * scheduling noise in latency-bound multi-stage queries (graph
    * search, nndescent, CC); at 50% the gate still catches what it
    * exists for — a minimum no other sample comes near (an accidentally
    * cached result, a measurement glitch, a cold/warm mixup: all ≥2×
    * gaps). Pure so BenchSpec drives it synthetically. */
  val QueryAgreeRatio = 1.50
  val QueryAgreeSlackSec = 0.10
  def corroborated(times: Seq[Double]): Boolean = {
    val s = times.sorted
    s.size >= 2 && s(1) <= s.head * QueryAgreeRatio + QueryAgreeSlackSec
  }

  /** How many targeted extra passes may re-time disagreeing queries —
    * each pass runs ONLY the still-uncorroborated set, so three passes
    * cost minutes, not another full measurement. */
  val MaxRetimePasses = 3

  private def awaitQuietStart(): Unit = {
    var waited = 0
    while (loadAvg1m() > LoadThreshold && waited < 180) {
      System.err.println(s"[bench] 1-min load ${loadAvg1m()} > $LoadThreshold; waiting 30s (${waited}s so far)")
      Thread.sleep(30000)
      waited += 30
    }
  }

  /** One full timed measurement: 3 passes, per-query best-of merge,
    * TARGETED re-timing of uncorroborated queries,
    * contamination annotations. Taint is decided per QUERY: the
    * artifact is tainted only when some query's minimum could not be
    * corroborated within [[MaxRetimePasses]] extra targeted passes, or
    * when other processes held more than [[LoadThreshold]] cores over
    * the timed window. Pass-level totals (dispersion/skew) and box-load
    * numbers stay annotations. Its storage fields are left at 0 for
    * `main` to fill after the timed passes. */
  private def measure(spark: SparkSession, sfDir: String,
                      qs: Seq[(String, (SparkSession, String) => DataFrame)]): Measurement0 = {
    val loadStart = loadAvg1m()
    val tWall0 = System.nanoTime()
    val busy0 = busyJiffiesAll(); val self0 = selfJiffies()
    val passes = Seq.fill(3)(runPass(spark, sfDir, qs))
    val wallTimed = (System.nanoTime() - tWall0) / 1e9
    val busy1 = busyJiffiesAll(); val self1 = selfJiffies()
    val loadEnd = loadAvg1m()
    val names = qs.map(_._1)
    val times = scala.collection.mutable.Map[String, Vector[Double]]() ++
      names.zipWithIndex.map { case (n, i) => n -> passes.map(_(i).sec).toVector }
    val errs = scala.collection.mutable.Map[String, String]()
    for (p <- passes; q <- p; e <- q.err) errs.getOrElseUpdate(q.name, e)
    // only the queries whose minimum no other pass corroborates re-run
    def needy: Seq[String] =
      names.filter(n => !errs.contains(n) && !corroborated(times(n)))
    val retimed = scala.collection.mutable.Set[String]()
    val retimes = scala.collection.mutable.ArrayBuffer[Seq[QTime]]()
    var need = needy
    while (need.nonEmpty && retimes.size < MaxRetimePasses) {
      retimed ++= need
      System.err.println(s"[bench] re-timing ${need.size} uncorroborated " +
        s"queries (targeted pass ${retimes.size + 1}/$MaxRetimePasses): " +
        need.take(8).mkString(", "))
      val pass = runPass(spark, sfDir, qs.filter(q => need.contains(q._1)))
      for (q <- pass) {
        times(q.name) = times(q.name) :+ q.sec
        q.err.foreach(e => errs.getOrElseUpdate(q.name, e))
      }
      retimes += pass
      need = needy
    }
    val results = names.map(n => QTime(n, times(n).min, errs.get(n)))
    // Annotations:
    //  - other_cpu_cores: average cores consumed by OTHER processes over
    //    the timed window, from /proc/stat busy-jiffies minus this JVM's
    //    /proc/self/stat jiffies. Immune to our own load by construction.
    //  - load_start/load_end: 1-min loadavg around the window.
    //  - skew: mean-pass-wall vs best-of-total; pass_dispersion:
    //    max/min pass totals.
    val passTotals = passes.map(_.map(_.sec).sum)
    val total = results.map(_.sec).sum
    val skew = if (total > 0) (wallTimed / passes.size) / total else 1.0
    val hz = 100.0 // USER_HZ; getconf CLK_TCK — 100 on every mainstream linux
    val otherCpuCores =
      if (busy0 >= 0 && busy1 >= 0 && self0 >= 0 && self1 >= 0 && wallTimed > 0)
        ((busy1 - busy0) - (self1 - self0)) / hz / wallTimed
      else -1.0
    Measurement0(results, wallTimed, passTotals, skew, otherCpuCores,
      loadStart, loadEnd,
      tainted = need.nonEmpty || otherCpuCores > LoadThreshold,
      storageMb = 0L, storageDiskMb = 0L,
      requeried = retimed.size,
      unconverged = need,
      passes = passes.map(Pass("timed", _)) ++ retimes.map(Pass("retime", _)))
  }

  // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
  private def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Render the one-line artifact. Exposed (with merge/runPass) so
    * BenchSpec can prove a throwing query is reported as an error, not a
    * timing: erroring queries are EXCLUDED from the timings map and the
    * total, and surfaced in "errors"/"errors_detail" instead. */
  def renderJson(m: Measurement0, sfDir: String, attempts: Int): String = {
    val (okQ, errQ) = m.results.partition(_.err.isEmpty)
    // the driver keeps only ~2.3 KB of stdout tail; with 90+ queries a
    // full per-query map no longer fits, so emit the slowest 40 (the
    // informative ones — everything omitted ran < the 40th time) and
    // the total over the ok queries.
    val slowest = okQ.sortBy(-_.sec).take(40).sortBy(_.name)
    val qjson = slowest.map(q => s"""\"${q.name}\":${ms(q.sec)}""").mkString("{", ",", "}")
    val total = okQ.map(_.sec).sum
    // errors first in the line: if the driver's stdout tail truncates,
    // the failure signal survives and a timing tail is what gets lost.
    val errDetail = errQ.take(5).map(q => s"""\"${q.name}\":\"${q.err.get.take(80)}\"""")
      .mkString("{", ",", "}")
    // taint is per-query since r16: name the unconverged queries so a
    // tainted artifact says WHICH timings not to trust (capped to keep
    // the line inside the driver's stdout tail)
    val unconv =
      if (m.unconverged.isEmpty) ""
      else s""","unconverged":[${m.unconverged.take(5)
        .map(n => "\"" + n + "\"").mkString(",")}]"""
    // over-budget storage itemizes its top retained RDDs so a real
    // accumulation names its culprit (VERDICT-r15 task 3)
    val storTop =
      if (m.storageTop.isEmpty) ""
      else s""","storage_top":{${m.storageTop.take(10).map { case (n, mb) =>
        "\"" + n.replaceAll("""["\\]""", " ").take(40) + "\":" + mb
      }.mkString(",")}}"""
    s"""{"metric":"total","value":${ms(total)},"unit":"sec","errors":${errQ.size},"errors_detail":$errDetail,"timed":${okQ.size},"attempts":$attempts,"requeried":${m.requeried}$unconv,"load_start":${ms(m.loadStart)},"load_end":${ms(m.loadEnd)},"other_cpu_cores":${ms(m.otherCpuCores)},"wall_timed":${ms(m.wallTimed)},"pass_totals":[${m.passTotals.map(ms).mkString(",")}],"skew":${ms(m.skew)},"pass_dispersion":${ms(passDispersion(m.passTotals))},"tainted":${m.tainted},"storage_mb":${m.storageMb},"storage_disk_mb":${m.storageDiskMb},"storage_ok":${m.storageMb <= StorageBudgetMb}$storTop,"queries":$qjson,"sf":"$sfDir"}"""
  }

  /** One measurement as rendered: the timings of [[measure]] and the
    * post-suite storage reading (separate, so the spec can synthesize
    * one without a full timed phase), and its passes for the ledger. */
  final case class Measurement0(
    results: Seq[QTime], wallTimed: Double, passTotals: Seq[Double],
    skew: Double, otherCpuCores: Double, loadStart: Double, loadEnd: Double,
    tainted: Boolean, storageMb: Long, storageDiskMb: Long,
    requeried: Int = 0, unconverged: Seq[String] = Nil,
    storageTop: Seq[(String, Long)] = Nil, passes: Seq[Pass] = Nil)

  /** One pass over (a subset of) the query set: `warmup`, `timed` or
    * `retime`. */
  final case class Pass(kind: String, times: Seq[QTime])

  /** A block-manager resident named by its creation site. */
  final case class Resident(site: String, memBytes: Long, diskBytes: Long)

  /** The run's ledger, one JSON object per line:
    *  - per (query, pass): `query`, `pass` (its index in `passes`: 0 is
    *    the warm-up in a run), `kind`, `sec`, `err` (null when it ran),
    *    the [[Counters]] (`jobs`, `stages`, `tasks`, `shuffle_read`,
    *    `shuffle_write` bytes, `exec_run_ms`, `exec_cpu_ms`, `gc_ms`)
    *    and `top_stages`;
    *  - per retained resident: `resident`, `mem_bytes`, `disk_bytes`;
    *  - per BoundProbe kernel: `kernel`, `used`, `bound`. */
  def renderLedger(passes: Seq[Pass], residents: Seq[Resident],
                   bounds: Seq[(String, Int, Int)]): String = {
    def str(s: String) = "\"" + clean(s) + "\""
    val queries = for ((p, i) <- passes.zipWithIndex; q <- p.times) yield {
      val c = q.c
      val top = c.top.map(s =>
        s"""{"stage":${s.id},"run_ms":${s.runMs},"tasks":${s.tasks},"scopes":${str(s.scopes)}}""")
      s"""{"query":${str(q.name)},"pass":$i,"kind":"${p.kind}","sec":${ms(q.sec)},"err":${q.err.fold("null")(str)},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"shuffle_read":${c.shuffleRead},"shuffle_write":${c.shuffleWrite},""" +
        s""""exec_run_ms":${c.runMs},"exec_cpu_ms":${c.cpuMs},"gc_ms":${c.gcMs},"top_stages":${top.mkString("[", ",", "]")}}"""
    }
    val stored = residents.map(r =>
      s"""{"resident":${str(r.site)},"mem_bytes":${r.memBytes},"disk_bytes":${r.diskBytes}}""")
    val used = bounds.map { case (k, u, b) => s"""{"kernel":${str(k)},"used":$u,"bound":$b}""" }
    (queries ++ stored ++ used).map(_ + "\n").mkString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    awaitQuietStart()
    val spark = GraftSession.local()
    // SPARK_GRAFT_ONLY: comma-separated query-name prefixes. A subset run
    // keeps the whole method (quiet-wait, warm-up, best-of-3,
    // corroboration, ledger); its artifact is partial by construction.
    val qs = SparkEntry.selected(sys.env.get("SPARK_GRAFT_ONLY")).toSeq.sortBy(_._1)
    val ledger = scala.collection.mutable.ArrayBuffer(Pass("warmup", runPass(spark, sfDir, qs)))
    // a measurement that taints itself is invalid by its own rule: it is
    // re-run up to 2 more times, each after a quiet window, and the
    // last one is accepted with `tainted:true`
    var attempts = 0
    var m = null.asInstanceOf[Measurement0]
    var accepted = false
    while (!accepted) {
      m = measure(spark, sfDir, qs)
      ledger ++= m.passes
      attempts += 1
      accepted = !m.tainted || attempts >= 3
      if (!accepted) {
        System.err.println(s"[bench] attempt $attempts tainted — " +
          s"${m.unconverged.size} queries uncorroborated after " +
          s"$MaxRetimePasses targeted re-timings " +
          s"(${m.unconverged.take(8).mkString(", ")}); awaiting quiet and retrying")
        awaitQuietStart()
      }
    }
    if (m.results.exists(_.err.isDefined))
      System.err.println(s"[bench] ${m.results.count(_.err.isDefined)} QUERIES FAILED — see errors_detail")
    // Storage is the RETAINED set: a superseded staging checkpoint is
    // unpersisted by the ContextCleaner only once a GC collects its last
    // reference, so drain that path before reading.
    System.gc(); Thread.sleep(3000); System.gc(); Thread.sleep(3000)
    val sc = spark.sparkContext
    val st = sc.getRDDStorageInfo.sortBy(-_.memSize)
    val (storUsedMb, storDiskMb) =
      (st.map(_.memSize).sum / 1048576, st.map(_.diskSize).sum / 1048576)
    val storageTop: Seq[(String, Long)] =
      if (storUsedMb > StorageBudgetMb)
        st.take(10).map(i => (Option(i.name).getOrElse(s"rdd_${i.id}"), i.memSize / 1048576)).toSeq
      else Nil
    if (storUsedMb > StorageBudgetMb)
      System.err.println(s"[bench] storage ${storUsedMb} MB exceeds the " +
        s"$StorageBudgetMb MB post-suite budget even after a cleaner " +
        s"drain — top residents: ${storageTop.mkString("; ")}")
    // a persisted RDD's toString names its creation site, which says
    // which memo it belongs to
    val live = sc.getPersistentRDDs
    val residents = st.toSeq.map(i => Resident(
      live.get(i.id).fold(Option(i.name).getOrElse(s"rdd_${i.id}"))(_.toString).take(200),
      i.memSize, i.diskSize))
    val line = renderJson(
      m.copy(storageMb = storUsedMb, storageDiskMb = storDiskMb, storageTop = storageTop),
      sfDir, attempts)
    println(line)
    // the files are the durable copies: stdout goes through sbt's
    // prefixing and the caller's tail truncation
    def write(name: String, text: String): Unit = {
      val out = java.nio.file.Paths.get("target", name)
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, text)
    }
    write("bench.json", line + "\n")
    write("bench_queries.jsonl", renderLedger(ledger.toSeq, residents, tools.BoundProbe.all))
    spark.stop()
    // and once more on BOTH streams after spark.stop(), so the line is
    // the process's final output whichever stream is tailed
    println(line)
    System.err.println(line)
  }
}
