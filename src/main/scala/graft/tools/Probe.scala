package graft.tools
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Ad-hoc probe main (not part of the driver contract): times the named
  * SparkEntry queries (args = query names, optional leading sfDir).
  * PROBE_EXPLAIN=1 additionally prints .explain("formatted") on pass 1;
  * the METRICS line per pass reports jobs/stages/tasks/shuffle volume
  * and summed executor run+GC time from a listener — the local stand-in
  * for the Spark UI's stage table (guide §1.1/§7.1) while the bench
  * contract keeps spark.ui.enabled=false. */
object Probe {
  private final class Acc extends SparkListener {
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufR = new AtomicLong; val shufW = new AtomicLong
    val runMs = new AtomicLong; val gcMs = new AtomicLong
    val cpuMs = new AtomicLong
    val perStage = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Int)]()
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val si = sc.stageInfo
      tasks.addAndGet(si.numTasks)
      val m = si.taskMetrics
      shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      cpuMs.addAndGet(m.executorCpuTime / 1000000L)
      // RDD scopes of the stage (operator names) — the local stand-in
      // for the UI's stage DAG when attributing executor time
      val scopes = si.rddInfos.flatMap(_.scope).map { sc =>
        sc.name.takeWhile(_ != '\n')
      }.distinct.mkString(" | ").take(200)
      perStage.add((s"stage${si.stageId}[$scopes]", m.executorRunTime, si.numTasks))
    }
    def topStages(n: Int): Seq[String] = {
      import scala.jdk.CollectionConverters._
      perStage.asScala.toSeq.sortBy(-_._2).take(n)
        .map { case (s, ms, t) => f"  ${ms / 1000.0}%7.1fs tasks=$t%-4d $s" }
    }
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0)
      shufR.set(0); shufW.set(0); runMs.set(0); gcMs.set(0); cpuMs.set(0)
      perStage.clear() }
    def line: String = f"jobs=${jobs.get} stages=${stages.get} " +
      f"tasks=${tasks.get} shufR=${shufR.get / 1048576.0}%.1fMB " +
      f"shufW=${shufW.get / 1048576.0}%.1fMB execRun=${runMs.get / 1000.0}%.1fs " +
      f"execCpu=${cpuMs.get / 1000.0}%.1fs gc=${gcMs.get / 1000.0}%.1fs"
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, names) =
      if (args.nonEmpty && args.head.startsWith("/")) (args.head, args.tail)
      else ("/root/testdata/sf0.1", args)
    val spark = graft.GraftSession.local()
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    // best-of-N (PROBE_PASSES, default 2): the box's external tenant
    // swings single-pass wall ±50%; the min over N warm passes is the
    // steady-state estimate, same rationale as Bench's best-of-3
    val passes = sys.env.get("PROBE_PASSES").map(_.toInt).getOrElse(2)
    for (n <- names) {
      var best = Double.MaxValue; var bestCpu = Double.MaxValue
      for (pass <- 1 to passes) {
        if (pass == 1 && sys.env.contains("PROBE_EXPLAIN"))
          graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
        acc.reset()
        val t0 = System.nanoTime()
        val rows = graft.SparkEntry.queries(n)(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        // deliver every posted event before reading the counters
        org.apache.spark.sql.graft.Bridge.drainListeners(spark.sparkContext)
        println(s"PROBE $n pass=$pass rows=$rows sec=$sec")
        println(s"METRICS $n pass=$pass ${acc.line}")
        if (pass > 1) { // warm passes only
          best = math.min(best, sec)
          bestCpu = math.min(bestCpu, acc.cpuMs.get / 1000.0)
        }
        if (sys.env.contains("PROBE_STAGES") && pass == passes)
          acc.topStages(12).foreach(println)
      }
      if (passes > 1)
        println(f"BEST $n sec=$best%.3f execCpu=$bestCpu%.1fs")
    }
    spark.stop()
  }
}
