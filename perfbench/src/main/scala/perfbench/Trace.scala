package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._

object Trace {
  /** Spark local property carrying the id of the query whose jobs follow.
    * The benchmark thread sets it before it calls into the engine. */
  val QueryKey = "perfbench.query"

  /** Executor counters summed over a stage's tasks, in this order. */
  val ExecCounters: Seq[String] = Seq("exec_cpu_s", "exec_run_s", "gc_s", "input_mb",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "output_mb", "tasks", "task_failures")
}

final class JobRec(val id: Int, val query: String, val start: Long, val stageIds: Seq[Int]) {
  var end: Long = -1L
}

final class StageRec(val stageId: Int, val attempt: Int, val job: Int) {
  var submitted: Long = -1L
  var firstLaunch: Long = Long.MaxValue
  var completed: Long = -1L
  val exec: Array[Double] = new Array[Double](Trace.ExecCounters.size)
}

/** Job, stage and task events, tied to a query through the job's
  * [[Trace.QueryKey]] property. Times are epoch milliseconds as Spark
  * stamps them. Read only after `Internal.drainListeners`. */
final class Tracer extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  private val stageJob = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val q = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.QueryKey))).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, q, e.time, e.stageIds)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  private def stage(id: Int, attempt: Int): Option[StageRec] =
    stageJob.get(id).map(j => stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt, j)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stage(si.stageId, si.attemptNumber()).foreach(_.submitted = si.submissionTime.getOrElse(-1L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stage(si.stageId, si.attemptNumber()).foreach(_.completed = si.completionTime.getOrElse(-1L))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stage(e.stageId, e.stageAttemptId).foreach { s =>
      s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stage(e.stageId, e.stageAttemptId).foreach { s =>
      val x = s.exec
      val m = e.taskMetrics
      if (m != null) {
        x(0) += m.executorCpuTime / 1e9
        x(1) += m.executorRunTime / 1e3
        x(2) += m.jvmGCTime / 1e3
        x(3) += m.inputMetrics.bytesRead / 1048576.0
        x(4) += m.shuffleReadMetrics.totalBytesRead / 1048576.0
        x(5) += m.shuffleWriteMetrics.bytesWritten / 1048576.0
        x(6) += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0
        x(7) += m.outputMetrics.bytesWritten / 1048576.0
      }
      x(8) += 1
      if (e.reason != Success) x(9) += 1
    }
  }
}
