package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine's mains (Bench and Verify) and the
  * test suite build a session. The conf is part of the results'
  * contract: shuffle partitions track the core count, timestamps are
  * UTC, a TIMESTAMP(NANOS) parquet column reads as a long, and the UI
  * stays off. The harness `events.ts` is TIMESTAMP(MICROS, not
  * UTC-adjusted) and reads as TimestampNTZType; the nanos conf stays
  * because Events.eventsUs also accepts an events file whose column is
  * TIMESTAMP(NANOS). */
object GraftSession {
  /** A `local[cpus]` session; `cpus` defaults to `SPARK_GRAFT_CPUS`, or
    * 4 when unset. */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
