package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's only ways into the engine: a session configured as
  * `graft.Bench` configures it, the table loader and the named queries. */
object Engine {
  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def query(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries(name)

  def allQueries: Seq[String] = graft.SparkEntry.queries.keys.toSeq.sorted

  def rowsOnly: Set[String] = allQueries.toSet -- graft.SparkEntry.oracleSql.keySet

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def openTable(spark: SparkSession, dir: String, t: String): DataFrame =
    graft.Tables.table(spark, dir, t)
}
