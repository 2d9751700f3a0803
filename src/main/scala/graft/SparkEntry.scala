package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are assembled from the per-module suites under graft.ops,
  * graft.cluster, etc.; each entry is a named operator from SURVEY.md §2
  * (or a beyond-reference extension) with a DuckDB oracle where SQL can
  * express it.
  */
object SparkEntry {

  private def allQueries: Seq[Q] =
    ops.Relational.queries ++ ops.Vector.queries ++ cluster.KMeans.queries ++
      ops.Text.queries ++ ops.Events.queries ++ ops.Multimodal.queries ++
      graph.PropertyGraph.queries ++ ops.Extended.queries ++
      cluster.Classify.queries ++ ops.Image.queries ++ ops.Recall.queries ++
      ops.Artifacts.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("rel_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Q.queryMap(allQueries)

  /** The queries whose names start with one of the comma-separated
    * `prefixes`; all of them when `prefixes` is None. For local iteration
    * on a subset — the driver always runs the full set. */
  def selected(prefixes: Option[String]): Map[String, (SparkSession, String) => DataFrame] =
    prefixes.fold(queries) { p =>
      val ps = p.split(",")
      queries.filter { case (n, _) => ps.exists(n.startsWith) }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Q.oracleMap(allQueries)
}
