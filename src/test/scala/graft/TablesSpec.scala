package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{AnalysisException, DataFrame}

/** The harness-table loader: one schema pin per (session, table path),
  * a fresh scan per call. Every check runs on its own copy of the sf0.001
  * tables, so the pins it makes and counts are its own. */
class TablesSpec extends SparkSpec {
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A fresh directory holding copies of the named sf0.001 tables. */
  private def copyOf(tables: Seq[String]): String = {
    val dir = tempDir("graft_tables")
    tables.foreach(copyInto(dir, _))
    dir
  }

  private def copyInto(dir: String, t: String): Unit =
    Files.copy(Paths.get(sf, s"$t.parquet"), Paths.get(dir, s"$t.parquet"))

  test("the pinned schema equals the inferred schema for every table") {
    val dir = copyOf(names)
    for (t <- names) {
      val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
      assert(Tables.table(spark, dir, t).schema === inferred, s"$t: schema differs")
      // the second read uses the pin itself
      assert(Tables.table(spark, dir, t).schema === inferred, s"$t: pinned schema differs")
    }
    // events.ts (a parquet timestamp, see Events.eventsUs) reads the same
    // values through the pin as through inference
    val pinnedTs = Tables.events(spark, dir).select("ts").collect().map(_.get(0).toString).sorted
    val inferredTs = spark.read.parquet(s"$dir/events.parquet").select("ts")
      .collect().map(_.get(0).toString).sorted
    assert(pinnedTs.nonEmpty && pinnedTs.sameElements(inferredTs))
  }

  test("a repeat read of a table in the same session starts no job") {
    val dir = copyOf(Seq("orders"))
    val first = jobsInGroup(Tables.orders(spark, dir))
    val second = jobsInGroup(Tables.orders(spark, dir))
    assert(first >= 1, s"the first read started $first jobs; schema inference should start one")
    assert(second === 0, s"a repeat read started $second jobs")
  }

  test("two spellings of one directory share one pin") {
    val dir = copyOf(Seq("part"))
    assert(jobsInGroup(Tables.part(spark, dir)) >= 1)
    assert(jobsInGroup(Tables.part(spark, dir + "/")) === 0,
      s"`$dir/` pinned the schema a second time")
  }

  test("a self-join of two reads of one table resolves") {
    // pairs of lines within one order: a shape that Spark's ambiguous
    // self-join check rejects when both sides share expression IDs
    def pairs(a: DataFrame, b0: DataFrame): Long = {
      val b = b0.select("l_orderkey", "l_linenumber")
      a.join(b, a("l_orderkey") === b("l_orderkey") && a("l_linenumber") < b("l_linenumber"))
        .count()
    }
    val dir = copyOf(Seq("lineitem"))
    val got = pairs(Tables.lineitem(spark, dir), Tables.lineitem(spark, dir))
    val raw = s"$dir/lineitem.parquet"
    assert(got === pairs(spark.read.parquet(raw), spark.read.parquet(raw)))
    assert(got > 0, "orders with several lines make pairs")
  }

  test("a failed read pins nothing") {
    val dir = copyOf(Nil)
    val e = intercept[AnalysisException](Tables.supplier(spark, dir))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
    copyInto(dir, "supplier")
    val got = Tables.supplier(spark, dir)
    assert(got.schema === spark.read.parquet(s"$dir/supplier.parquet").schema)
    assert(got.count() === spark.read.parquet(s"$sf/supplier.parquet").count())
  }
}
