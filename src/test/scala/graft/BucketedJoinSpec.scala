package graft

import org.apache.spark.sql.functions._

/** Co-located (bucketed) join — the 100 TB shuffle-elimination path: two
  * tables bucketed on the join key join with zero Exchange. This is the
  * layout the engine prescribes for the big fact-fact joins (SURVEY.md
  * §4); asserted here because it only shows up in the plan, never in
  * results. */
class BucketedJoinSpec extends SparkSpec {

  test("join of two tables bucketed on the key plans without a shuffle") {
    val wh = tempDir("graft_bucketed")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    Tables.lineitem(spark, sf).write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").mode("overwrite").saveAsTable("li_b")
    Tables.orders(spark, sf).write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord_b").mode("overwrite").saveAsTable("ord_b")

    // hint("merge") pins sort-merge so the bucket layout (not broadcast,
    // which tiny test tables would otherwise trigger) is what's asserted
    val joined = spark.table("li_b").hint("merge")
      .join(spark.table("ord_b").hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(sum("l_quantity"))

    val plan = joined.queryExecution.executedPlan
    val unwrapped = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case o => o
    }
    // the join itself must not shuffle; only the final aggregation may
    val joins = unwrapped.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(joins.nonEmpty, s"expected sort-merge join over buckets:\n$unwrapped")
    val shuffleUnderJoin = joins.head.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffleUnderJoin.isEmpty,
      s"bucketed join must not shuffle its inputs:\n$unwrapped")

    // and it returns the same result as the unbucketed join
    val expect = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(spark.table("li_b")
      .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      .count() === expect)
  }
}
