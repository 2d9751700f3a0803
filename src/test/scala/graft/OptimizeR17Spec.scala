package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, GramAgg}

/** Round-17 optimization pins: each test proves an optimized operator's
  * internals compute exactly what the shape it replaced computed. */
class OptimizeR17Spec extends SparkSpec {

  test("GramAgg fuses count/sums/gram bit-exactly vs the relational three-pass shape") {
    import graft.ops.Vector.vec
    val lvls = transform(sequence(lit(0), lit(63)), i =>
      least(greatest(
        floor((element_at(col("ve"), (i + 1).cast("int")) + 0.5) * 256)
          .cast("long"), lit(0L)), lit(255L)))
    val lv = Tables.embeddings(spark, sf)
      .select(vec(col("embedding")).as("ve")).select(lvls.as("lvl"))

    // fused single pass
    val m = lv.agg(Bridge.column(
      GramAgg(Bridge.expression(col("lvl")), 64).toAggregateExpression())
      .as("m")).head().getSeq[Long](0)

    // the replaced relational three-pass shape
    val n = lv.count()
    val sums = lv.select(posexplode(col("lvl")).as(Seq("i", "x")))
      .groupBy("i").agg(sum(col("x")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val gram = lv.select(posexplode(transform(sequence(lit(0), lit(4095)), k =>
        element_at(col("lvl"), (k / 64).cast("int") + 1) *
          element_at(col("lvl"), (k % 64) + 1))).as(Seq("k", "p")))
      .groupBy("k").agg(sum(col("p")).as("g"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    assert(m(0) == n, "count slot")
    (0 until 64).foreach(i => assert(m(1 + i) == sums(i), s"sum slot $i"))
    (0 until 4096).foreach(k => assert(m(65 + k) == gram(k), s"gram slot $k"))
  }
}
