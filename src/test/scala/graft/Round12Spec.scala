package graft

import org.apache.spark.sql.functions._

/** Round-12 additions: gradient-boosted stumps, and the de-single-
  * partitioned evt_rfm/rel_skyline equivalences. */
class Round12Spec extends SparkSpec {

  test("GBDT stumps: train MSE is monotone non-increasing over the 8 rounds") {
    val rows = SparkEntry.queries("ml_gbdt_stumps")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(6), r.getDouble(7)))
      .sortBy(_._1)
    assert(rows.length == 8)
    rows.zip(rows.drop(1)).foreach { case ((ra, _, ma), (rb, _, mb)) =>
      assert(mb <= ma, s"train_mse must not increase: round $ra=$ma -> $rb=$mb")
    }
    // the first split must actually cut error vs the constant predictor:
    // baseline MSE = variance of price, recomputed here independently
    val li = Tables.lineitem(spark, sf)
      .select(floor(col("l_extendedprice") * 100).cast("long").as("c"))
    val st = li.agg(count(lit(1)).as("n"), sum("c").as("s"),
      sum(col("c").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("c"))
        .as("ssq")).collect()(0)
    val n = st.getLong(0).toDouble
    val mean = st.getLong(1).toDouble / n
    val baseline = (st.getDecimal(2).doubleValue() / n - mean * mean) / 1e8
    assert(rows.head._3 < baseline,
      s"round-1 MSE ${rows.head._3} must beat the variance baseline $baseline")
  }

  test("GBDT stumps: leaf values are the half-shrunk leaf means on the cent grid") {
    val r1 = SparkEntry.queries("ml_gbdt_stumps")(spark, sf)
      .filter(col("round") === 1).collect()(0)
    val q = r1.getInt(1)
    val li = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("int").as("qty"),
        floor(col("l_extendedprice") * 100).cast("long").as("c"))
    val g = li.agg(count(lit(1)), sum("c")).collect()(0)
    val v0 = math.floor(g.getLong(1).toDouble / g.getLong(0).toDouble + 0.5).toLong
    val l = li.filter(col("qty") <= q)
      .agg(count(lit(1)), sum(col("c") - lit(v0))).collect()(0)
    val exp = math.floor(l.getLong(1).toDouble / (2.0 * l.getLong(0).toDouble) + 0.5).toLong
    assert(r1.getLong(4) == exp, s"left leaf ${r1.getLong(4)} != recomputed $exp")
    assert(r1.getLong(2) == l.getLong(0))
  }

  test("NN-descent graph reaches >= 0.9 recall vs the exact KNN graph") {
    val K = 8
    val approx = SparkEntry.queries("ann_nndescent_graph")(spark, sf)
      .select("vec_id", "nbr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact top-K per node, brute force — TEST-ONLY quadratic (the
    // engine itself is plan-asserted never to do this)
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val exact = vecs.flatMap { case (id, v) =>
      vecs.filter(_._1 != id)
        .map { case (j, w) => (j, cos(v, w)) }
        .sortBy { case (j, s2) => (-s2, j) }
        .take(K)
        .map { case (j, _) => (id, j) }
    }.toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"NN-descent recall $recall < 0.9")
  }

  test("rfm two-level ranks reproduce a driver-side ntile replay") {
    val rows = SparkEntry.queries("evt_rfm")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(4), r.getInt(5), r.getInt(6)))
    assert(rows.nonEmpty)
    def ntile5(ranked: Seq[Long]): Map[Long, Int] = {
      val n = ranked.size
      val q = n / 5
      val r = n % 5
      ranked.zipWithIndex.map { case (u, i0) =>
        val i = i0 + 1
        val t = if (i <= r * (q + 1)) (i - 1) / (q + 1) + 1
                else r + (i - r * (q + 1) - 1) / math.max(q, 1) + 1
        u -> t
      }.toMap
    }
    val rScores = ntile5(rows.sortBy(x => (-x._2, x._1)).map(_._1).toSeq)
    val fScores = ntile5(rows.sortBy(x => (x._3, x._1)).map(_._1).toSeq)
    rows.foreach { case (u, _, _, rs, fs, _) =>
      assert(rs == rScores(u), s"r_score mismatch for user $u")
      assert(fs == fScores(u), s"f_score mismatch for user $u")
    }
  }

  test("power analysis reproduces the textbook two-proportion formula") {
    val r = SparkEntry.queries("evt_power_analysis")(spark, sf).collect()(0)
    val (n0, c0, nReq, nCeil) =
      (r.getLong(0), r.getLong(1), r.getDouble(4), r.getLong(5))
    val p1 = c0.toDouble / n0.toDouble
    val p2 = 1.1 * p1
    val pbar = (p1 + p2) / 2.0
    val zA = 1.9599639845400545
    val zB = 0.8416212335729143
    val num = zA * math.sqrt(2.0 * pbar * (1.0 - pbar)) +
      zB * math.sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))
    val exp = (num * num) / ((p2 - p1) * (p2 - p1))
    assert(nReq == exp, s"n_required $nReq != replay $exp")
    assert(nCeil == math.ceil(exp).toLong)
    // a 10% relative lift on a sub-50% base rate needs a real sample:
    assert(nReq > 100.0 && p1 > 0.0 && p1 < 1.0)
  }

  test("skyline block decomposition equals the flat O(n^2) dominance scan") {
    val got = SparkEntry.queries("rel_skyline")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val all = Tables.part(spark, sf)
      .select(col("p_partkey"),
        floor(col("p_retailprice") * 100).cast("long").as("cents"),
        col("p_size").cast("long").as("size"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = all.filter { case (_, c, z) =>
      !all.exists { case (_, c2, z2) =>
        (c2 <= c && z2 >= z) && (c2 < c || z2 > z)
      }
    }.map { case (k, c, z) => (k, c.toDouble / 100.0, z) }.toSet
    assert(got == brute)
  }
}
