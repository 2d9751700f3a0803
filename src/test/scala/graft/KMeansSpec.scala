package graft

import graft.cluster.KMeans
import graft.Tables
import org.apache.spark.ml.clustering.{KMeans => MLKMeans}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._

class KMeansSpec extends SparkSpec {

  private lazy val e = Tables.embeddings(spark, sf)

  test("every vector is assigned to exactly one centroid") {
    val a = KMeans.assign(e, KMeans.initCentroids(e, 8))
    assert(a.count() === e.count())
    assert(a.select("vec_id").distinct().count() === e.count())
  }

  test("assignment is argmax cosine over all centroids") {
    val cents = KMeans.initCentroids(e, 4)
    val a = KMeans.assign(e, cents)
    // recompute all similarities and check the assigned one is maximal
    val all = e.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        graft.ops.Vector.cosine(graft.ops.Vector.vec(col("embedding")), col("cv")).as("s"))
      .groupBy("vec_id").agg(max("s").as("best"))
    val joined = a.join(all, "vec_id")
      .filter(abs(col("sim") - col("best")) > 1e-12)
    assert(joined.count() === 0)
  }

  test("reference-literal comparator (min similarity) picks the other extreme") {
    val cents = KMeans.initCentroids(e, 4)
    val worst = KMeans.assign(e, cents, maxSim = false)
    val all = e.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        graft.ops.Vector.cosine(graft.ops.Vector.vec(col("embedding")), col("cv")).as("s"))
      .groupBy("vec_id").agg(min("s").as("worst"))
    val bad = worst.join(all, "vec_id")
      .filter(abs(col("sim") - col("worst")) > 1e-12)
    assert(bad.count() === 0)
  }

  test("recomputed centroid equals the elementwise mean of its members") {
    val a = KMeans.assign(e, KMeans.initCentroids(e, 4))
    val rec = KMeans.recompute(a).collect().map(r =>
      r.getAs[Long]("cid") -> r.getAs[scala.collection.Seq[Double]]("cv")).toMap
    val manual = a.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cid", "pos").agg(avg("x").as("m"))
      .collect().groupBy(_.getAs[Long]("cid"))
      .map { case (cid, rows) =>
        cid -> rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("m")).toSeq
      }
    for ((cid, exp) <- manual) {
      val got = rec(cid)
      assert(got.size === exp.size)
      got.zip(exp).foreach { case (g, x) => assert(math.abs(g - x) < 1e-9) }
    }
  }

  test("full loop converges within the iteration cap and covers all points") {
    val r = KMeans.run(spark, e, k = 8, maxIter = 100)
    assert(r.iterations <= 100)
    assert(r.assignments.count() === e.count())
    val sizes = r.assignments.groupBy("cid").count().collect()
    assert(sizes.map(_.getLong(1)).sum === e.count())
  }

  test("full loop also runs with the reference-literal min-similarity comparator") {
    // SURVEY.md Note B: the reference assigns to the LEAST similar
    // centroid; the comparator parameter keeps that behavior reproducible
    val r = KMeans.run(spark, e, k = 4, maxIter = 30, maxSim = false)
    assert(r.iterations <= 30)
    assert(r.assignments.count() === e.count())
  }

  test("purity is within [0, 1]") {
    val a = KMeans.assign(e, KMeans.initCentroids(e, 8))
    val p = KMeans.purity(a).collect().map(_.getAs[Double]("purity"))
    assert(p.forall(x => x >= 0.0 && x <= 1.0))
  }

  test("dedup_semantic_cells: cell-bucketed candidates (no product), counts conserve") {
    val df = SparkEntry.queries("dedup_semantic_cells")(spark, sf)
    val rows = df.collect() // materialize so the AQE final plan is readable
    // the candidate stage must be the cid equi-join, never a corpus²
    // product — the property that makes SemDeDup viable at scale
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup candidate stage degenerated to a product:\n$plan")
    val nTotal = rows.map(_.getLong(1)).sum
    val nKept = rows.map(_.getLong(2)).sum
    assert(nTotal === Tables.embeddings(spark, sf).count(),
      "every vector sits in exactly one cell")
    assert(nKept <= nTotal && nKept > 0)
  }

  test("cost is comparable to MLlib KMeans at the same k") {
    // our loop's mean squared distance to assigned centroid vs MLlib's
    val r = KMeans.run(spark, e, k = 8)
    val withC = r.assignments.join(r.centroids, "cid")
    val ourCost = withC.select(
      graft.ops.Vector.seqSum(
        zip_with(col("v"), col("cv"), (a, b) => (a - b) * (a - b))).as("d2"))
      .agg(avg("d2")).head().getDouble(0)

    val mlData = e.select(col("embedding")).collect()
      .map(r => Tuple1(Vectors.dense(r.getAs[Seq[Float]](0).map(_.toDouble).toArray)))
    val mlDf = spark.createDataFrame(mlData.toSeq).toDF("features")
    val ml = new MLKMeans().setK(8).setSeed(42).setMaxIter(50).fit(mlDf)
    val mlCost = ml.summary.trainingCost / mlDf.count()

    // cosine-assignment k-means won't beat euclidean MLlib on its own
    // objective, but it must be the same order of magnitude
    assert(ourCost > 0 && ourCost < mlCost * 3,
      s"ourCost=$ourCost mlCost=$mlCost")
  }
}
