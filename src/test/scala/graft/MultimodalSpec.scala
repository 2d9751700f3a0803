package graft

import graft.ops.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  test("decode stub features equal the first 8 payload bytes") {
    val rows = Multimodal.decodeFeatures(spark, sf).orderBy("media_id").limit(5)
      .collect()
    val texts = Tables.documents(spark, sf).orderBy("doc_id").limit(5)
      .select("text").collect().map(_.getString(0))
    rows.zip(texts).foreach { case (r, t) =>
      val feats = r.getAs[scala.collection.Seq[Double]]("features").toSeq
      val expect = t.getBytes("UTF-8").take(8).map(b => (b & 0xff).toDouble).toSeq
      assert(feats === expect)
      assert(r.getAs[Long]("n_bytes") === t.getBytes("UTF-8").length.toLong)
    }
  }

  test("metadata-only scan prunes the payload column from the parquet read") {
    val q = Multimodal.media(spark, sf)
      .select(col("media_id"), col("meta.origin"))
    val scan = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(!scan.contains("content"),
      "payload bytes must not be read for metadata-only queries")
  }

  test("frame sampling emits 4 frames per media row") {
    val n = Tables.documents(spark, sf).count()
    val frames = SparkEntry.queries("mm_frame_sample")(spark, sf)
    assert(frames.count() === 4 * n)
  }

  test("real JPEG decode: distributed stats equal a local decode of the same file") {
    val files = jpegCorpus()
    val rows = SparkEntry.queries("mm_decode_real")(spark, sf).collect()
    assert(rows.length === files.length)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pixels") === 1024L)
      val (mn, mx) = (r.getAs[Double]("vmin"), r.getAs[Double]("vmax"))
      assert(mn >= 0.0 && mx <= 255.0 && mn <= mx)
      assert(r.getAs[Double]("std") > 0.0, "a real photo has non-zero variance")
    }
    // the distributed path must produce EXACTLY the local kernel's stats
    val f = files.head
    val local = Multimodal.imageStats(f.getName,
      Multimodal.decodeJpegGray32(java.nio.file.Files.readAllBytes(f.toPath)))
    val got = rows.find(_.getAs[String]("file") == f.getName).get
    assert(got.getAs[Double]("mean") === local.mean)
    assert(got.getAs[Double]("std") === local.std)
    assert(got.getAs[Double]("median") === local.median)
    assert(got.getAs[Double]("vmin") === local.vmin)
    assert(got.getAs[Double]("vmax") === local.vmax)
  }
}
