package graft

import graft.cluster.Classify
import org.apache.spark.sql.functions._

/** Classifiers: the MLlib train/eval path, and the naive-Bayes family —
  * its staged scoring frame (built once per session, dir and fold), the
  * fused k-fold frame's per-fold equality with it, and the invariants of
  * the eval queries read from that frame. */
class ClassifySpec extends SparkSpec {
  import ClassifySpec.nbQueries

  test("train/eval runs end-to-end with a deterministic split") {
    val out = Classify.trainEval(spark, sf).collect()
    assert(out.nonEmpty)
    val acc = out.head.getAs[Double]("overall_accuracy")
    assert(acc >= 0.0 && acc <= 1.0)
    // per-label correct counts never exceed totals
    out.foreach { r =>
      assert(r.getAs[Long]("correct") <= r.getAs[Long]("n"))
    }
  }

  test("featurize keeps one row per embedding with a 64-dim vector") {
    val f = Classify.featurize(spark, sf)
    assert(f.count() === Tables.embeddings(spark, sf).count())
    val v = f.head().getAs[org.apache.spark.ml.linalg.Vector]("features")
    assert(v.size === 64)
  }

  test("the fold-0 NB queries share one scoring leaf per (session, dir, fold)") {
    val fresh = spark.newSession() // fresh SessionMemo keys, shared context
    def builds(body: => Unit): Int = {
      val before = Classify.nbBuilds.get
      body
      Classify.nbBuilds.get - before
    }
    def runAll(d: String): Unit =
      nbQueries.foreach(q => SparkEntry.queries(q)(fresh, d).collect())
    assert(builds(runAll(sf)) == 1, "seven queries, one build")
    assert(builds(runAll(sf)) == 0, "a second pass reads the leaf")
    assert(builds(Classify.nbNlls(fresh, sf, 1)) == 1, "another fold, one build")
    val sf001 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    assert(builds(runAll(sf001)) == 1, "another dir, one build")
  }

  test("the fused k-fold frame equals nbNlls row for row on every fold") {
    val fused = Classify.kfoldScored(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "true_lang", "lang", "nll").orderBy("doc_id", "lang")
        .collect().map(r => (r.get(0), r.getString(1), r.getString(2),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSeq
    (0 until 5).foreach { f =>
      val got = rows(fused.filter(col("res") === f))
      val want = rows(Classify.nbNlls(spark, sf, f))
      assert(want.nonEmpty, s"fold $f scores no document")
      assert(got == want, s"fold $f: fused rows differ from nbNlls")
    }
  }

  test("reliability bins: positive rate falls as the score bin rises") {
    val rows = SparkEntry.queries("ml_reliability_bins")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    // bins tile the test set
    // lower NLL = more 'en'-like. Individual bins hold 5-13 docs at
    // sf0.001, so per-bin rates are noisy — the robust claim is the
    // halves: the bottom-half score range must be decisively more
    // positive than the top half
    val (lo, hi) = rows.partition(_._1 < 5)
    val loRate = lo.map(_._3).sum.toDouble / lo.map(_._2).sum
    val hiRate = hi.map(_._3).sum.toDouble / hi.map(_._2).sum
    assert(loRate > hiRate,
      s"bottom-half rate $loRate must exceed top-half rate $hiRate")
    rows.zip(rows.drop(1)).foreach { case (a, b) =>
      assert(a._5 < b._5, s"mean_nll must increase with bin: $a vs $b")
    }
    rows.foreach { case (_, n, np, rate, _) =>
      assert(np <= n && rate == np.toDouble / n.toDouble)
    }
  }

  test("PR curve: recall monotone to 1.0, precision ties to the cumulative ratio") {
    val rows = SparkEntry.queries("ml_pr_curve")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length == 10)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 < b._2 && a._3 <= b._3, "cumulative counts must grow")
      assert(a._5 <= b._5, "recall must be monotone in the cut")
    }
    assert(rows.last._5 == 1.0, "the loosest cut must recall every positive")
    rows.foreach { case (_, n, tp, prec, _) =>
      assert(prec == tp.toDouble / n.toDouble)
    }
  }

  test("isotonic calibration equals a driver PAV pooling replay and is antitonic") {
    val rows = SparkEntry.queries("ml_isotonic_calibration")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    // pool-adjacent-violators, non-increasing direction: merge whenever a
    // later block's mean EXCEEDS the previous block's (a violation)
    var blocks = List.empty[(Long, Long)] // (n, np), head = latest
    rows.foreach { case (_, n, np, _) =>
      blocks = (n, np) :: blocks
      def mean(b: (Long, Long)) = b._2.toDouble / b._1.toDouble
      while (blocks.lengthCompare(2) >= 0 && mean(blocks.head) > mean(blocks(1))) {
        val a = blocks.head; val b = blocks(1)
        blocks = (a._1 + b._1, a._2 + b._2) :: blocks.drop(2)
      }
    }
    // expand block means back onto bins: each block covers consecutive bins
    // whose n-sum equals the block n — replay by walking bins
    val fittedByBin = {
      val out = Array.fill(rows.length)(0.0)
      var bi = 0
      blocks.reverse.foreach { case (bn, bnp) =>
        var acc = 0L
        val m = bnp.toDouble / bn.toDouble
        while (acc < bn) { acc += rows(bi)._2; out(bi) = m; bi += 1 }
        assert(acc == bn, "block boundary must align with bin boundaries")
      }
      out
    }
    rows.zipWithIndex.foreach { case ((bin, _, _, fitted), i) =>
      assert(fitted == fittedByBin(i),
        s"bin $bin: minimax fit $fitted != PAV replay ${fittedByBin(i)}")
    }
    rows.map(_._4).zip(rows.map(_._4).drop(1)).foreach { case (a, b) =>
      assert(b <= a, "fitted curve must be non-increasing")
    }
  }

  test("KS statistic equals a driver replay over the raw quantized scores") {
    val r = SparkEntry.queries("ml_ks_test")(spark, sf).collect()(0)
    val (nPos, nNeg, thr, ksNum, ksStat) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))
    val en = graft.cluster.Classify.nbNlls(spark, sf)
      .filter(col("lang") === "en")
      .select(floor(col("nll") * 1048576.0).cast("long").as("s"),
        (col("true_lang") === "en").cast("long").as("p"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val np = en.count(_._2 == 1L).toLong
    val nn = en.length - np
    assert(nPos == np && nNeg == nn)
    var cp = 0L; var cn = 0L; var best = BigInt(0); var bestS = Long.MaxValue
    en.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (s2, xs) =>
      cp += xs.count(_._2 == 1L); cn += xs.count(_._2 == 0L)
      val d2 = (BigInt(cp) * nn - BigInt(cn) * np).abs
      if (d2 > best || (d2 == best && s2 < bestS)) { best = d2; bestS = s2 }
    }
    assert(ksNum == best.toLong)
    assert(thr == bestS.toDouble / 1048576.0)
    assert(ksStat == best.toDouble / (np.toDouble * nn.toDouble))
    assert(ksStat >= 0.0 && ksStat <= 1.0)
  }
}

object ClassifySpec {
  /** The queries that read the fold-0 [[Classify.nbNlls]] leaf. */
  val nbQueries = Seq("ml_naive_bayes", "ml_confusion_prf", "ml_auc",
    "ml_reliability_bins", "ml_pr_curve", "ml_isotonic_calibration",
    "ml_ks_test")
}
