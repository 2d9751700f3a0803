package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-10 surface additions — CEP pattern
  * matching, GROUPING SETS, moments-based OLS, scene-change detection,
  * bigram surprisal, CBO column stats, windowed heavy hitters,
  * silhouette, naive Bayes (+ confusion/AUC/k-fold eval), VAD, neighbor
  * sampling, skyline, butterflies, Borůvka MST (+ single-linkage),
  * eccentricity, Zipf fit, SCD2 lookup, sequence mining, CUSUM,
  * label-noise audit, shot stats, and the IVF nprobe sweep. Each test
  * checks the Spark result against an independently derived ground
  * truth (driver-side replay or an algebraic identity), not against
  * the query's own plumbing.
  */
class Round10Spec extends SparkSpec {

  test("evt_pattern_match finds exactly the consecutive view→click→purchase runs") {
    val got = SparkEntry.queries("evt_pattern_match")(spark, sf).collect()
    // independent replay: scan each user's ordered stream on the driver
    val ev = ops.Events.eventsUs(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    val want = ev.flatMap { case (_, rows) =>
      val s = rows.sortBy(r => (r._2, r._3)).toList
      s.sliding(3).collect {
        case Seq(a, b, c) if a._4 == "view" && b._4 == "click" && c._4 == "purchase" =>
          (a._1, a._3, c._3)
      }
    }.toSet
    assert(got.nonEmpty, "no pattern matches at sf0.001 — fixture too small")
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want)
    assert(got.forall(_.getLong(3) >= 0), "span_us must be non-negative")
  }

  test("rel_grouping_sets levels are mutually consistent") {
    val rows = SparkEntry.queries("rel_grouping_sets")(spark, sf).collect()
    val total = Tables.table(spark, sf, "orders").count()
    val grand = rows.filter(_.getLong(4) == 3L)
    assert(grand.length == 1 && grand.head.getLong(2) == total)
    // (status) level partitions the whole table; detail level partitions each status
    val statusLevel = rows.filter(_.getLong(4) == 1L)
    assert(statusLevel.map(_.getLong(2)).sum == total)
    val detail = rows.filter(_.getLong(4) == 0L)
    val byStatus = detail.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum)
    statusLevel.foreach { r =>
      assert(byStatus(r.getString(0)) == r.getLong(2),
        s"detail rows for ${r.getString(0)} don't sum to the status subtotal")
    }
    // sum_price is additive across levels too (exact decimal → double)
    val grandPrice = grand.head.getDouble(3)
    assert(math.abs(statusLevel.map(_.getDouble(3)).sum - grandPrice) < 1e-6)
  }

  test("ml_linreg matches covar_pop/var_pop closed form and yields sane R²") {
    val got = SparkEntry.queries("ml_linreg")(spark, sf).collect()
    assert(got.length == 3)
    val check = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("rf"),
        col("l_quantity").as("x"),
        floor(col("l_extendedprice")).as("y"))
      .groupBy("rf")
      .agg(covar_pop(col("x"), col("y")).as("cov"), var_pop(col("x")).as("vx"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1) / r.getDouble(2))).toMap
    got.foreach { r =>
      val (rf, slope, r2) = (r.getString(0), r.getDouble(2), r.getDouble(4))
      assert(math.abs(slope - check(rf)) / math.abs(check(rf)) < 1e-9,
        s"$rf slope $slope vs covar/var ${check(rf)}")
      assert(r2 > 0.0 && r2 <= 1.0, s"$rf R²=$r2 out of range")
    }
  }

  test("mm_scene_change frames tile each document exactly; cuts agree with deltas") {
    val rows = SparkEntry.queries("mm_scene_change")(spark, sf).collect()
    val nChars = Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.keySet == nChars.keySet)
    byDoc.foreach { case (id, fr) =>
      assert(fr.map(_.getLong(2)).sum == nChars(id), s"doc $id frame sizes don't tile text")
      val frames = fr.map(_.getLong(1)).sorted
      assert(frames.sameElements(frames.indices.map(_.toLong)), "frame ids must be dense from 0")
      fr.foreach { r =>
        val (delta, cut) = (if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5))
        assert(cut == (if (delta.exists(_ > 1500L)) 1L else 0L))
      }
      assert(fr.find(_.getLong(1) == 0L).get.isNullAt(4), "first frame has no delta")
    }
  }

  test("text_bigram_surprisal counts n-1 bigrams per doc and is non-negative") {
    val rows = SparkEntry.queries("text_bigram_surprisal")(spark, sf).collect()
    val nToks = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " "))).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, nb, sur, mean) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(nb == nToks(id) - 1, s"doc $id: $nb bigrams for ${nToks(id)} tokens")
      assert(sur >= 0.0 && mean >= 0.0)
      assert(math.abs(mean * nb - sur) < 1e-9)
    }
    // a bigram that always follows its context costs ~0; the corpus-wide
    // mean must be strictly positive (vocab is small but not degenerate)
    assert(rows.map(_.getDouble(3)).max > 0.1)
  }

  test("dedup_setsim_prefix is lossless: equals brute-force all-pairs Jaccard ≥ 0.5") {
    val got = SparkEntry.queries("dedup_setsim_prefix")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // independent driver-side brute force over EVERY pair of 5-gram
    // shingle sets (the op's own token definition, replayed from text)
    val P = 4294967291L
    def strHash(w: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % P
    }
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val wh = r.getString(1).split(" ", -1).map(strHash)
        val grams =
          if (wh.length >= 5)
            (0 to wh.length - 5).map(i =>
              wh.slice(i, i + 5).foldLeft(0L)((a, x) => (a * 1000003L + x) % P))
          else Seq(wh.foldLeft(0L)((a, x) => (a * 1000003L + x) % P))
        r.getLong(0) -> grams.toSet
      }.sortBy(_._1)
    val want = (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      (ida, sa) = sets(i); (idb, sb) = sets(j)
      inter = (sa & sb).size
      jac = inter.toDouble / (sa.size + sb.size - inter)
      if jac >= 0.5
    } yield (ida, idb, jac)).toSet
    assert(want.nonEmpty, "fixture must contain 5-gram near-dup pairs")
    assert(got == want, s"prefix filter must miss nothing: got ${got.size}, want ${want.size}")
  }

  test("text_dup_span_coverage matches a driver-side rolling-hash replay") {
    val P = 4294967291L
    def strHash(w: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % P
    }
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).map(strHash))
    val spanOf = docs.toMap.view.mapValues { wh =>
      if (wh.length < 8) Array.empty[Long]
      else (0 to wh.length - 8).map(i =>
        wh.slice(i, i + 8).foldLeft(0L)((a, x) => (a * 1000003L + x) % P)).toArray
    }.toMap
    val freq = spanOf.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val got = SparkEntry.queries("text_dup_span_coverage")(spark, sf).collect()
    assert(got.length == docs.length)
    got.foreach { r =>
      val (id, n, dup, frac) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val spans = spanOf(id)
      assert(n == spans.length.toLong, s"doc $id span count")
      val wantDup = spans.count(h => freq(h) > 1).toLong
      assert(dup == wantDup, s"doc $id dup spans")
      assert(frac == (if (n > 0) dup.toDouble / n else 0.0))
    }
    // the signal separates template families from unique docs
    assert(got.count(_.getDouble(3) > 0.5) > 0)
    assert(got.count(_.getDouble(3) == 0.0) > got.length / 2)
  }

  test("vec_pca_power tracks the true top principal component") {
    val got = SparkEntry.queries("vec_pca_power")(spark, sf).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).sortBy(_._1).map(_._2.toDouble)
    assert(got.length == 64)
    assert(got.map(math.abs).max == (1L << 20).toDouble,
      "L-infinity renorm pins the largest component to 2^20")
    // ground truth: double-precision power iteration (500 rounds) on the
    // exact centered covariance of the same uint8 quantization
    val lv = Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray.map(x =>
        math.max(0L, math.min(255L, math.floor((x + 0.5) * 256).toLong)).toDouble))
    val n = lv.length.toDouble
    val mean = Array.tabulate(64)(i => lv.map(_(i)).sum / n)
    val cov = Array.tabulate(64, 64)((i, j) =>
      lv.map(r => (r(i) - mean(i)) * (r(j) - mean(j))).sum)
    var w = Array.fill(64)(1.0)
    for (_ <- 1 to 500) {
      val u = Array.tabulate(64)(i => (0 until 64).map(j => cov(i)(j) * w(j)).sum)
      val norm = math.sqrt(u.map(x => x * x).sum)
      w = u.map(_ / norm)
    }
    val dot = got.zip(w).map { case (a, b) => a * b }.sum
    val cosAngle = math.abs(dot) /
      (math.sqrt(got.map(x => x * x).sum) * math.sqrt(w.map(x => x * x).sum))
    assert(cosAngle > 0.99,
      f"fixed-point PC must align with the float eigensolve (cos = $cosAngle%.4f)")
  }

  test("graph_link_scores matches a driver-side wedge replay; AA fixed point is knife-edge-free") {
    val got = SparkEntry.queries("graph_link_scores")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // independent replay from raw lineitem
    val e = Tables.lineitem(spark, sf)
      .select(col("l_suppkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byPart = e.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    val acc = scala.collection.mutable.Map[(Long, Long), (Long, Long, Long)]()
    for ((_, sups) <- byPart; i <- sups.indices; j <- (i + 1) until sups.length) {
      val dp = sups.length.toLong
      val aa = math.floor(1.0e7 / math.log(dp.toDouble)).toLong
      val k = (sups(i), sups(j))
      val (c0, r0, a0) = acc.getOrElse(k, (0L, 0L, 0L))
      acc(k) = (c0 + 1, r0 + 1000000000000L / dp, a0 + aa)
    }
    // every emitted top-30 row must match the replay exactly
    got.foreach { case (k, v) =>
      assert(acc(k) == v, s"pair $k: got $v, replay ${acc(k)}")
    }
    // and the emitted rows must BE the replay's top-30 under the same order
    val want = acc.toSeq.sortBy { case ((a, b), (_, ra, _)) => (-ra, a, b) }.take(30).toMap
    assert(got.keySet == want.keySet)
    // knife-edge sweep: no observed part degree puts 1e7/ln(d) near a
    // floor boundary (the cross-engine ulp budget is ~1e-9 here)
    byPart.values.map(_.length).toSet.filter(_ >= 2).foreach { dInt =>
      val v = 1.0e7 / math.log(dInt.toDouble)
      val frac = v - math.floor(v)
      assert(frac > 1e-6 && frac < 1 - 1e-6,
        s"degree $dInt puts the AA term within 1e-6 of a floor boundary")
    }
  }

  test("ann_range_search returns exactly the τ-ball and no corpus cosine sits on τ") {
    val rows = SparkEntry.queries("ann_range_search")(spark, sf).collect()
    val sims = rows.map(_.getDouble(1))
    assert(rows.nonEmpty && sims.forall(_ >= 0.2))
    // margin: no corpus similarity (in or out of the ball) within 1e-9
    // of τ, so the >= cut cannot flip on a cross-engine ulp
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val q = e(0L)
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val all = e.collect { case (id, v) if id != 0L => id -> cos(v, q) }
    all.values.foreach(sim => assert(math.abs(sim - 0.2) > 1e-9,
      "a corpus cosine sits on the τ knife edge"))
    assert(rows.map(_.getLong(0)).toSet == all.collect {
      case (id, sim) if sim >= 0.2 => id
    }.toSet, "range result is not exactly the τ-ball")
  }

  test("evt_attribution credits every purchase twice and totals tie out") {
    val rows = SparkEntry.queries("evt_attribution")(spark, sf).collect()
    val purchases = ops.Events.eventsUs(spark, sf)
      .filter(col("event_type") === "purchase")
    val nPurch = purchases.count()
    val exactTotal = purchases
      .agg(sum(floor(col("value") * 1e6).cast("long"))).head().getLong(0) / 1e6
    assert(rows.map(_.getLong(1)).sum == nPurch, "first-touch credits ≠ purchases")
    assert(rows.map(_.getLong(3)).sum == nPurch, "last-touch credits ≠ purchases")
    // revenue is conserved across channels in both attributions (exact
    // micro-unit arithmetic → exact equality after one shared division)
    assert(math.abs(rows.map(_.getDouble(2)).sum - exactTotal) < 1e-6)
    assert(math.abs(rows.map(_.getDouble(4)).sum - exactTotal) < 1e-6)
  }

  test("rel_analyze_stats boundaries are the true order statistics") {
    val rows = SparkEntry.queries("rel_analyze_stats")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("l_extendedprice", "l_quantity"))
    val li = Tables.lineitem(spark, sf)
      .select(col("l_extendedprice").cast("double"), col("l_quantity").cast("double"))
      .collect()
    val cols = Map(
      "l_extendedprice" -> li.map(_.getDouble(0)).sorted,
      "l_quantity" -> li.map(_.getDouble(1)).sorted)
    rows.foreach { r =>
      val xs = cols(r.getString(0))
      assert(r.getLong(1) == xs.length)
      assert(r.getLong(2) == xs.distinct.length)
      val ds = (0 to 8).map(j => r.getDouble(3 + j))
      val want = (0 to 8).map(i => xs((i * (xs.length - 1) / 8).toInt))
      assert(ds == want, s"${r.getString(0)}: boundaries $ds != replay $want")
      assert(ds.head == xs.head && ds.last == xs.last)
      assert(ds.sliding(2).forall(p => p(0) <= p(1)), "boundaries not monotone")
    }
  }

  test("evt_window_topk emits contiguous ranks that agree with a driver replay") {
    val rows = SparkEntry.queries("evt_window_topk")(spark, sf).collect()
    val byW = rows.groupBy(_.get(0).toString)
    assert(byW.nonEmpty)
    byW.values.foreach { g =>
      assert(g.map(_.getInt(1)).sorted.toSeq == (1 to g.length), "ranks not contiguous from 1")
      assert(g.length <= 3)
    }
    // replay top-1 per window from raw events with the same exact sums
    val raw = ops.Events.eventsUs(spark, sf)
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("su"))
      .collect()
      .groupBy(_.getStruct(0).getTimestamp(0).toString)
      .view.mapValues(_.map(r => (r.getString(1), r.getLong(2)))
        .minBy { case (t, s) => (-s, t) })
    rows.filter(_.getInt(1) == 1).foreach { r =>
      val k = r.getTimestamp(0).toString
      assert(raw(k)._1 == r.getString(2),
        s"window $k: top-1 ${r.getString(2)} != replay ${raw(k)._1}")
    }
  }

  test("kmeans_silhouette matches a driver-side replay and stays in [0, 1]") {
    val rows = SparkEntry.queries("kmeans_silhouette")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cents = cluster.KMeans.initCentroids(Tables.embeddings(spark, sf), 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val acc = scala.collection.mutable.Map[Long, (Long, Double)]()
    e.foreach { case (_, v) =>
      val sims = cents.map { case (cid, cv) => (cos(v, cv), cid) }
      val best = sims.minBy { case (s, c) => (-s, c) }
      val second = sims.filter(_ != best).minBy { case (s, c) => (-s, c) }
      val (a, b) = (1.0 - best._1, 1.0 - second._1)
      val sq = if (b > 0.0) math.floor((1.0 - a / b) * 1048576.0) / 1048576.0 else 0.0
      val (n0, s0) = acc.getOrElse(best._2, (0L, 0.0))
      acc(best._2) = (n0 + 1, s0 + sq)
    }
    assert(rows.keySet == acc.keySet)
    rows.foreach { case (cid, (n, ms)) =>
      val (wn, ws) = acc(cid)
      assert(n == wn, s"cluster $cid size $n != replay $wn")
      assert(ms == ws / wn, s"cluster $cid mean $ms != replay ${ws / wn}")
      assert(ms >= 0.0 && ms <= 1.0)
    }
  }

  test("ml_naive_bayes scores every test doc; weight ratios are knife-edge-free") {
    val rows = SparkEntry.queries("ml_naive_bayes")(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text"),
        (Tables.detHash(col("doc_id")) % 5 === 0).as("isTest")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3)))
    val nTest = docs.count(_._4)
    assert(rows.length == nTest, "one prediction row per test doc")
    assert(rows.forall(_.getDouble(3) > 0.0), "NLL must be positive")
    // knife-edge sweep over every observed smoothing ratio AND prior
    val train = docs.filterNot(_._4)
    val toks = train.flatMap(t => t._3.split(" ", -1).map(t._2 -> _))
    val byLang = toks.groupBy(_._1)
    val v = toks.map(_._2).distinct.length
    def sweep(p: Double): Unit = {
      val x = -math.log(p) * 1048576.0
      val frac = x - math.floor(x)
      assert(frac > 1e-6 && frac < 1 - 1e-6, s"ratio $p is knife-edged: frac $frac")
    }
    byLang.foreach { case (lang, ts) =>
      val tot = ts.length
      sweep(train.count(_._2 == lang).toDouble / train.length) // prior
      val counts = ts.groupBy(_._2).view.mapValues(_.length).toMap
      // every count that can appear in a weight: observed counts and 0
      (counts.values.toSet + 0).foreach(c => sweep((c + 1).toDouble / (tot + v)))
    }
    // predictions must come from the class set
    val langs = docs.map(_._2).toSet
    assert(rows.forall(r => langs.contains(r.getString(2))))
  }

  test("mm_audio_vad segments are exactly the runs of gated windows") {
    val rows = SparkEntry.queries("mm_audio_vad")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val media = ops.Multimodal.media(spark, sf)
      .select(col("media_id"), col("content")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    val want = scala.collection.mutable.Map[(Long, Int), (Long, Long, Long, Long)]()
    media.foreach { case (id, bytes) =>
      val active = ops.Multimodal.pcmFrames(id, bytes, 256)
        .filter(f => f.sumsq >= 900L * f.n_samples)
      var seg = 0
      var i = 0
      val arr = active.toArray
      while (i < arr.length) {
        var j = i
        while (j + 1 < arr.length && arr(j + 1).win_id == arr(j).win_id + 1) j += 1
        seg += 1
        want((id, seg)) = (arr(i).win_id, arr(j).win_id, (j - i + 1).toLong,
          arr.slice(i, j + 1).map(_.sumsq).sum)
        i = j + 1
      }
    }
    assert(rows == want.toMap, "VAD segments differ from the driver replay")
    assert(rows.nonEmpty)
  }

  test("rel_skyline equals the brute-force dominance frontier") {
    val got = SparkEntry.queries("rel_skyline")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val parts = Tables.part(spark, sf)
      .select(col("p_partkey"),
        floor(col("p_retailprice") * 100).cast("long").as("cents"),
        col("p_size").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def dominates(a: (Long, Long, Long), b: (Long, Long, Long)) =
      a._2 <= b._2 && a._3 >= b._3 && (a._2 < b._2 || a._3 > b._3)
    val want = parts.filter(p => !parts.exists(q => dominates(q, p)))
      .map(p => (p._1, p._2.toDouble / 100.0, p._3)).sortBy(_._1)
    assert(got.toSeq == want.toSeq, "frontier differs from the O(n²) replay")
    assert(got.nonEmpty)
    // on a min-price/max-size frontier, size rises strictly with price
    // (equal-price survivors are exact ties)
    val byPrice = got.sortBy(r => (r._2, r._3))
    assert(byPrice.sliding(2).forall {
      case Array(a, b) =>
        if (a._2 == b._2) a._3 == b._3 else a._3 < b._3
      case _ => true
    })
  }

  test("graph_butterflies matches the C(c,2) identity over pair wedge counts") {
    val got = SparkEntry.queries("graph_butterflies")(spark, sf).collect()
    assert(got.nonEmpty)
    val es = graph.PropertyGraph.supplierPartGraph(spark, sf).edges
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bySupp = es.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val supps = bySupp.keys.toSeq.sorted
    val per = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      i <- supps.indices; j <- i + 1 until supps.length
      c = (bySupp(supps(i)) & bySupp(supps(j))).size.toLong
      if c >= 2
    } {
      val bf = c * (c - 1) / 2
      per(supps(i)) += bf
      per(supps(j)) += bf
    }
    val totalBf = per.values.sum / 2
    val wantTop = per.toSeq.sortBy { case (id, b) => (-b, id) }.take(25)
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq == wantTop)
    got.foreach { r =>
      assert(r.getLong(2) == totalBf, "global butterfly total differs")
      assert(r.getDouble(3) == r.getLong(1).toDouble / totalBf.toDouble)
    }
  }

  test("ml_confusion_prf cells tie out against the prediction frame") {
    val rows = SparkEntry.queries("ml_confusion_prf")(spark, sf).collect()
    val preds = cluster.Classify.nbPredictions(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2)))
    assert(rows.nonEmpty && preds.nonEmpty)
    rows.foreach { r =>
      val (lang, tp, fp, fn, nTrue) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(tp == preds.count(p => p._1 == lang && p._2 == lang))
      assert(fp == preds.count(p => p._1 != lang && p._2 == lang))
      assert(fn == preds.count(p => p._1 == lang && p._2 != lang))
      assert(nTrue == tp + fn)
      val prec = r.getDouble(5); val rec = r.getDouble(6); val f1 = r.getDouble(7)
      if (tp + fp > 0) assert(prec == tp.toDouble / (tp + fp)) else assert(prec == 0.0)
      if (tp + fn > 0) assert(rec == tp.toDouble / (tp + fn)) else assert(rec == 0.0)
      if (2 * tp + fp + fn > 0) assert(f1 == 2.0 * tp / (2 * tp + fp + fn))
    }
    // every prediction lands in exactly one diagonal or off-diagonal cell
    assert(rows.map(_.getLong(4)).sum == preds.length)
  }

  test("ml_auc equals the O(n²) pairwise Mann–Whitney probability") {
    val r = SparkEntry.queries("ml_auc")(spark, sf).collect()
    assert(r.length == 1)
    val (nPos, nNeg, u2, auc) =
      (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getDouble(3))
    val scored = cluster.Classify.nbNlls(spark, sf)
      .filter(col("lang") === "en")
      .select((col("nll") * 1048576.0).cast("long"),
        (col("true_lang") === "en")).collect()
      .map(row => (row.getLong(0), row.getBoolean(1)))
    val pos = scored.filter(_._2).map(_._1)
    val neg = scored.filterNot(_._2).map(_._1)
    assert(nPos == pos.length && nNeg == neg.length)
    // pairwise: positive wins when its NLL is LOWER; ties count 1/2.
    // Work in doubled units so the comparison with u2 is integer-exact.
    val wins2 = (for (p <- pos; n <- neg)
      yield if (p < n) 2L else if (p == n) 1L else 0L).sum
    assert(u2 == wins2, s"rank-sum u2 $u2 != pairwise $wins2")
    assert(auc == wins2.toDouble / (2.0 * pos.length * neg.length))
    assert(auc > 0.5, "language-ID AUC should beat chance by a wide margin")
  }

  test("graph_eccentricity agrees with a driver-side BFS and d90 covers ≥ 90%") {
    val rows = SparkEntry.queries("graph_eccentricity")(spark, sf).collect()
    assert(rows.nonEmpty)
    val es = graph.PropertyGraph.supplierPartGraph(spark, sf).edges
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (es ++ es.map(e => (e._2, e._1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { r =>
      val seed = r.getLong(0)
      // driver BFS
      val dist = scala.collection.mutable.Map(seed -> 0)
      var frontier = Set(seed)
      var d = 0
      while (frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
          .filterNot(dist.contains)
        frontier.foreach(dist(_) = d)
      }
      val ds = dist.filter(_._2 > 0).values.toSeq
      assert(r.getLong(1) == ds.length, s"seed $seed reached")
      assert(r.getInt(2) == ds.max, s"seed $seed ecc")
      val d90 = r.getInt(3)
      val n = ds.length.toLong
      assert(10 * ds.count(_ <= d90) >= 9 * n, "d90 must cover ≥ 90%")
      assert(d90 == 0 || 10 * ds.count(_ <= d90 - 1) < 9 * n,
        "d90 must be the smallest covering level")
      assert(d90 <= r.getInt(2))
    }
  }

  test("text_zipf_slope is near −1 with high R²; ln grid is knife-edge-free") {
    val r = SparkEntry.queries("text_zipf_slope")(spark, sf).collect()
    assert(r.length == 1)
    val (n, slope, r2) = (r(0).getLong(0), r(0).getDouble(1), r(0).getDouble(2))
    // sf0.001's ~30-term vocabulary is too small for textbook constants
    // (slope ≈ −1 appears from sf0.01 up) — so instead of range asserts,
    // replay the ENTIRE fixed-point fit on the driver and demand bit
    // equality, plus the sign/sanity facts that hold at any sf.
    assert(n >= 20, "vocabulary too small to fit")
    assert(slope < 0.0, s"rank-frequency slope must be negative, got $slope")
    assert(r2 > 0.0 && r2 <= 1.0, s"R² $r2 out of range")
    val top = Tables.documents(spark, sf)
      .select(explode(ops.Text.tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t").asc).limit(1000)
      .collect().map(_.getLong(1))
    val lf = top.zipWithIndex.map { case (c, i) =>
      (math.floor(math.log(i + 1.0) * 65536.0).toLong,
        math.floor(math.log(c.toDouble) * 65536.0).toLong)
    }
    val (nn, sx, sy, sxy, sxx, syy) = (lf.length.toLong,
      lf.map(_._1).sum, lf.map(_._2).sum,
      lf.map(p => p._1 * p._2).sum, lf.map(p => p._1 * p._1).sum,
      lf.map(p => p._2 * p._2).sum)
    val covn = nn.toDouble * sxy - sx.toDouble * sy
    val varxn = nn.toDouble * sxx - sx.toDouble * sx
    val varyn = nn.toDouble * syy - sy.toDouble * sy
    assert(n == nn)
    assert(slope == covn / varxn, "slope differs from the fixed-point replay")
    assert(r2 == covn * covn / (varxn * varyn), "R² differs from the replay")
    // knife-edge sweep: no ln(rank) or ln(cnt) may sit on a 2^-16 floor
    // boundary (a cross-engine ulp would flip the fixed-point moment)
    val cnts = Tables.documents(spark, sf)
      .select(explode(ops.Text.tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t").asc).limit(1000)
      .collect().map(_.getLong(1))
    def sweep(x: Double): Unit = {
      val v = math.log(x) * 65536.0
      val frac = v - math.floor(v)
      assert(x == 1.0 || (frac > 1e-7 && frac < 1 - 1e-7),
        s"ln($x)·2^16 = $v sits on a floor boundary")
    }
    (1 to n.toInt).foreach(r => sweep(r.toDouble))
    cnts.foreach(c => sweep(c.toDouble))
  }

  test("rel_scd2_lookup routes every order to exactly one valid version") {
    val rows = SparkEntry.queries("rel_scd2_lookup")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nOrders = Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == nOrders,
      "each order must hit exactly one dimension version")
    val cut = java.time.LocalDate.parse("1995-06-01")
    // any changed-key order before the cut hits a non-current version;
    // on/after the cut everything is current
    val o = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderdate").cast("date")).collect()
      .map(r => (r.getLong(0), r.get(1) match {
        case d: java.sql.Date => d.toLocalDate
        case d: java.time.LocalDate => d
      }))
    val wantByCell = o.groupBy { case (ck, dt) =>
      val year = dt.getYear
      val current = ck % 10 != 1 || !dt.isBefore(cut)
      (year, current)
    }.view.mapValues(_.length.toLong).toMap
    val gotByCell = rows.map(r =>
      (r.getInt(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    assert(gotByCell == wantByCell, "per-(year, currency) order routing differs")
  }

  test("graph_mst_boruvka equals an independent Kruskal with the same total order") {
    val got = SparkEntry.queries("graph_mst_boruvka")(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val es = graph.PropertyGraph.weightedUndirectedEdges(spark, sf)
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst"), col("w")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // driver Kruskal under the (w, lo, hi) total order with union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val want = scala.collection.mutable.Set[(Long, Long, Long)]()
    es.sortBy { case (lo, hi, w) => (w, lo, hi) }.foreach { case (lo, hi, w) =>
      val (a, b) = (find(lo), find(hi))
      if (a != b) { parent(a) = b; want += ((lo, hi, w)) }
    }
    assert(got.toSet == want.toSet, "forest differs from Kruskal replay")
    assert(got.map(_._3).sum == want.toSeq.map(_._3).sum)
    // forest size = vertices − components
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val nComps = nodes.map(find).distinct.length
    assert(got.length == nodes.length - nComps)
  }

  test("evt_seq_patterns counts consecutive triples exactly") {
    val got = SparkEntry.queries("evt_seq_patterns")(spark, sf).collect()
    assert(got.nonEmpty)
    val ev = ops.Events.eventsUs(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    val want = scala.collection.mutable.Map[(String, String, String), Long]()
      .withDefaultValue(0L)
    ev.values.foreach { rows =>
      rows.sortBy(r => (r._2, r._3)).map(_._4).sliding(3).foreach { tr =>
        if (tr.length == 3) {
          val k = (tr(0), tr(1), tr(2))
          want(k) = want(k) + 1
        }
      }
    }
    val tot = want.values.sum
    val wantTop = want.toSeq
      .sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(20)
    val gotSeq = got.map(r =>
      ((r.getString(0), r.getString(1), r.getString(2)), r.getLong(3))).toSeq
    assert(gotSeq == wantTop, "triple supports differ from the driver replay")
    got.foreach(r =>
      assert(r.getDouble(4) == r.getLong(3).toDouble / tot.toDouble))
  }

  test("evt_cusum obeys Page's recurrence and alarms exactly above h") {
    val rows = SparkEntry.queries("evt_cusum")(spark, sf).collect()
      .map(r => (r.get(0).toString, r.getDouble(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    // replay the clamp recurrence sequentially over the emitted days
    val k = 120.0
    var s = 0.0
    rows.foreach { case (_, x, cusum, alarm) =>
      s = math.max(0.0, s + (x - k))
      assert(math.abs(cusum - s) < 1e-6,
        s"cusum $cusum != sequential recurrence $s")
      assert(alarm == (cusum > 600.0 + 1e-12))
    }
    // the micro-unit identity keeps everything exact: re-derive from longs
    val sU = rows.map(r => math.round(r._2 * 1e6))
    var cu = 0L; var mn = 0L
    rows.zip(sU).foreach { case ((_, _, cusum, _), xu) =>
      cu += xu - 120000000L
      mn = math.min(mn, cu)
      assert(cusum == (cu - mn).toDouble / 1e6, "not exactly the prefix identity")
    }
  }

  test("ml_kfold_cv partitions every doc once and accuracies tie out per fold") {
    val rows = SparkEntry.queries("ml_kfold_cv")(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == (0 until 5))
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nDocs,
      "the five held-out folds must tile the corpus exactly")
    rows.foreach { r =>
      val (f, n, ok, acc) = (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val preds = cluster.Classify.nbPredictions(spark, sf, f).collect()
      assert(n == preds.length)
      assert(ok == preds.count(p => p.getString(2) == p.getString(1)))
      assert(acc == ok.toDouble / n.toDouble)
      assert(acc > 0.2, s"fold $f accuracy $acc at or below chance")
    }
  }

  test("graph_single_linkage equals CC over the τ-thresholded MST (the SL/MST identity)") {
    val got = SparkEntry.queries("graph_single_linkage")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tau = 3L
    // union-find helper over an edge list
    def cluster(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      nodes.map(n => n -> find(n)).toMap
    }
    val nodes = graph.PropertyGraph.supplierPartGraph(spark, sf).nodes
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    val we = graph.PropertyGraph.weightedUndirectedEdges(spark, sf)
      .filter(col("src") < col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val direct = cluster(we.filter(_._3 <= tau).map(e => (e._1, e._2)).toSeq, nodes)
    val mst = SparkEntry.queries("graph_mst_boruvka")(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val viaMst = cluster(mst.filter(_._3 <= tau).map(e => (e._1, e._2)).toSeq, nodes)
    // identity: same partition (labels are min ids in both constructions)
    assert(direct == viaMst, "single-linkage/MST identity violated")
    val wantSizes = direct.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(got == wantSizes, "query cluster sizes differ from the replay")
  }

  test("ml_label_noise flags exactly the cell-kNN majority disagreements") {
    val got = SparkEntry.queries("ml_label_noise")(spark, sf).collect()
      .map(r => (r.getLong(0),
        (r.getInt(1).toLong, r.getInt(2).toLong, r.getLong(3)))).toMap
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long"),
        col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val cents = cluster.KMeans.initCentroids(Tables.embeddings(spark, sf), 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCell = e.groupBy { case (_, _, v) =>
      cents.map { case (cid, cv) => (cos(v, cv), cid) }
        .minBy { case (s, c) => (-s, c) }._2
    }
    val want = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    byCell.values.foreach { members =>
      members.foreach { case (qid, qlabel, qv) =>
        val knn = members.filter(_._1 != qid)
          .map(m => (cos(qv, m._3), m._1, m._2))
          .sortBy { case (s, nid, _) => (-s, nid) }.take(5)
        if (knn.nonEmpty) {
          val votes = knn.groupBy(_._3).view.mapValues(_.size.toLong).toMap
          val (maj, nv) = votes.toSeq.minBy { case (l, n) => (-n, l) }
          if (maj != qlabel) want(qid) = (qlabel, maj, nv)
        }
      }
    }
    assert(got == want.toMap, "flagged suspects differ from the driver replay")
    assert(got.nonEmpty)
  }

  test("mm_video_shot_stats shots tile the frames and agree with the cut flags") {
    val shots = SparkEntry.queries("mm_video_shot_stats")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    val frames = SparkEntry.queries("mm_scene_change")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(5)))
    assert(shots.nonEmpty)
    val byMedia = frames.groupBy(_._1)
    shots.groupBy(_._1).foreach { case (m, ss) =>
      val fs = byMedia(m)
      assert(ss.map(_._5).sum == fs.length, s"media $m: shots must tile frames")
      assert(ss.length == 1 + fs.map(_._4).sum, s"media $m: shot count = cuts + 1")
      ss.foreach { case (_, _, start, end, n, total, mean) =>
        assert(end - start + 1 == n, "shot frames must be contiguous")
        val inShot = fs.filter(f => f._2 >= start && f._2 <= end)
        assert(inShot.map(_._3).sum == total, "luma total differs")
        assert(mean == total.toDouble / n.toDouble)
      }
    }
  }

  test("ann_nprobe_sweep: recall monotone in nprobe, exact at full probe") {
    val rows = SparkEntry.queries("ann_nprobe_sweep")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8))
    // candidates grow with the probe width; recall never decreases
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._2 <= b._2, "candidate count must grow with nprobe")
        assert(a._4 <= b._4 + 1e-12, "recall must be monotone in nprobe")
      case _ =>
    }
    val full = rows.last
    val n = Tables.embeddings(spark, sf).count()
    assert(full._2 == n - 1, "nprobe=8 must scan the whole corpus minus the query")
    assert(full._3 == 10L && full._4 == 1.0, "full probe must be exact")
    rows.foreach(r => assert(r._4 == r._3.toDouble / 10.0))
  }

  test("kmeans_elbow inertia is non-increasing in k and replays exactly") {
    val rows = SparkEntry.queries("kmeans_elbow")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(2, 4, 8))
    val n = Tables.embeddings(spark, sf).count()
    rows.foreach(r => assert(r._2 == n))
    // nested hash-prefix centroids → per-point distortion can only
    // improve as k grows → inertia monotone non-increasing
    rows.sliding(2).foreach {
      case Array(a, b) => assert(b._3 <= a._3 + 1e-12,
        s"inertia rose from k=${a._1} (${a._3}) to k=${b._1} (${b._3})")
      case _ =>
    }
    rows.foreach(r => assert(r._4 == r._3 / r._2.toDouble))
    // exact replay at k=8 against the shared driver-side machinery
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val cents = cluster.KMeans.initCentroids(Tables.embeddings(spark, sf), 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = e.map { case (_, v) =>
      val best = cents.map { case (cid, cv) => (cos(v, cv), cid) }
        .minBy { case (s, c) => (-s, c) }._1
      math.floor((1.0 - best) * 1048576.0) / 1048576.0
    }.sum
    assert(rows.last._3 == want, "k=8 inertia differs from the driver replay")
  }

  test("agg_quantile_sketch brackets hold and are genuinely narrow") {
    val rows = SparkEntry.queries("agg_quantile_sketch")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3) && r.getBoolean(6),
        s"sketch fell outside its rank-error bracket: $r")
      assert(r.getDouble(1) <= r.getDouble(2) && r.getDouble(4) <= r.getDouble(5))
      // p99 bracket sits at or above the p50 bracket
      assert(r.getDouble(4) >= r.getDouble(1))
    }
  }
}
