package graft

import graft.ops.Text
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {

  import spark.implicits._

  test("minhash signatures of near-duplicate docs mostly agree") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    val c = "completely different content with no shared shingles at all whatsoever here"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
      .select(col("doc_id"), Text.minhashSig(Text.tokens(col("text"))).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getAs[Seq[Long]]("sig")).toMap
    val agreeAB = sigs(1L).zip(sigs(2L)).count { case (x, y) => x == y }
    val agreeAC = sigs(1L).zip(sigs(3L)).count { case (x, y) => x == y }
    assert(agreeAB >= 5, s"near-dups should share most minhashes, got $agreeAB/8")
    assert(agreeAC <= 2, s"unrelated docs should share few minhashes, got $agreeAC/8")
  }

  test("exact dedup groups identical texts") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val groups = df.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("copies"))
      .collect().map(r => r.getAs[Long]("keeper") -> r.getAs[Long]("copies")).toMap
    assert(groups(1L) === 2L)
    assert(groups(3L) === 1L)
  }

  test("langid prefers the language whose markers dominate") {
    val df = Seq(
      (1L, "der hund und die katze und der vogel"),
      (2L, "the cat and the dog of the house"),
      (3L, "le chat et les chiens des villes le matin")
    ).toDF("doc_id", "text")
    // assert via the marker scores the query's CASE chain is built from
    val t = Text.tokens(col("text"))
    def score(ws: Seq[String]) =
      size(filter(t, x => array_contains(array(ws.map(lit): _*), x)))
    val scored = df.select(col("doc_id"),
      score(Seq("der", "und", "die")).as("de"),
      score(Seq("the", "and", "of")).as("en"),
      score(Seq("le", "les", "des")).as("fr")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(scored(1L)._1 > scored(1L)._2 && scored(1L)._1 > scored(1L)._3)
    assert(scored(2L)._2 > scored(2L)._1)
    assert(scored(3L)._3 > scored(3L)._1)
  }

  test("rolling-hash fingerprint is order-sensitive and deterministic") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("doc_id", "text")
    val codes = transform(Text.tokens(col("text")),
      w => length(w).cast("long") * 256 + ascii(substring(w, 1, 1)))
    val fp = aggregate(codes, lit(0L), (h, c) => (h * 1000003L + c) % 2147483647L)
    val out = df.select(col("doc_id"), fp.as("f")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === out(3L))
    assert(out(1L) !== out(2L))
  }

  test("simhash hamming distance separates similar from dissimilar") {
    def simhash(df: org.apache.spark.sql.DataFrame) = {
      val t = Text.tokens(col("text"))
      val hs = transform(t, w => Text.strHash(w) % 65536L)
      val bits = (0 until 16).map { i =>
        val vote = aggregate(hs, lit(0L),
          (acc, h) => acc + when(shiftright(h, i) % 2 === 1, 1L).otherwise(-1L))
        when(vote > 0, 1L << i).otherwise(0L)
      }
      df.select(col("doc_id"), bits.reduce(_ + _).as("sh")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val m = simhash(Seq(
      (1L, "spark query engine with fast columnar scans and joins"),
      (2L, "spark query engine with fast columnar scans and filters"),
      (3L, "entirely unrelated musical composition about summer rain")
    ).toDF("doc_id", "text"))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(m(1L), m(2L)) < ham(m(1L), m(3L)))
  }

  // semantic invariants the oracle CANNOT catch: a bug written
  // symmetrically into both the Spark query and its SQL mirror would
  // still hash-match, so the train/eval separation and the packing
  // arithmetic are pinned here independently.
  test("decontamination separates train from eval and counts real overlaps") {
    val out = SparkEntry.queries("text_decontaminate")(spark, sf).collect()
    assert(out.nonEmpty, "sf0.001 corpus must surface contaminated docs")
    out.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 100 !== 7L,
        "an eval doc must never appear in the contaminated-train list")
      assert(r.getAs[Long]("n_overlap") >= 20L)
    }
    // independent recount for one flagged doc: local bigram sets
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def bigrams(t: String): Set[(String, String)] =
      t.split(" ").sliding(2).collect { case Array(a, b) => (a, b) }.toSet
    val evalSh = docs.filter(_._1 % 100 == 7).values.map(bigrams)
      .foldLeft(Set.empty[(String, String)])(_ ++ _)
    val probe = out.head.getAs[Long]("doc_id")
    assert((bigrams(docs(probe)) & evalSh).size ===
      out.head.getAs[Long]("n_overlap"),
      s"doc $probe overlap count must equal a local set intersection")
  }

  test("sequence packing respects the budget arithmetic per lane") {
    val rows = SparkEntry.queries("text_pack_sequences")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("lane"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("bin"), r.getAs[Long]("offset")))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, bin, off) =>
      assert(off >= 0 && off < 512, "a doc starts strictly inside its bin")
      assert(bin >= 0)
    }
    // per lane: replay the greedy cumsum locally and compare placements
    rows.groupBy(_._2).foreach { case (lane, ds) =>
      var cum = 0L
      ds.sortBy(_._1).foreach { case (id, _, n, bin, off) =>
        assert(bin === cum / 512 && off === cum % 512,
          s"doc $id in lane $lane placed at ($bin,$off), expected (${cum / 512},${cum % 512})")
        cum += n
      }
    }
  }

  test("triangle participants are contained in the 2-core (cross-query consistency)") {
    // two INDEPENDENT structural computations over the same pair graph:
    // triangle enumeration (two oriented equi-joins) and k-core peeling
    // (iterative degree removal). Every triangle is a cycle, so every
    // triangle participant must survive the 2-core — if either
    // implementation drifts, this containment breaks.
    val tri = SparkEntry.queries("dedup_triangles")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val core = SparkEntry.queries("dedup_kcore")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(tri.subsetOf(core),
      s"triangle docs missing from the 2-core: ${tri -- core}")
  }

  test("dedup_core_numbers matches an independent driver-side peel") {
    val got = SparkEntry.queries("dedup_core_numbers")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ground truth: textbook Matula–Beck peel on the ≥0.5 LSH dup graph
    val dup = SparkEntry.queries("dedup_minhash_pairs")(spark, sf).collect()
      .filter(_.getDouble(2) >= 0.5).map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    dup.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    val core = scala.collection.mutable.Map.empty[Long, Long]
    var k = 2L
    while (adj.nonEmpty) {
      var changed = true
      while (changed) {
        val bad = adj.collect { case (v, ws) if ws.size < k => v }.toList
        changed = bad.nonEmpty
        bad.foreach { v =>
          adj(v).foreach(w => adj.get(w).foreach(_ -= v))
          core(v) = k - 1
          adj -= v
        }
      }
      if (adj.nonEmpty) k += 1
    }
    assert(got.nonEmpty)
    assert(got == core.toMap, "coreness must equal the textbook peel")
    // cores are nested: every vertex of the 2-core query has core ≥ 2
    val kcore2 = SparkEntry.queries("dedup_kcore")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(kcore2.forall(v => got(v) >= 2L))
  }

  test("dedup_ktruss matches an independent driver-side support peel") {
    val got = SparkEntry.queries("dedup_ktruss")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // ground truth: an edge's support is its ends' common neighbours;
    // drop every edge with none until no edge drops
    var edges = SparkEntry.queries("dedup_minhash_pairs")(spark, sf).collect()
      .filter(_.getDouble(2) >= 0.5).map(r => (r.getLong(0), r.getLong(1))).toSet
    def support(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val nbr = (es.toSeq ++ es.toSeq.map(_.swap)).groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
      es.map { case e @ (a, b) => e -> (nbr(a) intersect nbr(b)).size.toLong }.toMap
    }
    var sup = support(edges)
    var kept = edges.filter(sup(_) >= 1)
    while (kept != edges) {
      edges = kept
      sup = support(edges)
      kept = edges.filter(sup(_) >= 1)
    }
    assert(got.nonEmpty)
    assert(got == edges.map { case e @ (a, b) => (a, b, sup(e)) },
      "k-truss edges and supports must equal the driver-side peel")
  }

  test("leakage-safe split: no near-dup pair straddles train/val") {
    // the property the query exists for, checked against the INDEPENDENT
    // pair list: both endpoints of every ≥0.5-Jaccard pair share a side
    val split = SparkEntry.queries("text_leakage_safe_split")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val pairs = SparkEntry.queries("dedup_minhash_pairs")(spark, sf)
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must contain near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(split(a) === split(b),
        s"dup pair ($a,$b) straddles the split: ${split(a)} vs ${split(b)}")
    }
    // and the hash split lands near 80/20 at the cluster level
    val frac = split.values.count(_ == "train").toDouble / split.size
    assert(frac > 0.6 && frac < 0.95, s"train fraction $frac out of range")
  }

  test("idf quantization sits clear of every floor boundary, whole vocabulary") {
    // the one transcendental in text_bm25_topk / text_keywords_tfidf is
    // floor(ln(...)·2^20); cross-engine libm drift is ~1 ulp, so those
    // oracles only hold while every idf·2^20 is far from an integer.
    // Assert a 1e-6 margin for EVERY vocabulary term on both the test
    // and the driver-gate scale factors — a future data regeneration
    // that lands on a knife edge fails HERE, not as a silent driver
    // hash mismatch.
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val docs = Tables.documents(spark, dir)
        .select(graft.ops.Text.tokens(col("text")).as("t"))
      val n = docs.count().toDouble
      val dfs = docs.select(explode(array_distinct(col("t"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1).toDouble)
      assert(dfs.nonEmpty)
      dfs.foreach { case (w, df) =>
        val x = math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1048576.0
        val frac = x - math.floor(x)
        assert(frac > 1e-6 && frac < 1 - 1e-6,
          s"$dir term '$w': idf*2^20 = $x within 1e-6 of a floor boundary")
      }
      // same sweep for text_unigram_surprisal's −ln(ctf/total) grid
      val ctfs = docs.select(explode(col("t")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("ctf"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val total = ctfs.map(_._2).sum.toDouble
      ctfs.foreach { case (w, ctf) =>
        val x = -math.log(ctf.toDouble / total) * 1048576.0
        val frac = x - math.floor(x)
        assert(frac > 1e-6 && frac < 1 - 1e-6,
          s"$dir term '$w': surprisal*2^20 = $x within 1e-6 of a floor boundary")
      }
    }
  }

  test("clustering coefficient rows satisfy the combinatorial bounds") {
    // cc ∈ [0, 1] and tri(v) ≤ C(deg, 2) by construction; a violation
    // means the wedge join or the degree view double-counts
    val rows = SparkEntry.queries("dedup_clustering_coeff")(spark, sf)
      .collect()
    rows.foreach { r =>
      val (deg, tri, cc) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(deg >= 2)
      assert(tri <= deg * (deg - 1) / 2,
        s"doc ${r.getLong(0)}: $tri triangles exceeds C($deg,2)")
      assert(cc >= 0.0 && cc <= 1.0, s"cc $cc out of [0,1]")
    }
  }
}
