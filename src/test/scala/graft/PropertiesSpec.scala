package graft

import graft.cluster.KMeans
import graft.ops.{Vector => V}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style tests for the numeric cores (SURVEY.md §5.3): seeded
  * ScalaCheck generators driven in a deterministic loop (the
  * scalatest-scalacheck bridge isn't in the offline cache, and batching
  * cases into one Spark job per property is much faster than forAll's
  * one-job-per-case anyway). */
class PropertiesSpec extends SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val vecGen: Gen[Array[Double]] =
    Gen.containerOfN[Array, Double](8, Gen.chooseNum(-10.0, 10.0))
      .suchThat(v => v.exists(_ != 0.0))

  test("cosine similarity is within [-1,1], reflexive at 1, for 200 random pairs") {
    import spark.implicits._
    val vs = (1 to 200).map(i => (i.toLong, sample(vecGen, i), sample(vecGen, i + 1000)))
    val df = vs.toDF("id", "a", "b")
    val rows = df.select(
      V.cosine(col("a"), col("b")).as("ab"),
      V.cosine(col("a"), col("a")).as("aa")).collect()
    rows.foreach { r =>
      val ab = r.getDouble(0); val aa = r.getDouble(1)
      assert(ab >= -1.0 - 1e-9 && ab <= 1.0 + 1e-9, s"out of range: $ab")
      assert(math.abs(aa - 1.0) < 1e-9, s"not reflexive: $aa")
    }
  }

  test("assignment covers every point exactly once for varied n and k") {
    import spark.implicits._
    for ((k, n, seed) <- Seq((1, 10, 7L), (3, 25, 11L), (6, 40, 13L))) {
      val rng = new scala.util.Random(seed)
      val data = (0 until n).map(i =>
        (i.toLong, Array.fill(8)(rng.nextGaussian()), rng.nextInt(3)))
      val df = data.toDF("vec_id", "embedding", "label")
      val a = KMeans.assign(df, KMeans.initCentroids(df, k))
      assert(a.count() === n.toLong)
      assert(a.select("vec_id").distinct().count() === n.toLong)
      assert(a.select("cid").distinct().count() <= k.toLong)
    }
  }

  test("as-of join matches a brute-force reference across the full mode matrix") {
    import spark.implicits._
    // every (direction × allowExactMatches × tolerance) cell of the
    // merge_asof matrix, each fed ~25 random seeded cases. Cases embed
    // as an extra join-key column, so one Spark job covers a whole
    // config — the composite-key path is itself part of the surface
    // under test. Right-side (key, time) pairs are distinct within a
    // case: the operator's tie rule for duplicate timestamps is
    // sort-stability-dependent and pinned separately in EdgeCaseSpec.
    val configs = for {
      dir <- Seq("backward", "forward", "nearest")
      exact <- Seq(true, false)
      tol <- Seq(None, Some(3L))
    } yield (dir, exact, tol)
    for (((dir, exact, tol), ci) <- configs.zipWithIndex) {
      val rng = new scala.util.Random(1000L + ci)
      val cases = (0 until 25).map { c =>
        val nKeys = 1 + rng.nextInt(3)
        val lefts = Seq.fill(1 + rng.nextInt(10))(
          (c.toLong, rng.nextInt(nKeys).toLong, rng.nextInt(18).toLong))
        val rights = Seq.fill(rng.nextInt(12))(
          (c.toLong, rng.nextInt(nKeys).toLong, rng.nextInt(18).toLong))
          .distinct.groupBy(r => (r._2, r._3)).map(_._2.head).toSeq
          .map(r => (r._1, r._2, r._3, s"p${r._2}_${r._3}"))
        (lefts, rights)
      }
      val leftRows = cases.flatMap(_._1)
      val rightRows = cases.flatMap(_._2)
      val l = leftRows.toDF("case", "k", "t")
      val r = rightRows.toDF("case", "k", "rt", "payload")
      val got = graft.plans.AsOf.join(l, r, Seq("case", "k"), "t", "rt",
          Seq("payload"), direction = dir, tolerance = tol,
          allowExactMatches = exact)
        .collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getLong(2)) ->
          Option(row.getString(3)))
      assert(got.length === leftRows.length, s"config ($dir,$exact,$tol)")
      // O(n²) reference, straight from the merge_asof contract
      val byCaseKey = rightRows.groupBy(rr => (rr._1, rr._2))
      def expect(c: Long, k: Long, t: Long): Option[String] = {
        val cands = byCaseKey.getOrElse((c, k), Nil)
        def ok(rt: Long) = tol.forall(b => math.abs(t - rt) <= b)
        val back = cands.filter(x => if (exact) x._3 <= t else x._3 < t)
          .filter(x => ok(x._3)).sortBy(_._3).lastOption
        val fwd = cands.filter(x => if (exact) x._3 >= t else x._3 > t)
          .filter(x => ok(x._3)).sortBy(_._3).headOption
        val pick = dir match {
          case "backward" => back
          case "forward" => fwd
          case "nearest" => (back, fwd) match {
            case (Some(b), Some(f)) =>
              if (t - b._3 <= f._3 - t) Some(b) else Some(f)
            case (b, f) => b.orElse(f)
          }
        }
        pick.map(_._4)
      }
      got.foreach { case ((c, k, t), payload) =>
        assert(payload === expect(c, k, t),
          s"config ($dir, exact=$exact, tol=$tol) case $c key $k t=$t: " +
            s"got $payload, expected ${expect(c, k, t)}")
      }
    }
  }

  test("recomputed centroids are convex: within the min/max envelope of members") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val data = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian()), 0))
    val df = data.toDF("vec_id", "embedding", "label")
    val a = KMeans.assign(df, KMeans.initCentroids(df, 4))
    val members = a.select(col("cid"), col("v")).collect()
      .groupBy(_.getLong(0))
      .map { case (cid, rows) =>
        cid -> rows.map(_.getAs[scala.collection.Seq[Double]]("v").toArray)
      }
    val rec = KMeans.recompute(a).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Double]]("cv").toArray)
      .toMap
    for ((cid, vs) <- members; d <- 0 until 8) {
      val lo = vs.map(_(d)).min; val hi = vs.map(_(d)).max
      val c = rec(cid)(d)
      assert(c >= lo - 1e-9 && c <= hi + 1e-9,
        s"centroid $cid dim $d: $c outside [$lo, $hi]")
    }
  }

  test("rolling-hash fingerprint stays within [0, 2^31) on random token lists") {
    import spark.implicits._
    val textGen = Gen.nonEmptyListOf(Gen.alphaLowerStr.suchThat(_.nonEmpty))
      .map(_.take(20).mkString(" "))
    val texts = (1 to 100).map(i => (i.toLong, sample(textGen, i)))
    val df = texts.toDF("doc_id", "text")
    val codes = transform(graft.ops.Text.tokens(col("text")),
      w => length(w).cast("long") * 256 + ascii(substring(w, 1, 1)))
    val fp = aggregate(codes, lit(0L), (h, c) => (h * 1000003L + c) % 2147483647L)
    val fps = df.select(fp.as("f")).collect().map(_.getLong(0))
    assert(fps.forall(f => f >= 0L && f < 2147483647L))
  }

  test("minhash signature agreement is monotone in true Jaccard for nested docs") {
    import spark.implicits._
    // doc B ⊂ doc A ⊂ doc C token-wise: agreement(A,B) ≥ agreement(A, unrelated)
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val subset = (1 to 25).map(i => s"tok$i").mkString(" ")
    val unrelated = (100 to 130).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, base), (2L, subset), (3L, unrelated)).toDF("doc_id", "text")
      .select(col("doc_id"), graft.ops.Text.minhashSig(graft.ops.Text.tokens(col("text"))).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) ->
      r.getAs[scala.collection.Seq[Long]]("sig")).toMap
    def agree(x: Long, y: Long) = sigs(x).zip(sigs(y)).count { case (a, b) => a == b }
    assert(agree(1L, 2L) >= agree(1L, 3L))
  }

  test("hull area: shoelace equals the trapezoid-envelope sum on random masks") {
    // the two independent hull840 algorithms behind vec_contours'
    // solidity (kernel shoelace × 420 vs the oracle's scaled trapezoid
    // sum) must agree on ANY point set, including the degenerate shapes
    // the corpus never produces: single cells, rows, columns, diagonals,
    // L-shapes. 300 random masks over the 8×8 grid, 1..10 cells each.
    def trapezoid840(pts: Seq[(Int, Int)]): Long = {
      val xs = pts.map(_._1)
      def env(x: Int): (Long, Long) = {
        val singles = pts.filter(_._1 == x).map(_._2.toLong * 420L)
        val chords = for {
          p <- pts; q <- pts
          if q._1 > p._1 && p._1 <= x && x <= q._1
        } yield (p._2.toLong * (q._1 - p._1) + (q._2 - p._2).toLong * (x - p._1)) *
          (420L / (q._1 - p._1))
        val all = singles ++ chords
        (all.max, all.min)
      }
      (xs.min until xs.max).map { x =>
        val (u1, l1) = env(x); val (u2, l2) = env(x + 1)
        u1 + u2 - l1 - l2
      }.sum
    }
    val rng = new scala.util.Random(42L)
    for (_ <- 1 to 300) {
      val n = 1 + rng.nextInt(10)
      val pts = Seq.fill(n)((rng.nextInt(8), rng.nextInt(8))).distinct
      val shoelace840 = graft.ops.Image.hullTwiceArea(pts) * 420L
      assert(shoelace840 === trapezoid840(pts),
        s"hull algorithms diverge on $pts")
    }
    // pinned degenerate shapes
    assert(graft.ops.Image.hullTwiceArea(Seq((3, 3))) === 0L, "point")
    assert(graft.ops.Image.hullTwiceArea(Seq((0, 0), (7, 7), (3, 3))) === 0L, "diagonal line")
    assert(graft.ops.Image.hullTwiceArea(Seq((0, 0), (0, 7), (7, 0), (7, 7))) === 98L, "7×7 square")
  }

  test("minDist matches a local Dijkstra on random weighted graphs") {
    import spark.implicits._
    // the distributed min-plus kernel vs the textbook sequential
    // algorithm, on graphs the sf corpus can't produce: disconnected
    // pieces, self-loops, parallel edges with different weights
    def dijkstra(n: Int, edges: Seq[(Int, Int, Long)], src: Int): Map[Int, Long] = {
      val adj = edges.flatMap { case (a, b, w) => Seq((a, (b, w)), (b, (a, w))) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val dist = scala.collection.mutable.Map(src -> 0L)
      val pq = scala.collection.mutable.PriorityQueue((0L, src))(
        Ordering.by[(Long, Int), Long](-_._1))
      while (pq.nonEmpty) {
        val (d, u) = pq.dequeue()
        if (dist(u) == d)
          adj.getOrElse(u, Nil).foreach { case (v, w) =>
            if (dist.getOrElse(v, Long.MaxValue) > d + w) {
              dist(v) = d + w; pq.enqueue((d + w, v))
            }
          }
      }
      dist.toMap
    }
    val rng = new scala.util.Random(7L)
    for (trial <- 1 to 5) {
      val n = 8 + rng.nextInt(6)
      val edges = Seq.fill(n * 2)(
        (rng.nextInt(n), rng.nextInt(n), 1L + rng.nextInt(9)))
      val ue = edges.flatMap { case (a, b, w) =>
        Seq((a.toLong, b.toLong, w), (b.toLong, a.toLong, w))
      }.toDF("src", "dst", "w")
      val got = graft.graph.Components.minDist(ue, 0L)
      val gotMap = got.collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      val want = dijkstra(n, edges, 0)
      // minDist reports vertices REACHED from src; Dijkstra the same set
      assert(gotMap === want.filter(_._2 != Long.MaxValue),
        s"trial $trial diverges (n=$n, edges=$edges)")
    }
  }

  test("distributed LPA matches a local reference on random graphs") {
    import spark.implicits._
    // the distributed superstep vs a sequential implementation of the
    // SAME deterministic rules (most frequent neighbor label, tie → min,
    // synchronous update, no self-vote), incl. isolated vertices
    def localLpa(n: Int, edges: Seq[(Int, Int)], iters: Int): Map[Int, Long] = {
      val adj = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var lbl = (0 until n).map(i => i -> i.toLong).toMap
      for (_ <- 1 to iters) {
        lbl = lbl.map { case (v, l) =>
          val nbrs = adj.getOrElse(v, Nil)
          if (nbrs.isEmpty) v -> l
          else {
            val counts = nbrs.groupBy(lbl).view.mapValues(_.size)
            // max count, then smallest label
            val best = counts.toSeq.maxBy { case (nl, c) => (c.toLong, -nl) }._1
            v -> best
          }
        }
      }
      lbl
    }
    val rng = new scala.util.Random(17L)
    for (trial <- 1 to 5) {
      val n = 8 + rng.nextInt(8)
      // sparse enough to leave isolated vertices sometimes
      val edges = Seq.fill(n)((rng.nextInt(n), rng.nextInt(n)))
        .filter { case (a, b) => a != b }.distinct
      val ue = edges.flatMap { case (a, b) =>
        Seq((a.toLong, b.toLong), (b.toLong, a.toLong))
      }.toDF("src", "dst")
      val nodes = (0 until n).map(_.toLong).toDF("id")
      val got = graft.graph.Components.lpa(nodes, ue, 4)
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      val want = localLpa(n, edges, 4)
      assert(got === want, s"trial $trial diverges (n=$n, edges=$edges)")
    }
  }

  test("chunk windows cover every token and respect the stride for random doc lengths") {
    import spark.implicits._
    // random token counts, including the edge lengths the corpus never
    // hits: 1 (single short chunk), exactly 64, 64+1, stride multiples
    val rng = new scala.util.Random(23L)
    val lengths = Seq(1, 31, 32, 33, 63, 64, 65, 96, 97, 200) ++
      Seq.fill(10)(1 + rng.nextInt(300))
    val docs = lengths.zipWithIndex.map { case (n, i) =>
      (i.toLong, (0 until n).map(t => s"t$t").mkString(" "), "en", "src", n)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft_chunk_prop")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("text_chunk_windows")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byDoc = out.groupBy(_._1)
    lengths.zipWithIndex.foreach { case (n, i) =>
      val chunks = byDoc(i.toLong).sortBy(_._2)
      // chunk count = floor((n-1)/32) + 1 — starts every 32 tokens
      assert(chunks.length === (n - 1) / 32 + 1,
        s"doc len $n: wrong chunk count ${chunks.length}")
      // sizes: all full 64 except the trailing windows; total coverage ≥ n
      chunks.dropRight(2).foreach { c =>
        assert(c._3 === 64, s"doc len $n: interior chunk ${c._2} short (${c._3})")
      }
      val last = chunks.last
      assert(last._3 === n - last._2.toInt * 32,
        s"doc len $n: trailing chunk size ${last._3}")
      // stride coverage: token index n-1 falls inside the last window
      assert(last._2 * 32 + last._3 === n)
    }
  }

  test("mix rebalance keeps counts near quota and is a deterministic per-row predicate") {
    import spark.implicits._
    val out1 = SparkEntry.queries("text_mix_rebalance")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val out2 = SparkEntry.queries("text_mix_rebalance")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out1.toSeq === out2.toSeq, "selection must be deterministic across runs")
    out1.foreach { case (lang, n, ratePx, kept) =>
      assert(kept <= n, s"$lang keeps more than exists")
      if (ratePx == 1048576L) assert(kept === n, s"$lang: rate 1 must keep all")
      else {
        // hash-rate sampling concentrates around n * rate (±40% at these
        // small n — the property is the mechanism, not tight bounds)
        val expect = n.toDouble * ratePx / 1048576.0
        assert(kept > expect * 0.6 && kept < expect * 1.4,
          s"$lang: kept $kept far from expected $expect")
      }
    }
  }

  test("count-min sketch: partition merges are exact and estimates dominate truth") {
    import org.apache.spark.sql.graft.{Bridge, CountMinSketchAgg => CMS}
    import spark.implicits._
    val keys = Gen.listOfN(500, Gen.chooseNum(0L, 5000L))
      .apply(Gen.Parameters.default, Seed(7L)).get
    def sketchOf(df: org.apache.spark.sql.DataFrame): Array[Long] =
      df.agg(Bridge.column(
          CMS(Bridge.expression(col("k"))).toAggregateExpression()).as("sk"))
        .head().getAs[scala.collection.Seq[Long]](0).toArray
    val df = keys.toDF("k")
    // merge exactness: 1 partition vs 8 partitions (forces buffer merges)
    assert(sketchOf(df.coalesce(1)).sameElements(sketchOf(df.repartition(8))))
    // total mass per hash row = input count; estimates never undercount
    val sk = sketchOf(df)
    (0 until CMS.Depth).foreach { j =>
      assert(sk.slice(j * CMS.Width, (j + 1) * CMS.Width).sum === keys.size.toLong)
    }
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong)
    exact.foreach { case (k, cnt) =>
      val est = (0 until CMS.Depth)
        .map(j => sk(j * CMS.Width + CMS.bucket(k, j))).min
      assert(est >= cnt, s"key $k: est $est < exact $cnt")
    }
  }

  test("bloom filter: partition merges are exact, members always hit, popcount bounded") {
    import org.apache.spark.sql.graft.{Bridge, BloomFilterAgg => BF}
    import spark.implicits._
    val keys = Gen.listOfN(400, Gen.chooseNum(0L, 100000L))
      .apply(Gen.Parameters.default, Seed(11L)).get
    def sketchOf(df: org.apache.spark.sql.DataFrame): Array[Long] =
      df.agg(Bridge.column(
          BF(Bridge.expression(col("k"))).toAggregateExpression()).as("sk"))
        .head().getAs[scala.collection.Seq[Long]](0).toArray
    val df = keys.toDF("k")
    // bit-OR merge exactness: 1 partition vs 8 (forces buffer merges)
    assert(sketchOf(df.coalesce(1)).sameElements(sketchOf(df.repartition(8))))
    val sk = sketchOf(df)
    def bit(pos: Int): Boolean =
      ((sk(pos / BF.BitsPerWord) >> (pos % BF.BitsPerWord)) & 1L) == 1L
    // no false negatives, ever (structural)
    keys.foreach { k =>
      (0 until BF.NumHashes).foreach(j =>
        assert(bit(BF.position(k, j)), s"member $k missing bit hash $j"))
    }
    // popcount == |distinct positions| and ≤ 4·|distinct keys|; 32-bit
    // packing means no word ever goes negative (the oracle's
    // division-semantics guarantee)
    val distinctPos =
      keys.distinct.flatMap(k => (0 until BF.NumHashes).map(BF.position(k, _))).distinct
    assert(sk.map(java.lang.Long.bitCount).sum === distinctPos.size)
    assert(distinctPos.size <= 4 * keys.distinct.size)
    assert(sk.forall(w => w >= 0L && w < (1L << 32)))
  }

  test("unigram Viterbi equals brute-force minimum over ALL segmentations") {
    import spark.implicits._
    // random small vocabularies over {a,b} with random costs; the
    // distributed DP's cost must equal an exhaustive enumeration of
    // every 1..4-piece factorization, and its reported segmentation
    // must achieve that cost under the in-vocab constraint
    val rng = new scala.util.Random(1117)
    val alph = "ab"
    def randWord(len: Int) =
      (1 to len).map(_ => alph(rng.nextInt(2))).mkString
    for (trial <- 1 to 12) {
      val wlen = 2 + rng.nextInt(7)
      val word = randWord(wlen)
      // vocab: all single chars (coverage) + a few random substrings
      val pieces = scala.collection.mutable.Map[String, Long](
        "a" -> (1 + rng.nextInt(50)).toLong, "b" -> (1 + rng.nextInt(50)).toLong)
      for (_ <- 1 to 6) {
        val i = rng.nextInt(wlen)
        val l = 2 + rng.nextInt(3)
        if (i + l <= wlen) pieces(word.substring(i, i + l)) = (1 + rng.nextInt(50)).toLong
      }
      val costs = pieces.toMap
      def brute(s: String): Long =
        if (s.isEmpty) 0L
        else (1 to math.min(4, s.length)).flatMap { l =>
          costs.get(s.take(l)).map(_ + brute(s.drop(l)))
        }.min
      val want = brute(word)
      val got = ops.Text.viterbiSegment(
        Seq((word, 1L)).toDF("word", "cnt"), costs).collect()(0)
      assert(got.getLong(2) === want,
        s"trial $trial '$word' costs $costs: DP ${got.getLong(2)} != brute $want")
      // the emitted segmentation must be a real factorization at that cost
      val segs = got.getString(3).split(" ")
      assert(segs.mkString === word)
      assert(segs.map(costs).sum === want)
    }
  }
}
