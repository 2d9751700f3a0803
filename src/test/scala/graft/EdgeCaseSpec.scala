package graft

import org.apache.spark.sql.functions._

/** Degenerate-input behavior: a library is judged by what it does on the
  * inputs nobody planned for — empty frames, single elements, all-equal
  * keys. These must return well-formed (usually empty) results, not
  * throw. */
class EdgeCaseSpec extends SparkSpec {

  import spark.implicits._

  test("minhash signature of a single-token document is well-formed") {
    val df = Seq((1L, "hello")).toDF("doc_id", "text")
      .select(col("doc_id"), ops.Text.minhashSig(ops.Text.tokens(col("text"))).as("sig"))
    val sig = df.head.getSeq[Long](1)
    assert(sig.length == 8 && sig.forall(_ >= 0L))
  }

  test("k-means assignment of an empty corpus returns an empty frame, not an error") {
    val empty = Seq.empty[(Long, Array[Double], Long)]
      .toDF("vec_id", "embedding", "label")
    val cents = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0))).toDF("cid", "cv")
    val out = cluster.KMeans.assign(empty, cents)
    assert(out.count() === 0L)
    assert(out.columns.contains("cid"))
  }

  test("sessionize emits only closed sessions; the open tail stays in state") {
    def ev(id: Long, hhmm: String) = streaming.Streams.Evt(
      id, java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00"), 7L, "click", 1.0)
    // 40-minute gap closes session 1; the second session has no
    // following gap, so batch execution holds it in state (streaming
    // would emit it via the event-time timeout).
    val e = Seq(ev(1, "00:00"), ev(2, "00:10"), ev(3, "00:50")).toDS()
    val rows = streaming.Streams.sessionize(spark, e).collect()
    assert(rows.length == 1 && rows.head.n_events == 2L,
      s"expected the closed 2-event session only, got ${rows.toList}")
  }

  test("tumbling window over an empty frame is empty with the right schema") {
    val empty = Seq.empty[streaming.Streams.Evt].toDF()
    val out = streaming.Streams.tumblingCounts(empty)
    assert(out.columns.toList === List("window_start", "event_type", "cnt"))
    assert(out.count() === 0L)
  }

  test("all-duplicate corpus dedups to a single keeper") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "same text"))
      .toDF("doc_id", "text")
    val keeper = df
      .withColumn("h", md5(col("text")))
      .groupBy("h").agg(min("doc_id").as("keep"))
    assert(keeper.collect().map(_.getLong(1)).toList === List(1L))
  }

  test("vector queries on a constant embedding hit their degenerate guards") {
    // a constant vector never occurs in the generated testdata, so the
    // σ²=0 correlation guard and the empty-mask contour case only get
    // exercised here: write a one-row embeddings table and point the
    // SAME query functions at it.
    val dir = tempDir("graft-const-emb")
    Seq((0L, Array.fill(64)(0.25f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // GLCM: one level everywhere → contrast 0, energy 1, homogeneity 1,
    // variance 0 → correlation takes the guarded-0 branch (not NaN)
    val g = SparkEntry.queries("vec_glcm_texture")(spark, dir).collect()
    assert(g.length === 1)
    assert(g(0).getAs[Double]("contrast") === 0.0)
    assert(g(0).getAs[Double]("energy") === 1.0)
    assert(g(0).getAs[Double]("homogeneity") === 1.0)
    assert(g(0).getAs[Double]("variance") === 0.0)
    assert(g(0).getAs[Double]("correlation") === 0.0, "σ²=0 must guard to 0")

    // contours: mask is (x > median) = all false → no components, and
    // that is a well-formed empty result, not an error
    val c = SparkEntry.queries("vec_contours")(spark, dir).collect()
    assert(c.isEmpty, "a constant vector has no foreground components")

    // hsv histogram: all 21 pixels in one joint bin → that bin is
    // count/L2 = 21/21 = 1.0 and the other 47 are exact zeros
    val h = SparkEntry.queries("vec_histogram_hsv")(spark, dir).collect()
    assert(h.length === 48)
    val vals = h.map(r => r.getAs[Long]("bin") -> r.getAs[Double]("hval")).toMap
    assert(vals.values.count(_ === 1.0) === 1)
    assert(vals.values.count(_ === 0.0) === 47)
  }

  test("native as-of join: version selection, no-match nulls, empty right side") {
    // drive the custom operator directly on adversarial inputs the
    // corpus query never produces
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"), (3L, 7L, "d"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 5L, "v1"), (1L, 15L, "v2"), (1L, 25L, "v3"), (2L, 6L, "x"))
      .toDF("k", "rt", "payload")
    val out = graft.plans.AsOf.join(left, right, Seq("k"), "t", "rt", Seq("payload"))
      .orderBy("k", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSeq
    assert(out === Seq(
      (1L, 10L, "v1"),  // 5 ≤ 10, 15 > 10 → v1
      (1L, 20L, "v2"),  // latest ≤ 20 is 15 → v2, never v3
      (2L, 5L, null),   // right exists at 6 > 5 → no version yet
      (3L, 7L, null)),  // key absent on the right entirely
      s"as-of version selection diverged: $out")
    // an empty right side yields all-null payloads, not an error
    val none = graft.plans.AsOf.join(left, right.filter(col("k") < 0L),
      Seq("k"), "t", "rt", Seq("payload")).collect()
    assert(none.length === 4 && none.forall(_.isNullAt(3)))
  }

  test("as-of join: forward and nearest directions, tolerance bound") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"), (3L, 7L, "d"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 5L, "v1"), (1L, 15L, "v2"), (1L, 25L, "v3"), (2L, 6L, "x"))
      .toDF("k", "rt", "payload")
    def run(dir: String, tol: Option[Long] = None) =
      graft.plans.AsOf.join(left, right, Seq("k"), "t", "rt", Seq("payload"),
        direction = dir, tolerance = tol)
        .orderBy("k", "t").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSeq

    // forward: EARLIEST right with rt ≥ t
    assert(run("forward") === Seq(
      (1L, 10L, "v2"),  // 15 is the first ≥ 10
      (1L, 20L, "v3"),  // 25 is the first ≥ 20
      (2L, 5L, "x"),    // 6 ≥ 5
      (3L, 7L, null)),  // key absent on the right
      "forward direction diverged")

    // nearest: min |rt − t|, equal gaps break backward
    assert(run("nearest") === Seq(
      (1L, 10L, "v1"),  // gaps 5 (back to 5) vs 5 (fwd to 15) → backward wins the tie
      (1L, 20L, "v2"),  // gaps 5 (back to 15) vs 5 (fwd to 25) → backward
      (2L, 5L, "x"),    // only a forward candidate (6)
      (3L, 7L, null)),
      "nearest direction / tie-break diverged")

    // tolerance drops candidates whose gap exceeds the bound
    assert(run("backward", tol = Some(4L)) === Seq(
      (1L, 10L, null),  // gap to 5 is 5 > 4
      (1L, 20L, null),  // gap to 15 is 5 > 4
      (2L, 5L, null),
      (3L, 7L, null)), "backward tolerance diverged")
    assert(run("forward", tol = Some(5L)) === Seq(
      (1L, 10L, "v2"), (1L, 20L, "v3"), (2L, 5L, "x"), (3L, 7L, null)),
      "forward tolerance (all within 5) diverged")
    assert(run("nearest", tol = Some(1L)) === Seq(
      (1L, 10L, null), (1L, 20L, null), (2L, 5L, "x"), (3L, 7L, null)),
      "nearest tolerance diverged")

    intercept[IllegalArgumentException] { run("sideways") }
  }

  test("as-of join: allowExactMatches=false excludes equal-time rows per direction") {
    // right rows AT the left times, plus strictly earlier/later ones —
    // strict mode must skip the equal-time row but still find the others
    val left = Seq((1L, 10L), (1L, 20L), (2L, 5L)).toDF("k", "t")
    val right = Seq((1L, 10L, "at10"), (1L, 15L, "at15"), (1L, 20L, "at20"),
      (2L, 5L, "at5")).toDF("k", "rt", "payload")
    def run(dir: String, exact: Boolean) =
      graft.plans.AsOf.join(left, right, Seq("k"), "t", "rt", Seq("payload"),
        direction = dir, allowExactMatches = exact)
        .orderBy("k", "t").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq

    // non-strict baseline: equal-time rows match
    assert(run("backward", exact = true) ===
      Seq((1L, 10L, "at10"), (1L, 20L, "at20"), (2L, 5L, "at5")))
    assert(run("forward", exact = true) ===
      Seq((1L, 10L, "at10"), (1L, 20L, "at20"), (2L, 5L, "at5")))

    // strict backward: latest STRICTLY earlier (none exists for t=10)
    assert(run("backward", exact = false) ===
      Seq((1L, 10L, null), (1L, 20L, "at15"), (2L, 5L, null)),
      "strict backward must skip the equal-time version")
    // strict forward: earliest STRICTLY later — and the skipped
    // equal-time row at 20 must still have served t=10's lookahead
    assert(run("forward", exact = false) ===
      Seq((1L, 10L, "at15"), (1L, 20L, null), (2L, 5L, null)),
      "strict forward must skip the equal-time version")

    // the equal-time row consumed by an earlier left row must remain
    // heldable for a later one under strict backward
    val l2 = Seq((1L, 10L), (1L, 30L)).toDF("k", "t")
    val r2 = Seq((1L, 10L, "v10")).toDF("k", "rt", "payload")
    val got = graft.plans.AsOf.join(l2, r2, Seq("k"), "t", "rt", Seq("payload"),
      direction = "backward", allowExactMatches = false)
      .orderBy("t").collect().map(r => Option(r.getString(2))).toSeq
    assert(got === Seq(None, Some("v10")),
      "a row equal to an earlier left time is strictly-earlier for a later one")

    // strict nearest (two-slot merge): equal-time rows are excluded for
    // the current left row but stay backward candidates for later ones,
    // and the strictly-earlier row BENEATH an equal-time run must
    // survive the run's consumption (the case a single held slot loses)
    val l3 = Seq((1L, 10L), (1L, 12L), (2L, 7L)).toDF("k", "t")
    val r3 = Seq((1L, 5L, "e5"), (1L, 10L, "e10a"), (1L, 10L, "e10b"),
      (2L, 7L, "f7")).toDF("k", "rt", "payload")
    val sn = graft.plans.AsOf.join(l3, r3, Seq("k"), "t", "rt", Seq("payload"),
      direction = "nearest", allowExactMatches = false)
      .orderBy("k", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSeq
    assert(sn === Seq(
      (1L, 10L, Some("e5")),   // both 10s excluded → falls back past the run to 5
      (1L, 12L, Some("e10b")), // the run is strictly earlier now; its sort-last payload wins
      (2L, 7L, None)),         // the only right row is the equal-time one
      s"strict nearest two-slot fallback diverged: $sn")

    // strict nearest still compares gaps and breaks ties backward
    val l4 = Seq((1L, 10L), (1L, 14L)).toDF("k", "t")
    val r4 = Seq((1L, 8L, "b8"), (1L, 12L, "b12")).toDF("k", "rt", "payload")
    val sn2 = graft.plans.AsOf.join(l4, r4, Seq("k"), "t", "rt", Seq("payload"),
      direction = "nearest", allowExactMatches = false)
      .orderBy("t").collect().map(r => r.getString(2)).toSeq
    assert(sn2 === Seq("b8", "b12"),
      s"strict nearest gap comparison / backward tie-break diverged: $sn2")

    // strict nearest + tolerance: the two-slot FALLBACK row must also
    // respect the bound — at t=10 the equal-time 10s are excluded, the
    // fallback 5 is 5 away (outside tol=3), the forward 12 is 2 away
    // (inside) → forward wins; at t=12 the backward 10-run is 2 away →
    // backward wins
    val snt = graft.plans.AsOf.join(l3, r3, Seq("k"), "t", "rt", Seq("payload"),
      direction = "nearest", allowExactMatches = false, tolerance = Some(3L))
      .orderBy("k", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSeq
    assert(snt === Seq(
      (1L, 10L, None),         // e5 outside tolerance, no forward row ≤ 13
      (1L, 12L, Some("e10b")), // run fallback within tolerance
      (2L, 7L, None)),
      s"strict nearest + tolerance diverged: $snt")
  }

  test("as-of join: non-nullable carried column nulls correctly; null keys never match") {
    // the carried column here is a primitive Long — non-nullable in the
    // right child's schema. Unmatched left rows must still read NULL,
    // not the type default 0L (the result projection binds against the
    // nullable output schema, not the child's)
    val left = Seq((1L, 10L), (9L, 10L)).toDF("k", "t")
    val right = Seq((1L, 5L, 777L)).toDF("k", "rt", "payload")
    val out = graft.plans.AsOf.join(left, right, Seq("k"), "t", "rt", Seq("payload"))
      .orderBy("k").collect()
    assert(out(0).getLong(2) === 777L)
    assert(out(1).isNullAt(2),
      s"unmatched row must carry NULL, not a type default: ${out(1)}")

    // NULL join keys: equi-join semantics, never null-safe equality —
    // a null-keyed left row matches nothing even when a null-keyed
    // right row exists at an earlier time
    val lNull = Seq((Option.empty[Long], 10L, "ln"), (Some(1L), 10L, "l1"))
      .toDF("k", "t", "tag")
    val rNull = Seq((Option.empty[Long], 5L, "rn"), (Some(1L), 5L, "r1"))
      .toDF("k", "rt", "payload")
    val nout = graft.plans.AsOf.join(lNull, rNull, Seq("k"), "t", "rt", Seq("payload"))
      .orderBy(col("k").asc_nulls_first).collect()
      .map(r => (if (r.isNullAt(0)) null else r.getLong(0), r.getString(3))).toSeq
    assert(nout === Seq((null, null), (1L, "r1")),
      s"null keys must never match: $nout")
  }

  test("k-core peel: chains vanish, cliques survive, pendant tails drop") {
    def core(links: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
      val ue = (links ++ links.map(_.swap)).toDF("src", "dst")
      val edges = graph.Components.kCorePeel(ue, k)
      edges.groupBy("src").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // a 6-vertex path has no 2-core: endpoints peel, cascade consumes it
    assert(core((0L to 4L).map(i => (i, i + 1)), 2) === Map.empty,
      "a path must peel to nothing at k=2")
    // K4 is its own 3-core (every vertex keeps degree 3)
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    assert(core(k4, 3) === (0L to 3L).map(_ -> 3L).toMap,
      "a 4-clique must survive k=3 intact")
    // triangle with a pendant 3-chain: the tail peels (including the
    // attachment edge), the triangle alone survives
    val tri = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    val tail = Seq((2L, 10L), (10L, 11L), (11L, 12L))
    assert(core(tri ++ tail, 2) === Map(0L -> 2L, 1L -> 2L, 2L -> 2L),
      "only the triangle survives; the pendant tail cascades away")
  }

  test("z-order interleave places each input bit at its Morton position") {
    // zOrderKey(a, b): bit i of a → position 2i, bit i of b → 2i+1.
    // Hand-checked: a=5 (101₂), b=3 (011₂) → 1·2⁰ + 1·2¹ + 0·2² + 1·2³ +
    // 1·2⁴ + 0·2⁵ = 27; the all-ones masks land on alternating bits.
    val rows = Seq((5L, 3L), (0xFFFFL, 0L), (0L, 0xFFFFL), (0L, 0L),
      (0xFFFFL, 0xFFFFL)).toDF("a", "b")
      .select(ops.Extended.zOrderKey(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    assert(rows(0) === 27L)
    assert(rows(1) === 0x55555555L, "a's bits occupy even positions")
    assert(rows(2) === 0xAAAAAAAAL, "b's bits occupy odd positions")
    assert(rows(3) === 0L)
    assert(rows(4) === 0xFFFFFFFFL)
    // locality: adjacent codes in either dim stay within a bounded z gap
    val z1 = Seq((7L, 9L)).toDF("a", "b")
      .select(ops.Extended.zOrderKey(col("a"), col("b"))).head.getLong(0)
    val z2 = Seq((8L, 9L)).toDF("a", "b")
      .select(ops.Extended.zOrderKey(col("a"), col("b"))).head.getLong(0)
    assert(z1 !== z2)
  }

  test("length quantiles: a single-doc stratum returns that doc's count for every quantile") {
    val dir = tempDir("graft_lq")
    Seq((1L, "one two three", "solo", "src", 13L),
        (2L, "a b", "pair", "src", 3L),
        (3L, "c d e f", "pair", "src", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("text_length_quantiles")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))).toMap
    // n=1: ceil(.5)=ceil(.9)=1 → p50=p90=pmax=3
    assert(out("solo") === ((3, 3, 3, 1L)))
    // n=2: ceil(1.0)=1 → p50 = smaller count (2); ceil(1.8)=2 → p90 = 4
    assert(out("pair") === ((2, 4, 4, 2L)))
  }

  test("min-label fixpoint converges on a 30-link chain without planner blowup") {
    // worst case for label propagation: a path graph, where the min
    // label crawls one hop per iteration (30 iterations here — the depth
    // a naive cache-only loop would nest into a 30-deep logical plan).
    // Generations are localCheckpoint'd, so the final plan must be a
    // single LogicalRDD scan, not 30 nested joins.
    val links = (0L until 30L).map(i => (i, i + 1))
    val ue = (links ++ links.map(_.swap)).toDF("src", "dst")
    val lbl = graph.Components.minLabel(ue)
    val got = lbl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to 30L).map(_ -> 0L).toMap,
      "every chain vertex must settle on component label 0")
    val plan = lbl.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") && !plan.contains("Join"),
      s"converged labels must be a checkpointed scan, got:\n$plan")
  }

  test("count-min sketch skips null keys") {
    import org.apache.spark.sql.graft.{Bridge, CountMinSketchAgg => CMS}
    import spark.implicits._
    def sk(df: org.apache.spark.sql.DataFrame): Array[Long] =
      df.agg(Bridge.column(
          CMS(Bridge.expression(col("k"))).toAggregateExpression()).as("s"))
        .head().getAs[scala.collection.Seq[Long]](0).toArray
    val withNulls = Seq(Some(1L), None, Some(2L), None, Some(1L))
      .toDF("k")
    val without = Seq(1L, 2L, 1L).toDF("k")
    assert(sk(withNulls).sameElements(sk(without)),
      "null keys must not perturb any counter")
  }

  test("multi-source BFS on a disconnected seed yields only the seed row") {
    import spark.implicits._
    val e = Seq((10L, 11L)).toDF("src", "dst") // seed 1 not in the graph
    val ue = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val rows = graph.Components.multiBfsCounts(ue, Seq(1L), 4).collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 1L && rows.head.getLong(1) === 1L &&
      rows.head.getInt(2) === 0 && rows.head.getLong(3) === 1L)
  }

  test("Luby MIS on an edgeless vertex set selects everyone in one round") {
    import spark.implicits._
    val nodes = (1L to 5L).toDF("id")
    val ue = Seq.empty[(Long, Long)].toDF("src", "dst")
    val (mis, rounds) = graph.Components.misLuby(nodes, ue, 4)
    assert(mis.collect().map(_.getLong(0)).toSet === (1L to 5L).toSet)
    assert(rounds === 1)
  }

  test("Luby MIS on an EMPTY vertex set returns empty in zero rounds") {
    import spark.implicits._
    val nodes = Seq.empty[Long].toDF("id")
    val ue = Seq.empty[(Long, Long)].toDF("src", "dst")
    // pre-fix this NPE'd on the NULL max(id) aggregate; the empty MIS
    // must also be orderBy-able by callers (non-null DataFrame)
    val (mis, rounds) = graph.Components.misLuby(nodes, ue, 4)
    assert(mis.orderBy("id").collect().isEmpty)
    assert(rounds === 0)
  }

  test("weighted systematic sample degrades to full sample when total weight < k") {
    // total n_chars = 12 < k = 50 ⇒ step = tot DIV 50 would be 0 and
    // both engines fail with division by zero pre-fix; greatest(step,1)
    // selects every doc (each unit-weight interval contains an integer)
    import spark.implicits._
    val dir = tempDir("graft_wsample")
    Seq((1L, "abc", "en", "src", 3L),
        (2L, "abcd", "en", "src", 4L),
        (3L, "abcde", "en", "src", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("text_weighted_sample")(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("BPE merges: greedy overlap, second-order merges, early stop") {
    // corpus "aaab aaab ab": round 1 merges (a,a) f=4 — and greedy
    // left-to-right turns aaab into [aa,a,b], NOT [a,aa,b]; round 2
    // (a,b) f=3; round 3 the second-order pair (aa,ab) f=2; round 4
    // has no pairs left and the loop must stop early at 3 merges.
    import spark.implicits._
    val dir = tempDir("graft_bpe")
    Seq((1L, "aaab aaab ab", "en", "src", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("text_bpe_merges")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq((1, "a", "a", 4L), (2, "a", "b", 3L), (3, "aa", "ab", 2L)))
  }

  test("BPE encode segments with the trained merges (full-merge corpus → 1 token/word)") {
    import spark.implicits._
    val dir = tempDir("graft_bpe_enc")
    Seq((1L, "aaab aaab ab", "en", "src", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // after the 3 learned merges both words collapse to single symbols,
    // so n_bpe = n_words = 3 and the segmentation is the words verbatim
    val r = SparkEntry.queries("text_bpe_encode")(spark, dir).collect()
    assert(r.length === 1)
    assert(r.head.getLong(1) === 3L && r.head.getLong(2) === 3L)
    val expectMd5 = spark.sql("SELECT md5('aaab | aaab | ab')").head().getString(0)
    assert(r.head.getString(3) === expectMd5,
      "segmentation md5 must equal the fully-merged words in order")
  }

  test("BPE merges on a single-character corpus produce zero merges") {
    import spark.implicits._
    val dir = tempDir("graft_bpe1")
    Seq((1L, "a a a", "en", "src", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // every word is one symbol — no adjacent pair exists anywhere, so
    // the trainer must emit an empty (typed) result, not loop or throw
    assert(SparkEntry.queries("text_bpe_merges")(spark, dir).collect().isEmpty)
  }

  test("attribution join boundaries: strictly-after start, inclusive end") {
    import spark.implicits._
    import graft.streaming.Streams
    def evt(id: Long, min: Int, u: Long, t: String) =
      (id, java.sql.Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00"),
        u, t, 1.0)
    val views = Seq(evt(1, 60, 7, "view"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val purchases = Seq(
      evt(100, 60, 7, "purchase"),   // same instant as the view → excluded
      evt(101, 120, 7, "purchase"),  // exactly +1h → included (closed end)
      evt(102, 121, 7, "purchase"))  // past the bound → excluded
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Streams.attributionJoin(views, purchases)
      .select("purchase_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(101L), s"boundary semantics broken: $got")
  }

  test("FIND_EDGES on an all-border plane is the identity; HSV corners hold") {
    // 2×2: every pixel is frame — PIL copies the input untouched
    val tiny = Array(10, 20, 30, 40)
    assert(ops.Image.findEdgesU8(tiny, 2, 2).toSeq === tiny.toSeq)
    // white has zero saturation and hue 0; pure gray likewise
    assert(ops.Image.rgbToHsvU8(255, 255, 255) === ((0, 0, 255)))
    // empty pixel list → empty sparse histogram, zero norm, no NaN
    val (h, l2) = ops.Image.hsvHistogramFull(Seq.empty)
    assert(h.isEmpty && l2 === 0.0)
  }

  test("Borůvka MST on an empty edge list returns an empty forest in zero rounds") {
    import spark.implicits._
    val ue = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    val (mst, rounds) = graph.Components.boruvkaMst(ue)
    assert(mst.orderBy("lo").collect().isEmpty)
    assert(rounds === 0)
  }

  test("Borůvka MST on one edge picks it in one round; weight ties break by (lo, hi)") {
    import spark.implicits._
    val one = Seq((1L, 2L, 5L), (2L, 1L, 5L)).toDF("src", "dst", "w")
    val (m1, r1) = graph.Components.boruvkaMst(one)
    assert(m1.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq == Seq((1, 1L, 2L, 5L)))
    assert(r1 === 1)
    // triangle with ALL-equal weights: MST = the two lexicographically
    // smallest edges, never a cycle
    val triE = Seq((1L, 2L, 7L), (2L, 3L, 7L), (1L, 3L, 7L))
    val tri = (triE ++ triE.map(e => (e._2, e._1, e._3))).toDF("src", "dst", "w")
    val (m2, _) = graph.Components.boruvkaMst(tri)
    val picked = m2.collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(picked == Set((1L, 2L), (1L, 3L)), s"tie-break must be (w, lo, hi): $picked")
  }

  test("Borůvka MST on two disconnected pairs yields a two-tree forest") {
    import spark.implicits._
    val e = Seq((1L, 2L, 3L), (10L, 11L, 4L))
    val ue = (e ++ e.map(x => (x._2, x._1, x._3))).toDF("src", "dst", "w")
    val (mst, rounds) = graph.Components.boruvkaMst(ue)
    assert(mst.collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet ==
      Set((1L, 2L, 3L), (10L, 11L, 4L)))
    assert(rounds === 1)
  }

  test("Borůvka uniquePairs path is forest-identical to the canonicalizing path") {
    import spark.implicits._
    // unique per directed pair, w = the pair minimum — the substrate's
    // contract; both paths must pick the identical forest
    val e = Seq((1L, 2L, 7L), (2L, 3L, 4L), (3L, 4L, 7L), (1L, 4L, 9L),
      (5L, 6L, 2L))
    val ue = (e ++ e.map(x => (x._2, x._1, x._3))).toDF("src", "dst", "w")
    val (ma, ra) = graph.Components.boruvkaMst(ue)
    val (mb, rb) = graph.Components.boruvkaMst(ue, uniquePairs = true)
    assert(ra === rb)
    assert(ma.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet ===
      mb.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet)
  }

  test("CUSUM prefix identity clamps at zero through a long negative stretch") {
    // pure-driver check of the identity the query relies on: a deep dip
    // followed by a rise must restart from 0, not from the dip's depth
    val xs = Seq(50L, 10L, 10L, 200L, 150L) // k = 120 → d: -70,-110,-110,+80,+30
    val k = 120L
    var s = 0L
    var cu = 0L
    var mn = 0L
    xs.foreach { x =>
      s = math.max(0L, s + (x - k))
      cu += x - k
      mn = math.min(mn, cu)
      assert(s == cu - mn, s"identity broke at x=$x: clamp $s vs prefix ${cu - mn}")
    }
    assert(s == 110L) // 80 + 30 after the full clamp
  }

  test("unigram tokenizer: degenerate single-char corpus trains and encodes") {
    import spark.implicits._
    // a corpus of one repeated character: vocab = {'a'} with p = 1, so
    // the cost is floor(-ln((5+1)/(5+1))·2^20) = 0 and the segmentation
    // is the character itself
    val words = Seq(("a", 5L)).toDF("word", "cnt")
    val pieces = ops.Text.unigramPieces(words)
    assert(pieces.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("a", 5L)))
    val chars = pieces.filter(length(col("piece")) === 1)
    val vocab = ops.Text.unigramVocabFrom(chars, pieces, 8).collect()
    assert(vocab.length === 1 && vocab(0).getString(0) === "a"
      && vocab(0).getLong(2) === 0L)
    val seg = ops.Text.viterbiSegment(words, Map("a" -> 0L)).collect()
    assert(seg(0).getString(3) === "a" && seg(0).getLong(2) === 0L)
  }

  test("unigram Viterbi: cost ties resolve to the LONGEST piece; OOV hits the sentinel") {
    import spark.implicits._
    // hand-pinned tie: 'abab' as one 4-piece (30) vs 'ab ab' (15+15=30)
    // — equal cost, the rule picks the longer final piece
    val words = Seq(("abab", 1L)).toDF("word", "cnt")
    val seg = ops.Text.viterbiSegment(words,
      Map("a" -> 10L, "b" -> 10L, "ab" -> 15L, "abab" -> 30L)).collect()
    assert(seg(0).getLong(2) === 30L)
    assert(seg(0).getString(3) === "abab", "tie must prefer the longest piece")
    // flip the tie: make the 4-gram strictly worse — the pair wins
    val seg2 = ops.Text.viterbiSegment(words,
      Map("a" -> 10L, "b" -> 10L, "ab" -> 15L, "abab" -> 31L)).collect()
    assert(seg2(0).getString(3) === "ab ab")
    // a word containing an out-of-vocabulary character cannot segment:
    // the DP cost crosses the INF sentinel (the train query's require)
    val bad = ops.Text.viterbiSegment(Seq(("axb", 1L)).toDF("word", "cnt"),
      Map("a" -> 10L, "b" -> 10L)).collect()
    assert(bad(0).getLong(2) >= 1099511627776L)
  }

  test("round-11 graph kernels survive empty and degenerate inputs") {
    import spark.implicits._
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val noNodes = Seq.empty[Long].toDF("id")
    // SCC of the empty graph: empty, zero rounds of real work
    val (scc0, _) = graph.Components.sccColoring(noNodes, noEdges, 4)
    assert(scc0.collect().isEmpty)
    // a single self-loop vertex is its own SCC
    val loop = Seq((7L, 7L)).toDF("src", "dst")
    val (scc1, r1) = graph.Components.sccColoring(
      Seq(7L).toDF("id"), loop, 4)
    assert(scc1.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((7L, 7L)) && r1 === 1)
    // reachability from an empty seed set is empty without iterating
    assert(graph.Components.reachableFrom(noNodes, loop, 4).collect().isEmpty)
    // DAG layering of an edgeless vertex set: everyone at layer 0
    val lay = graph.Components.dagLayers(Seq(1L, 2L).toDF("id"), noEdges, 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lay === Map(1L -> 0, 2L -> 0))
    // directed min-label: a sink-only vertex keeps a row (the reason
    // the kernel takes an explicit vertex set)
    val de = Seq((5L, 3L)).toDF("src", "dst")
    val ml = graph.Components.minLabelDirected(Seq(5L, 3L).toDF("id"), de)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ml === Map(5L -> 5L, 3L -> 3L))
  }

  test("eccentricity drops a seed that reaches nothing (both engines agree by construction)") {
    import spark.implicits._
    // multiBfs yields only the seed row at d=0; the d>0 filter then
    // removes the seed from the report — same as the oracle's recursive
    // closure, whose `per` CTE is empty for that lm
    val e = Seq((10L, 11L)).toDF("src", "dst")
    val ue = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val dist = graph.Components.multiBfs(ue, Seq(1L), 4)
    assert(dist.filter(col("d") > 0).collect().isEmpty)
  }

  test("unsatisfiable motif patterns return empty frames with the declared schema") {
    val g = graph.PropertyGraph.supplierPartGraph(spark, sf)
    // label conflict: SUPPLIES destinations are Parts, never Suppliers
    val byLabel = g.find("(s)-[:SUPPLIES]->(p:Supplier) RETURN s.id AS src, p.id AS dst")
    assert(byLabel.columns.toSeq == Seq("src", "dst"))
    assert(byLabel.count() == 0)
    // rel-type that exists nowhere in the graph
    assert(g.find("(a)-[:NO_SUCH_TYPE]->(b) RETURN a.id AS a").count() == 0)
    // contradictory predicates on one variable
    assert(g.find(
      "(a)-[:SUPPLIES]->(b) WHERE a.id = 1 AND a.id = 2 RETURN a.id AS a")
      .count() == 0)
    // and an aggregate over the empty match is an empty grouped frame
    assert(g.find(
      "(a)-[:NO_SUCH_TYPE]->(b) RETURN a.id AS a, count(b) AS d").count() == 0)
  }
}
