package graft

import org.apache.spark.sql.functions._

/** Round-16 pins: the persisted ANN index must genuinely separate build
  * from serve (VERDICT-r15 task 1) — same answers as the memoized
  * search, a serve plan whose only inputs are the artifact and the
  * corpus, and zero rebuilds for a second (fresh-memo) session. */
class Round16Spec extends SparkSpec {

  test("persisted graph search: serve ≡ memoized search, row for row") {
    val served = SparkEntry.queries("ann_graph_search_persisted")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val memoed = SparkEntry.queries("ann_graph_search")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(served == memoed,
      "the persisted-index serve must reproduce the memoized search exactly")
  }

  test("persisted graph search: a second session serves with zero rebuilds") {
    // prime: this session has built + published (idempotent)
    SparkEntry.queries("ann_graph_search_persisted")(spark, sf).count()
    val writes = ops.Vector.gsPersist.builds.get()
    val builds = ops.Vector.nnIndexBuilds.get()
    val fresh = spark.newSession() // fresh SessionMemo keys, shared context
    val rows = SparkEntry.queries("ann_graph_search_persisted")(fresh, sf).count()
    assert(rows == 10)
    assert(ops.Vector.gsPersist.builds.get() == writes,
      "a fresh session must serve from the published artifact, not re-publish")
    // the behavioral form of "the serve path contains no NN-descent
    // stage": the descent's only entry point is nnSearchIndex, whose
    // compute probe must not fire for the fresh session's serve
    assert(ops.Vector.nnIndexBuilds.get() == builds,
      "a fresh session's serve must not run the NN-descent build")
  }

  test("persisted graph search: a vanished artifact re-resolves and republishes") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // r16 pinned hard FAILURE when the artifact vanished mid-process;
    // r17 (ADVICE r16) pins the production behavior instead: the serve
    // path re-resolves, finds no fingerprint-matching version, REBUILDS
    // and republishes — same answers, one extra build, no stale state.
    // Runs against a THROWAWAY COPY of the dataset: destroying the
    // shared fixture's artifact would orphan the file listings inside
    // every other suite's session memos (the shared-SparkSession rule
    // in TestSpark's doc).
    val ds = tempDir("graft-vanish")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      Paths.get(s"$ds/embeddings.parquet"))
    val before = SparkEntry.queries("ann_graph_search_persisted")(spark, ds)
      .collect().map(_.toSeq).toSeq
    val base = Paths.get(ops.Vector.gsPersistedIndex(spark, ds))
    // park the artifact OUTSIDE the family glob so resolution must miss
    val aside = Paths.get(base.toString.replace("graft_idx_", "graft_aside_"))
    Files.move(base, aside, StandardCopyOption.ATOMIC_MOVE)
    try {
      val writes = ops.Vector.gsPersist.builds.get()
      val after = SparkEntry.queries("ann_graph_search_persisted")(spark, ds)
        .collect().map(_.toSeq).toSeq
      assert(ops.Vector.gsPersist.builds.get() == writes + 1,
        "a vanished artifact must trigger exactly one rebuild+republish")
      assert(after == before, "the republished artifact must serve the same answers")
    } finally {
      // reclaim both the aside copy and the republished family now —
      // the dataset dir dies with the JVM, its artifacts should too
      for (d <- aside.toString +: graft.tools.Artifact
          .versions(ops.Vector.gsIdxToken, graft.tools.Artifact.dsKey(ds))
          .map(_._2)) {
        val p = Paths.get(d)
        if (Files.exists(p)) {
          val s = Files.walk(p)
          try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f => Files.deleteIfExists(f))
          finally s.close()
        }
      }
    }
  }

  test("filtered graph search: recall ≥ the IVF filtered tier") {
    // at the driver-gate corpus (sf0.01, where the judged number lives)
    // AND the fixture corpus — the widened-beam visited set must never
    // retrieve worse than probing 4 of 8 IVF cells under the same
    // label = 3 predicate
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      def hits(q: String): Long =
        SparkEntry.queries(q)(spark, dir)
          .filter(col("in_exact_topk")).count()
      val (g, ivf) = (hits("ann_graph_search_filtered"), hits("ann_filtered_topk"))
      info(s"$dir: graph=$g ivf=$ivf")
      assert(g >= ivf,
        s"filtered graph search recall $g fell below the IVF filtered tier $ivf at $dir")
    }
  }

  // Q·(2m)² = Σ_c (2m·in2_c − tot_c²) over the ORIGINAL weighted graph —
  // exact BigInt throughout (the Round15Spec/graph_modularity convention)
  private def qfp(cm: org.apache.spark.sql.DataFrame): BigInt = {
    val ue = graph.PropertyGraph.weightedUndirectedEdges(spark, sf)
    val m2 = ue.agg(sum("w")).head().getLong(0)
    val deg = ue.groupBy(col("src").as("id")).agg(sum("w").as("k"))
    val in2 = ue
      .join(cm.select(col("id").as("src"), col("c").as("cs")), "src")
      .join(cm.select(col("id").as("dst"), col("c").as("cd")), "dst")
      .filter(col("cs") === col("cd"))
      .groupBy(col("cs").as("c")).agg(sum("w").as("in2"))
    val tot = cm.join(deg, "id").groupBy("c").agg(sum("k").as("tot"))
    tot.join(in2, Seq("c"), "left")
      .select((lit(m2) * coalesce(col("in2"), lit(0L))
        - col("tot") * col("tot")).as("contrib"))
      .collect().map(r => BigInt(r.getLong(0))).sum
  }

  test("louvain hierarchy: modularity non-decreasing at EVERY level") {
    val trail = graph.PropertyGraph.louvainHierarchyTrail(spark, sf)
    val qs = trail.map(qfp)
    info(s"Qfp per level: ${qs.mkString(" -> ")} (${trail.length} levels)")
    assert(trail.length >= 2, "the fixture graph must merge beyond level 1")
    qs.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a, s"a contraction level DECREASED exact modularity: $a -> $b")
    }
    // the query's levels_used must be the trail length and its labels
    // the trail's last frame
    val q = SparkEntry.queries("graph_louvain_hierarchy")(spark, sf)
    assert(q.select("levels_used").head().getInt(0) == trail.length)
  }

  test("delete-repair: post-repair recall ≥ the rebuilt-from-scratch floor") {
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val repaired = SparkEntry.queries("ann_graph_delete_repair")(spark, dir)
        .filter(col("in_exact_topk")).count()
      val floor = ops.Vector.gsRebuiltRecallFloor(spark, dir)
      info(s"$dir: repaired=$repaired rebuilt-floor=$floor")
      assert(repaired >= floor,
        s"batch-local repair recall $repaired fell below the full-rebuild " +
          s"floor $floor at $dir — consolidation is destroying navigability")
    }
  }

  test("persisted keep-list: serve ≡ memoized keep-list, zero pair rebuilds") {
    val served = SparkEntry.queries("dedup_keep_list_persisted")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val memoed = SparkEntry.queries("dedup_keep_list")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(served == memoed,
      "the persisted pair artifact must reproduce the memoized keep-list exactly")
    val builds = ops.Text.dupPairBuilds.get()
    val fresh = spark.newSession()
    SparkEntry.queries("dedup_keep_list_persisted")(fresh, sf).count()
    assert(ops.Text.dupPairBuilds.get() == builds,
      "a fresh session must serve the keep-list from the published artifact, " +
        "not rebuild the sketch/pair spine")
  }

  test("routed graph search: fewer hops than hash-fixed entries, same answers") {
    import graft.tools.BoundProbe
    BoundProbe.clear()
    val routed = SparkEntry.queries("ann_graph_search_routed")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    val fixed = SparkEntry.queries("ann_graph_search")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(routed == fixed,
      "upper-layer routing changed the retrieved set — both searches sit " +
        "at the exact ceiling on the fixture corpus, so the sets must agree")
    val rh = BoundProbe.maxUsed("graph_beam_search_routed").get._1
    val fh = BoundProbe.maxUsed("graph_beam_search").get._1
    info(s"hops: routed=$rh fixed=$fh")
    assert(rh <= fh,
      s"routing through the upper layer must not LENGTHEN the search " +
        s"(routed $rh vs fixed $fh hops)")
  }

  test("corpus manifest verdicts agree with the parent stages") {
    val m = SparkEntry.queries("text_corpus_manifest")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val f = SparkEntry.queries("text_filter_pipeline")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.keySet == f.keySet, "the manifest must carry EVERY doc")
    m.foreach { case (id, v) =>
      v match {
        // the manifest's quality gates are the filter pipeline's, verbatim
        case "too_short" | "low_quality" => assert(f(id) == v, s"doc $id: $v vs ${f(id)}")
        case "dup_exact"                 => assert(f(id) == "dup", s"doc $id")
        // docs the mixture stages ever see must have passed the filter
        case "kept" | "over_budget" | "near_dup" =>
          assert(f(id) == "kept", s"doc $id reached the mixture but filter says ${f(id)}")
        case other => fail(s"unknown verdict $other")
      }
    }
    val kept = m.values.count(_ == "kept")
    info(s"verdicts: ${m.values.groupBy(identity).view.mapValues(_.size).toMap}")
    assert(kept > 0, "the manifest must keep something on the fixture corpus")
  }

  test("beam sweep rows are self-describing about convergence") {
    val rows = SparkEntry.queries("ann_beam_sweep")(spark, sf).collect()
    assert(rows.forall(r => !r.isNullAt(r.fieldIndex("converged"))))
    rows.foreach { r =>
      val hops = r.getInt(r.fieldIndex("hops_used"))
      val conv = r.getBoolean(r.fieldIndex("converged"))
      assert(conv == (hops <= 10), s"converged flag disagrees with hops_used=$hops")
    }
  }
}
