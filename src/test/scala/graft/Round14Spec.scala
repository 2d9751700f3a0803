package graft

import org.apache.spark.sql.functions._
import graft.ops.Text

/** Round-14 pins: the ADVICE-r13 fixes (DoReMi fixed-point overflow,
  * temporal-reach unroll guard) with the exact boundary cases that
  * distinguished the bug from the fix. */
class Round14Spec extends SparkSpec {
  import spark.implicits._

  // ── ml_doremi_weights overflow (ADVICE r13, medium) ─────────────────
  test("scaledDiv matches BigInt n*s/d past the Long n*s wrap point") {
    val Scale = 1048576L // 2^20
    // nll values straddling 2^43 (where nll*Scale wraps a Long): the
    // exact r13 failure mode — a domain holding ~1M tokens at the 2^20
    // cost grid. Also the u-normalization shape (small numerator, +1 d).
    val cases = Seq(
      (1L << 43, 999983L),             // just at the wrap
      ((1L << 43) + 12345L, 1048573L), // past it
      ((1L << 50) - 7L, 33554467L),    // far past it
      (8796093022208L, 1000003L),      // 2^43, prime-ish divisor
      (123L, 7L), (0L, 5L), (Long.MaxValue / Scale, 3L))
    for ((n, d) <- cases) {
      val expect = (BigInt(n) * Scale / d).toLong
      assert(Text.scaledDiv(n, d, Scale) == expect,
        s"scaledDiv($n, $d) != BigInt reference")
      // the naive product genuinely wraps on the big cases — the bug was real
      if (BigInt(n) * Scale > Long.MaxValue)
        assert(n * Scale / d != expect, s"fixture: $n*Scale should wrap")
    }
  }

  test("sqlScaledDiv is the token-identical DuckDB identity (string form)") {
    // both engines must evaluate the SAME Euclidean split; pin the SQL
    // text so a drive-by 'simplification' back to (n*s)//d is visible
    val sql = Text.sqlScaledDiv("nll", "tokens", "1048576")
    assert(sql.contains("// (tokens)) * (1048576)"))
    assert(sql.contains("% (tokens)) * (1048576) // (tokens)"))
  }

  // ── temporal-reach unroll guard (ADVICE r13, low → exact-bound rework) ──
  // A directed chain 0→1→…→D with non-decreasing edge times has temporal
  // diameter exactly D: level k first reaches node k, so D improving
  // levels then one empty prover level. The guard contract: return iff
  // D ≤ unroll (matching the oracle's unroll-level chain), throw iff
  // D > unroll — at EVERY (unroll, batch) alignment, including the
  // batch=1 and batch∤unroll shapes where the r13 guard (and the naive
  // level-count guard) were off by up to batch−1 levels.
  private def chain(d: Int) =
    (0 until d).map(i => (i.toLong, i.toLong + 1, i.toLong))
      .toDF("src", "dst", "t")

  private def reach(d: Int, unroll: Int, batch: Int) =
    graph.PropertyGraph.temporalReach(spark, chain(d), seed = 0L,
      unroll = unroll, batch = batch)

  test("diameter == unroll converges for every batch alignment") {
    for ((unroll, batch) <- Seq((8, 3), (8, 1), (6, 3), (9, 3), (8, 4))) {
      val out = reach(unroll, unroll, batch).orderBy("id").collect()
      assert(out.length == unroll + 1, s"(unroll=$unroll,batch=$batch)")
      // earliest arrival of node k on this chain is day k−1 (edge times)
      assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        (0 to unroll).map(k => (k.toLong, math.max(0L, k - 1L))),
        s"(unroll=$unroll,batch=$batch)")
    }
  }

  test("diameter == unroll+1 throws for every batch alignment (never a silent wrong answer)") {
    for ((unroll, batch) <- Seq((8, 3), (8, 1), (6, 3), (9, 3), (8, 4))) {
      val ex = intercept[IllegalArgumentException] {
        reach(unroll + 1, unroll, batch).collect()
      }
      assert(ex.getMessage.contains("raise the unroll"),
        s"(unroll=$unroll,batch=$batch): ${ex.getMessage}")
    }
  }

  test("shallow diameters still converge early (batching unchanged off the boundary)") {
    val out = reach(3, 32, 3).orderBy("id").collect()
    assert(out.length == 4)
  }

  // ── power-iteration family: structural job-count pin (VERDICT r13 #7) ─
  // graph_pagerank_exact / graph_ppr_seed build ONE lazy 5-iteration
  // plan — a single action, with AQE materializing one shuffle stage per
  // exchange. ppr's wall time has swung 1.1–3.9 s across quiet runs of
  // identical code, so a timing can't catch a structural slip; the JOB
  // COUNT can: an accidental eager materialization per iteration (a
  // count/checkpoint inside the loop) multiplies it immediately. The
  // plan-shape pin (PlanSpec) covers the exchanges; this covers the
  // driver-sync structure.
  test("pagerank/ppr execute as one action with a bounded job count") {
    val sc = spark.sparkContext
    for (q <- Seq("graph_pagerank_exact", "graph_ppr_seed", "graph_katz_centrality")) {
      SparkEntry.queries(q)(spark, sf).collect() // warm the session memos
      val group = s"r14-jobpin-$q"
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try SparkEntry.queries(q)(spark, sf).collect()
      finally sc.clearJobGroup()
      // statusTracker is fed asynchronously off the listener bus — poll
      // until the count stabilizes rather than sleeping a fixed time
      def jobCount: Int = sc.statusTracker.getJobIdsForGroup(group).length
      var last = -1; var cur = jobCount; var spins = 0
      while (cur != last && spins < 50) {
        last = cur; Thread.sleep(100); cur = jobCount; spins += 1
      }
      info(s"$q: $cur jobs for one warm execution")
      assert(cur > 0, s"$q: job-group attribution broke — zero jobs recorded")
      // 5 iterations × one agg exchange + the merge/top-k stages:
      // measured 16 jobs under AQE at this scale for pagerank/ppr, 18
      // for katz (its overflow-margin agg reads the shared checkpoint).
      // 22 is the loud ceiling — one eager sync added inside the loop
      // lands at 5+ extra jobs (one per iteration), well past it.
      assert(cur <= 22,
        s"$q fired $cur jobs for one execution — an eager driver sync " +
          "crept into the power-iteration loop")
    }
  }

  // ── Louvain level-1: the partition must beat singletons on modularity ─
  test("Louvain sweeps strictly improve exact-fixed-point modularity over singletons") {
    val ue = graph.PropertyGraph.weightedUndirectedEdges(spark, sf)
    val m2 = ue.agg(sum("w")).head().getLong(0) // 2m
    val deg = ue.groupBy(col("src").as("id")).agg(sum("w").as("k"))
    val comm = SparkEntry.queries("graph_louvain_one_level")(spark, sf)
      .select(col("id"), col("community").as("c"))
    // Q·(2m)² = Σ_c (2m·in2_c − tot_c²), in2 counting both directions —
    // exact BIGINTs throughout (the graph_modularity convention)
    def qfp(cm: org.apache.spark.sql.DataFrame): BigInt = {
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
    val singles = deg.select(col("id"), col("id").as("c"))
    val qSingle = qfp(singles)
    val qLouvain = qfp(comm)
    info(s"Qfp singletons=$qSingle louvain=$qLouvain (scale (2m)², 2m=$m2)")
    assert(qLouvain > qSingle,
      "the modularity-ascent sweeps must beat the singleton partition")
    val nComm = comm.select("c").distinct().count()
    val nNodes = comm.count()
    assert(nComm < nNodes, "sweeps should merge nodes into communities")
  }

  // ── closeness/eccentricity shared dist tower (VERDICT r13 task 3) ────
  test("closeness and eccentricity read ONE memoized multiBfs tower") {
    // the memo must hand back the identical cached frame (one build per
    // session+dir), and both queries' executed plans must read it as an
    // in-memory scan rather than rebuilding the BFS tower
    val d1 = graph.PropertyGraph.closenessDist(spark, sf)
    val d2 = graph.PropertyGraph.closenessDist(spark, sf)
    assert(d1 eq d2, "closenessDist must memoize per (session, dir)")
    val closeness = SparkEntry.queries("graph_closeness_centrality")(spark, sf)
    val ecc = SparkEntry.queries("graph_eccentricity")(spark, sf)
    closeness.count(); ecc.count()
    for ((name, df) <- Seq("closeness" -> closeness, "eccentricity" -> ecc)) {
      // the tower is a materialized staging LEAF since the r17 staging
      // swap (GenSnap.stage, not cache()): both consumers must read
      // that leaf — a plain ExistingRDD scan with NO join anywhere (a
      // tower rebuild would need one equi-join per BFS hop)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Scan ExistingRDD"),
        s"$name must read the staged shared tower, got:\n$plan")
      // consumers may join AGGREGATES of the tower (eccentricity's d90
      // quantile join), but never re-run the BFS itself — whose hop
      // shape is the settled-set LeftAnti join
      assert(!plan.contains("LeftAnti"),
        s"$name must not rebuild the BFS tower, got:\n$plan")
    }
  }
}
