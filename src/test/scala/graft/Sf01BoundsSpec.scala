package graft

import graft.tools.BoundProbe

/** VERDICT-r13 task 4: drive every require-bounded iterative kernel at
  * sf0.1 — the bench scale, one decade above the correctness gate — and
  * assert each bound holds with DOCUMENTED margin.
  *
  * Why sf0.1 and not the usual sf0.001 fixture: every one of these
  * bounds (BFS depth, σ-tower unroll, peel/contraction round caps, the
  * temporal unroll) is DATA-DEPENDENT — it grows with the graph's
  * diameter or skew, so it can pass at small sf and throw one decade
  * up. That is exactly how graph_temporal_reach's r12 crash shipped
  * invisibly: the 16-level unroll covered sf0.01's temporal diameter
  * but not sf0.1's 18, CORRECTNESS runs at the small sf, and the bench
  * swallowed the throw. Kernels record their actual usage through
  * [[BoundProbe]]; this spec runs the covering query set at sf0.1 and
  * pins usage + margin ≤ bound, so diameter creep fails a test long
  * before it becomes a thrown query at bench (or production) scale.
  */
class Sf01BoundsSpec extends SparkSpec {
  private val sf01 = "/root/testdata/sf0.1"

  /** kernel -> (covering query, required margin in rounds/levels).
    *
    * Margin rationale: BFS-family depths grow ~log-slowly with data
    * (diameter of the bipartite supplier-part graph), so 2 spare levels
    * is a decade of growth; the temporal diameter grows fastest
    * (odd/even bipartite waves — r12's failure was 18 vs 16), so its
    * margin is the largest; contraction/peel kernels converge
    * geometrically (components at least halve per round), so +2 rounds
    * covers a 4x data growth. */
  private val kernels: Seq[(String, String, Int)] = Seq(
    ("multi_bfs",        "graph_shortest_paths",  2),
    ("multi_bfs_counts", "graph_path_counts",     2),
    ("scc_coloring",     "graph_scc",             2),
    ("dag_layers",       "graph_scc_layers",      2),
    ("mis_luby",         "graph_mis_luby",        2),
    ("weighted_sssp",    "graph_weighted_sssp",   2),
    ("mst_boruvka",      "graph_mst_boruvka",     2),
    ("temporal_reach",   "graph_temporal_reach",  6),
    ("kcore_peel",       "dedup_kcore",           2),
    ("ktruss_peel",      "dedup_ktruss",          2),
    ("core_numbers_levels", "dedup_core_numbers", 2),
    ("core_numbers_peel", "dedup_core_numbers",   2),
    ("graph_beam_search", "ann_graph_search",     2),
    ("graph_beam_search_batch", "ann_graph_search_batch", 2),
    ("graph_beam_search_persisted", "ann_graph_search_persisted", 2),
    ("graph_beam_search_filtered", "ann_graph_search_filtered", 2),
    ("louvain_levels",   "graph_louvain_hierarchy", 2),
    ("graph_beam_search_repair", "ann_graph_delete_repair", 2),
    ("graph_beam_search_repair_pub", "ann_graph_repair_publish", 2),
    ("graph_beam_search_insert_pub", "ann_graph_insert_publish", 2),
    ("graph_beam_search_routed", "ann_graph_search_routed", 2))

  test("every bounded kernel drains at sf0.1 with documented margin") {
    // ADVICE r14: BoundProbe is a process-global max-used merge — another
    // suite's synthetic runs (Round14Spec's chain-graph temporalReach)
    // can outrank the sf0.1 record under same-JVM suite ordering, making
    // the margin assert evaluate against the synthetic bound. Clear
    // first so every record below is from THIS sweep's covering query.
    BoundProbe.clear()
    for ((kernel, query, margin) <- kernels) {
      // run the covering query at sf0.1 — the require inside the kernel
      // is the hard gate; completing at all proves the bound covers sf0.1
      SparkEntry.queries(query)(spark, sf01).count()
      val (used, bound) = BoundProbe.maxUsed(kernel).getOrElse(
        fail(s"$kernel: no BoundProbe record after running $query — " +
          "instrumentation unplugged?"))
      info(f"$kernel%-18s used $used%2d of $bound%2d (margin $margin via $query)")
      assert(used + margin <= bound,
        s"$kernel used $used of $bound at sf0.1 — fewer than $margin spare " +
          s"rounds; raise the bound (and its oracle unroll) BEFORE the next " +
          s"scale step turns this into a thrown query")
    }
  }
}
