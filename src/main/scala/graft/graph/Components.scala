package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GenSnap
import org.apache.spark.storage.StorageLevel

import scala.annotation.tailrec
import scala.collection.mutable

/** The graph kernels: min-label components, reachability, DAG
  * layering, SCC coloring, label propagation, k-core peeling, core
  * numbers, k-truss, multi-source BFS and betweenness, Luby MIS,
  * min-plus shortest paths and Borůvka MST, each run distributed to a
  * driver-counted fixpoint.
  * The reference's equivalent is Neo4j-side traversal; here a superstep
  * is a few equi-joins plus partial aggregations, the per-superstep
  * shape Pregel runs at 100 TB.
  *
  * Every superstep loop goes through [[Fixpoint.run]]: each round's
  * generation is snapshot through [[GenSnap.snap]] (a lazy
  * `localCheckpoint` whose carried stats estimate is capped), and the
  * round's one driver `count()` materializes it and truncates its
  * lineage to a LogicalRDD. Plan depth therefore stays O(1) per round
  * (EdgeCaseSpec drives a 30-link chain), and the stats cap keeps
  * PLANNING cost O(1) too: a merge that joins a generation against a
  * frame derived from itself squares the size-only estimate per round
  * (see GenSnap's Scaladoc for the measured Borůvka blowup). One
  * driver count per round is the minimum for a driver-counted
  * fixpoint: skipping a count would leave a generation
  * unmaterialized. Under AQE that count is two jobs over a generation
  * of more than one partition, a map-stage job for the count's
  * exchange and then the result job ([[Fixpoint]]; the Bench ledger
  * reads 52 jobs for `graph_weighted_sssp`'s 8 rounds at sf0.1).
  * Round caps are loud `require`s, never silent truncation, and every
  * loop records its rounds in [[graft.tools.BoundProbe]]. Superseded
  * generations are dereferenced and reclaimed by the ContextCleaner;
  * the caller owns the edge cache. The peeling kernels ([[kCorePeel]], [[coreNumbers]],
  * [[kTruss]]) run a generation of at most [[Fixpoint.TaskRows]] rows
  * as one task instead ([[Fixpoint.inTask]]), with the same rounds.
  *
  * [[lpa]] and [[betweenness]] run a fixed depth and [[lpaConverged]]
  * stops quietly at its cap or on oscillation, so those three loops are
  * written out by hand.
  */
object Components {

  /** Packed deterministic vote argmax (r17 optimization round, guide
    * §1.2 step 2): LPA's tie rule max(struct(cnt, -label)) plans as a
    * SortAggregate — struct orderings are not hash-aggregable, and the
    * probe showed the per-superstep vote sorts as graph_lpa_converged's
    * top stages. With labels < 2^21 (always vertex ids here, loudly
    * require'd by callers) and per-(dst, label) vote counts ≤ degree <
    * |V| < 2^21, the total order packs into ONE BIGINT
    * cnt·2^21 + (2^21−1−label), whose plain max IS the lexicographic
    * (cnt DESC, ties to the smallest label) winner — HashAggregate-
    * planned, decoded by exact mask arithmetic, bit-identical labels. */
  private val VotePackLim = 1L << 21
  private def votePack(cnt: Column, nl: Column): Column =
    cnt * lit(VotePackLim) + (lit(VotePackLim - 1) - nl)
  private def voteUnpack(pk: Column): Column =
    lit(VotePackLim - 1) - pk.bitwiseAND(lit(VotePackLim - 1))
  /** A plan is an acceptable PRE-STAGED edge artifact when its root is
    * a checkpoint leaf, possibly under projections/filters only (r17:
    * the consolidated master edge leaf serves undirectedEdges et al. as
    * column projections — a projection of a materialized leaf scans at
    * RDD cost and cannot reintroduce the per-superstep build shuffle
    * this precondition exists to catch; any join/aggregate/exchange
    * in the lineage still fails it). */
  private def stagedView(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project => stagedView(pr.child)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => stagedView(f.child)
      // hot leaves carry a no-broadcast ResolvedHint (GenSnap) — a
      // transparent unary wrapper over the materialized leaf
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => stagedView(h.child)
      case _ => false
    }

  /** Whether the frame ITSELF is a persisted artifact: cache()'d, or a
    * checkpoint leaf at the plan root ([[stagedView]]). A lineage-wide
    * search would accept any unpersisted derivative of a checkpointed
    * frame and silently reintroduce the per-superstep edge shuffle. */
  private def persisted(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE || stagedView(df.queryExecution.analyzed)

  private def requireVoteDomain(nodes: DataFrame, who: String): Unit = {
    val r = nodes.agg(max(col("id"))).head()
    if (!r.isNullAt(0))
      require(r.getLong(0) < VotePackLim,
        s"$who packed-vote domain: max vertex id ${r.getLong(0)} >= 2^21 — " +
          "widen the vote encoding before ids this large")
  }

  /** [[minLabelDirected]] over the symmetric edge list, whose vertex set
    * is its `src` set.
    *
    * @param ue undirected edges (src, dst) — both directions present.
    * @return (id, l) — one row per vertex that appears in `ue`, with
    *         l = min vertex id reachable (the component label). */
  def minLabel(ue: DataFrame): DataFrame =
    // the distinct's own agg exchange already leaves this hash(id)
    minLabelDirected(ue.select(col("src").as("id")).distinct(), ue)

  /** Min-label propagation over a DIRECTED edge list with an explicit
    * vertex set: l(v) converges to min{u : u reaches v along edge
    * direction} (including v itself). The explicit `nodes` frame
    * matters because a directed graph has sink-only vertices that never
    * appear as `src`. One equi-join + one partial min-agg + one count
    * job per round. Convergence takes one round per hop of the longest
    * shortest label-carrying path (the directed diameter), so callers
    * should keep that bounded by graph design (the SCC chain graph
    * measures ~15 rounds at sf0.1).
    *
    * @param nodes (id) — every vertex of the subgraph.
    * @param de    directed edges (src, dst) — NOT symmetrized.
    * @return (id, l) with l = min forward-reaching vertex id. */
  def minLabelDirected(nodes: DataFrame, de: DataFrame): DataFrame = {
    // zero-exchange generation discipline (see [[lpaConverged]]): the
    // propagation agg output is hash(dst) (≡ id after the alias), so
    // with hash(id)-partitioned labels the merge left-join, the next
    // round's frontier join (when de is src-partitioned), and the
    // generation's own partitioning plan without exchanges — each round
    // pays the one min-agg shuffle. Change detection is fused into the
    // merge as a boolean, so the per-round count is a filter over the
    // just-materialized generation, not a join job.
    var lbl = nodes.select(col("id"), col("id").as("l"), lit(false).as("ch"))
      .transform(GenSnap.snap)
    Fixpoint.run("min_label") { _ =>
      val prop = de
        .join(lbl.select(col("id").as("src"), col("l").as("nl")), "src")
        .groupBy(col("dst")).agg(min("nl").as("ml"))
      lbl = lbl.join(prop, col("id") === col("dst"), "left")
        .select(col("id"),
          least(col("l"), coalesce(col("ml"), col("l"))).as("l"),
          (col("ml") < col("l")).as("chRaw"))
        .select(col("id"), col("l"), coalesce(col("chRaw"), lit(false)).as("ch"))
        .transform(GenSnap.snap)
      Fixpoint.Round(lbl.filter(col("ch")))
    }
    lbl.select(col("id"), col("l"))
  }

  /** Set reachability: every vertex reachable from ANY seed along the
    * directed edges (seeds included) — plain frontier BFS with a settled
    * anti-join, all seeds in one dataflow (no per-seed keying, unlike
    * [[multiBfs]] — the result is the UNION of cones, which is what
    * bowtie/impact analyses consume). `maxHops` is a loud diameter
    * bound. */
  def reachableFrom(seeds: DataFrame, de: DataFrame, maxHops: Int): DataFrame = {
    var settled = seeds.select(col("id")).distinct().transform(GenSnap.snap)
    var frontier = settled
    if (!frontier.isEmpty)
      Fixpoint.run("reachable_from", maxHops) { _ =>
        val next = de
          .join(frontier.select(col("id").as("src")), Seq("src"))
          .select(col("dst").as("id")).distinct()
          .join(settled, Seq("id"), "left_anti")
          .transform(GenSnap.snap)
        Fixpoint.Round(next, advance = _ => {
          settled = settled.union(next).transform(GenSnap.snap)
          frontier = next
        })
      }
    settled
  }

  /** Longest-path layering of a DAG: layer(v) = length of the longest
    * directed path ending at v (sources sit at 0) — the level structure
    * a topological schedule executes, computed by (max, +1) relaxation
    * to a driver-counted fixpoint (the [[minLabelDirected]] kernel in
    * the tropical semiring; converges in ≤ DAG-depth rounds). The
    * `maxIters` cap doubles as the ACYCLICITY check: a cycle relaxes
    * forever, so hitting the bound is a loud contract failure, never an
    * infinite loop.
    *
    * @return (id, layer) for every vertex in `nodes`. */
  def dagLayers(nodes: DataFrame, de: DataFrame, maxIters: Int): DataFrame = {
    var lbl = nodes.select(col("id"), lit(0).as("l"), lit(false).as("ch"))
      .transform(GenSnap.snap)
    Fixpoint.run("dag_layers", maxIters,
        hint = "the input has a cycle or the depth bound is too low") { _ =>
      val prop = de
        .join(lbl.select(col("id").as("src"), col("l").as("nl")), "src")
        .groupBy(col("dst")).agg((max("nl") + 1).as("ml"))
      lbl = lbl.join(prop, col("id") === col("dst"), "left")
        .select(col("id"),
          greatest(col("l"), coalesce(col("ml"), col("l"))).as("l"),
          (col("ml") > col("l")).as("chRaw"))
        .select(col("id"), col("l"), coalesce(col("chRaw"), lit(false)).as("ch"))
        .transform(GenSnap.snap)
      Fixpoint.Round(lbl.filter(col("ch")))
    }
    lbl.select(col("id"), col("l").as("layer"))
  }

  /** Strongly connected components by deterministic forward-backward
    * coloring (the Orzan / Fleischer–Hendrickson–Pinar family — the
    * parallel-native SCC; Tarjan's single DFS is inherently sequential
    * and never scales out). Each outer round:
    *
    *   1. FORWARD coloring: [[minLabelDirected]] gives every remaining
    *      vertex the color c(v) = min id that reaches it. A vertex with
    *      c(v) = v is a ROOT (nothing smaller reaches it) — the round's
    *      pivot set, one pivot per color, all colors in one dataflow.
    *   2. BACKWARD BFS within each color class: SCC(r) for a root r is
    *      exactly the vertices of color r that reach r. Because color
    *      classes partition the remaining graph, all roots sweep
    *      together: keep edges whose endpoints share a color, reverse
    *      them, BFS from the root set — one equi-join + one distinct +
    *      one anti-join per hop for every root at once (the [[multiBfs]]
    *      superstep budget).
    *   3. Peel every settled SCC, drop their edges, repeat.
    *
    * The global min-id vertex is always a root, so every round peels ≥ 1
    * SCC; min-id pivots make rounds — and therefore the output — fully
    * deterministic and oracle-replayable. The definitional oracle (SCC
    * label = min over mutually-reachable set) needs no round replay at
    * all. Everything is hash-partitioned equi-joins + partial aggs;
    * driver state is only the round counter and drain counts.
    *
    * @param nodes     (id) — the vertex set.
    * @param de        directed edges (src, dst).
    * @param maxRounds loud bound on outer peel rounds.
    * @return ((id, scc) — scc = min id of v's SCC; outer rounds run). */
  def sccColoring(nodes: DataFrame, de: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    var rem = nodes.select(col("id")).transform(GenSnap.snap)
    var edges = de.select(col("src"), col("dst")).transform(GenSnap.snap)
    var out: DataFrame = null
    val rounds = Fixpoint.run("scc_coloring", maxRounds, init = Some(rem)) { _ =>
      val lbl = minLabelDirected(rem, edges) // (id, l): forward min color
      // same-color edges, reversed: BFS follows them from the roots; the
      // join keys the frontier on the ORIGINAL dst, so settle state is
      // (vertex, its color) and colors never mix across classes.
      val ec = edges
        .join(lbl.select(col("id").as("src"), col("l").as("cs")), "src")
        .join(lbl.select(col("id").as("dst"), col("l").as("cd")), "dst")
        .filter(col("cs") === col("cd"))
        .select(col("src"), col("dst"), col("cs").as("c"))
        .transform(GenSnap.snap)
      var settled = lbl.filter(col("id") === col("l"))
        .select(col("id"), col("l").as("c"))
        .transform(GenSnap.snap)
      var frontier = settled
      // roots always exist while rem ≠ ∅
      Fixpoint.run("scc_backward_bfs", init = Some(frontier)) { _ =>
        // join on dst alone: ec carries c = color(dst) already (both
        // endpoints share a color by construction), so the frontier side
        // needs only its vertex ids
        val next = ec
          .join(frontier.select(col("id").as("dst")), Seq("dst"))
          .select(col("src").as("id"), col("c")).distinct()
          .join(settled.select(col("id")), Seq("id"), "left_anti")
          .transform(GenSnap.snap)
        Fixpoint.Round(next, advance = _ => {
          settled = settled.union(next).transform(GenSnap.snap)
          frontier = next
        })
      }
      val assigned = settled.select(col("id"), col("c").as("scc"))
      out = if (out == null) assigned else out.union(assigned)
      rem = rem.join(assigned.select(col("id")), Seq("id"), "left_anti")
        .transform(GenSnap.snap)
      Fixpoint.Round(rem, advance = _ =>
        edges = edges
          .join(assigned.select(col("id").as("src")), Seq("src"), "left_anti")
          .join(assigned.select(col("id").as("dst")), Seq("dst"), "left_anti")
          .transform(GenSnap.snap))
    }
    val res =
      if (out == null) nodes.select(col("id"), col("id").as("scc")).limit(0)
      else out
    (res, rounds)
  }

  /** LPA's loop-invariant edge list on the vote-join key. With
    * `stageEdges` it is shuffled onto src once and snapped (the
    * persisted-adjacency shape graph_pagerank_exact uses: later
    * supersteps shuffle only the |V|-row label frontier, not the |E|
    * edges; measured 7.0 s → ~4.3 s warm at sf0.1). Without it the
    * caller's frame must already be a persisted, src-partitioned
    * artifact (r8 advice): an unstaged frame would give correct results
    * while silently reintroducing the per-superstep full-edge shuffle,
    * so it fails loudly instead. */
  private def votingEdges(ue: DataFrame, stageEdges: Boolean, who: String): DataFrame =
    if (stageEdges) ue.repartition(col("src")).transform(GenSnap.snap)
    else {
      require(persisted(ue),
        s"$who(stageEdges = false) requires a persisted, src-partitioned edge list " +
          "(cache() or localCheckpoint it, e.g. PropertyGraph.undirectedEdges)")
      ue
    }

  /** One LPA vote: (id, bl) for every dst of `edges`, bl = the most
    * frequent label among its in-neighbors in `lbl` (id, l), ties
    * toward the smallest label. ONE exchange per vote (r18, guide
    * §2.4): hash(dst) satisfies the clustered distribution of BOTH the
    * (dst, nl) count and the by-dst packed argmax, so the explicit dst
    * repartition lets the two aggregations run partition-local over a
    * single shuffle instead of one exchange each. The output comes out
    * hash(dst) ≡ hash(id), so merging it into an id-partitioned label
    * frame plans with no exchange. PlanSpec pins this shape. */
  private[graft] def voteWinners(edges: DataFrame, lbl: DataFrame): DataFrame =
    edges
      .join(lbl.select(col("id").as("src"), col("l").as("nl")), "src")
      .repartition(col("dst"))
      .groupBy(col("dst"), col("nl")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("dst"))
      .agg(max(votePack(col("cnt"), col("nl"))).as("pk"))
      .select(col("dst").as("id"), voteUnpack(col("pk")).as("bl"))

  /** Synchronous label-propagation (Raghavan et al. 2007), made fully
    * deterministic: each round every vertex adopts the most frequent
    * label among its NEIGHBORS (no self-vote), ties toward the smallest
    * label — max over (cnt, -label) structs is lexicographic, exactly
    * `ORDER BY cnt DESC, label ASC`. Runs a FIXED number of supersteps
    * (no convergence test): synchronous LPA can oscillate (notably on
    * bipartite graphs), so a fixed depth is both the determinism the
    * oracle needs and the standard mitigation. Per superstep: one
    * equi-join + two partial-agg'd hash aggregations over one exchange
    * ([[voteWinners]]), the label generation snapped per superstep.
    *
    * @param nodes      (id) — every vertex, including isolated ones
    *                   (they keep their own label).
    * @param ue         undirected edges (src, dst) — both directions
    *                   present.
    * @param stageEdges when true (default) the edge list is shuffled
    *                   onto the join key and checkpointed here; pass
    *                   false when the caller supplies an ALREADY staged
    *                   (src-partitioned, persisted) adjacency — e.g. the
    *                   session-scoped memo in PropertyGraph — so it is
    *                   not re-shuffled per call.
    * @return (id, l) after exactly `iters` supersteps. */
  def lpa(nodes: DataFrame, ue: DataFrame, iters: Int,
          stageEdges: Boolean = true): DataFrame = {
    val ueBySrc = votingEdges(ue, stageEdges, "lpa")
    // zero-exchange generation discipline (see [[lpaConverged]]): the
    // label frame is hash(id)-partitioned once; `best` comes out of its
    // by-dst agg hash(dst) (≡ id after the alias), so the merge
    // left-join — non-voters, i.e. isolated vertices, coalesce to their
    // current label — the next superstep's frontier join, and the
    // generation's partitioning all plan with no exchange. Each
    // superstep pays exactly the two partial-agg'd vote shuffles; no
    // isolated-vertex anti-join, no union.
    var lbl = nodes.select(col("id"), col("id").as("l"))
      .repartition(col("id"))
      .transform(GenSnap.snap)
    requireVoteDomain(nodes, "lpa")
    for (_ <- 1 to iters) {
      val best = voteWinners(ueBySrc, lbl)
      lbl = lbl.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("bl"), col("l")).as("l"))
        .transform(GenSnap.snap)
    }
    lbl
  }

  /** One [[lpaConverged]] run: the final labels plus the per-superstep
    * changed-vertex counts (length = supersteps executed; a trailing 0
    * means the run CONVERGED rather than hit the cap). */
  final case class LpaRun(labels: DataFrame,
                          changeCounts: Seq[Long]) {
    def rounds: Int = changeCounts.size
    def converged: Boolean = changeCounts.lastOption.contains(0L)
  }

  /** Convergence-mode LPA — the usable community detector next to the
    * fixed-depth oracle form [[lpa]]. SEMI-SYNCHRONOUS (Cordasco &
    * Gargano 2012): each superstep updates the vertices one color class
    * at a time (two half-steps for a 2-coloring), each half-step voting
    * over the LATEST labels. When `color` is a proper coloring — e.g.
    * the bipartition side of a bipartite graph — no vertex ever votes
    * with a stale neighbor label, which removes the 2-cycle label
    * oscillation synchronous LPA exhibits on bipartite structure (the
    * reason [[lpa]] runs a fixed depth). Votes and ties stay exactly
    * [[lpa]]'s deterministic rule: most frequent neighbor label, ties
    * toward the smallest.
    *
    * Termination is a driver-counted change fixpoint: stop when a full
    * superstep changes 0 labels, with two guards for improper colorings
    * (where semi-sync convergence is only empirical): a hard `maxIters`
    * cap and an oscillation cap (3 consecutive non-decreasing change
    * counts). Change counts are also require'd non-explosive (≤ 2× the
    * previous superstep past a small floor) — a diverging count means
    * the coloring is fighting the vote rule and the caller should pass
    * a proper coloring instead.
    *
    * Per half-step: the edge scan is pre-filtered to the updating
    * color's dst rows (so a full superstep touches each edge ONCE, same
    * vote volume as a synchronous step) and the two vote aggregations
    * stay partial-agg'd — the ONLY two exchanges in a half-step. The
    * initial label frame is hash-partitioned on id once; each generation
    * is then `lbl LEFT JOIN best` — both sides already hash(id) (best
    * via its final by-dst agg + alias-aware partitioning), so the merge
    * join, the next half-step's vote-join frontier (id aliased to src),
    * and the generation's partitioning itself all plan with NO exchange:
    * no isolated-vertex precompute, no union, no repartition. Change
    * detection is FUSED into the merge as a boolean column (coalesce
    * carries unvoted vertices, resetting stale flags in half-step 1), so
    * the per-superstep driver count is a filter over the
    * just-materialized generation, not a separate join job — one action
    * per superstep.
    *
    * @param color 0/1 color of a vertex id column; DEFAULT id parity
    *              (improper in general — the caps then bound the run);
    *              pass the true bipartition for bipartite graphs.
    * @return final labels plus the change-count trace (monotone
    *         evidence for the caller to assert on). */
  def lpaConverged(nodes: DataFrame, ue: DataFrame, maxIters: Int = 30,
      color: Column => Column = pmod(_, lit(2)),
      stageEdges: Boolean = true): LpaRun = {
    val ueBySrc = votingEdges(ue, stageEdges, "lpaConverged")
    var lbl = nodes.select(col("id"), col("id").as("l"), lit(false).as("ch"))
      .repartition(col("id"))
      .transform(GenSnap.snap)
    requireVoteDomain(nodes, "lpaConverged")
    val history = scala.collection.mutable.ArrayBuffer.empty[Long]
    var live = true
    while (live && history.size < maxIters) {
      for (c <- 0 to 1) {
        val best = voteWinners(ueBySrc.filter(color(col("dst")) === c), lbl)
        // merge = one zero-exchange left join: vertices best covers (the
        // updating color's non-isolated set) take the vote winner; every
        // other vertex — the other color AND this color's isolated
        // vertices — coalesces to its current label. Half-step 1 resets
        // the previous superstep's stale flags on unvoted rows;
        // half-step 2 carries half-step 1's.
        val carryCh = if (c == 0) lit(false) else col("ch")
        lbl = lbl
          .join(best, Seq("id"), "left")
          .select(col("id"), coalesce(col("bl"), col("l")).as("l"),
            when(col("bl").isNotNull, col("bl") =!= col("l"))
              .otherwise(carryCh).as("ch"))
          .transform(GenSnap.snap)
      }
      val changed = lbl.filter(col("ch")).count()
      if (history.nonEmpty)
        require(changed <= math.max(2L * history.last, 16L),
          s"LPA change count exploded (${history.last} -> $changed): the " +
            "coloring is fighting the vote rule; pass a proper coloring")
      history += changed
      val oscillating = history.size >= 3 &&
        changed > 0 && changed >= history(history.size - 2) &&
        history(history.size - 2) >= history(history.size - 3)
      if (changed == 0 || oscillating) live = false
    }
    LpaRun(lbl.select(col("id"), col("l")), history.toSeq)
  }

  /** k-core decomposition by iterative degree peeling — a third
    * fixpoint shape next to [[minLabel]] (label spreading) and
    * [[minDist]] (min-plus relaxation): here the EDGE SET itself
    * shrinks monotonically. Each round drops every edge with an end of
    * degree < k (a vertex's degree is its rows as `src`), until no
    * vertex falls below k; the converging round counts. At most
    * `taskRows` edges peel in one task ([[peelRows]]); above it a
    * round is one partial-agg degree count and two anti joins (build
    * side broadcast when small).
    *
    * @param ue    undirected edges (src, dst), both directions present.
    * @param cap   peel rounds allowed, the converging round included
    *              (callers with an unrolled-CTE oracle pass its unroll).
    * @param probe the BoundProbe name of the rounds used.
    * @return the surviving k-core edge set (still both directions). */
  private[graft] def kCorePeel(ue: DataFrame, k: Int, cap: Int = Fixpoint.Uncapped,
                               probe: String = "kcore_peel",
                               taskRows: Long = Fixpoint.TaskRows): DataFrame = {
    val gen = ue.transform(GenSnap.snap)
    peelGen(gen, gen.count(), k, cap, probe, taskRows)
  }

  /** [[kCorePeel]] over `gen`, a counted generation of `rows` edges. */
  private def peelGen(gen: DataFrame, rows: Long, k: Int, cap: Int,
                      probe: String, taskRows: Long): DataFrame =
    if (rows <= taskRows) {
      val spark = gen.sparkSession
      import spark.implicits._
      Fixpoint.inTask(gen.select("src", "dst").as[(Long, Long)], Map(probe -> cap),
          Seq("src", "dst")) { rows =>
        val (core, used) = peelRows(rows.toArray, k, cap)
        (core.iterator, Seq(probe -> used))
      }
    } else {
      val BcastMax = 1000000L
      var edges = gen
      Fixpoint.run(probe, cap) { _ =>
        val bad = edges.groupBy("src").agg(count(lit(1)).as("deg"))
          .filter(col("deg") < k).select(col("src").as("v"))
          .transform(GenSnap.snap)
        // the count materializes bad AND the current edge generation
        Fixpoint.Round(bad, advance = nBad => {
          val b = if (nBad <= BcastMax) broadcast(bad) else bad
          edges = edges
            .join(b.select(col("v").as("src")), Seq("src"), "left_anti")
            .join(b.select(col("v").as("dst")), Seq("dst"), "left_anti")
            .select("src", "dst")
            .transform(GenSnap.snap)
        })
      }
      edges
    }

  /** [[kCorePeel]]'s rounds on one thread: the surviving edges and the
    * rounds used, the converging one included. Round `cap + 1` is not
    * run; reaching it reports `cap + 1` rounds. */
  private def peelRows(ue: Array[(Long, Long)], k: Int,
                       cap: Int): (Array[(Long, Long)], Int) = {
    @tailrec def round(edges: Array[(Long, Long)], r: Int): (Array[(Long, Long)], Int) =
      if (r > cap) (edges, r)
      else {
        val deg = mutable.LongMap.empty[Int]
        edges.foreach { case (s, _) => deg(s) = deg.getOrElse(s, 0) + 1 }
        val bad = deg.filter(_._2 < k)
        if (bad.isEmpty) (edges, r)
        else round(edges.filter { case (s, d) => !bad.contains(s) && !bad.contains(d) }, r + 1)
      }
    round(ue, 1)
  }

  /** Every vertex's core number, max{k : v in the k-core}, by an
    * ascending-k level loop: level r peels the (r + 1)-core out of the
    * previous level's core ([[kCorePeel]], BoundProbe
    * `core_numbers_peel`), until a level's core is empty (BoundProbe
    * `core_numbers_levels`; the emptying level counts). Cores are
    * nested, so total work is bounded by Σ_k |E_k|. At most `taskRows`
    * edges run every level in one task ([[coreRows]]).
    *
    * @param ue       undirected edges (src, dst), both directions present.
    * @param levelCap levels allowed.
    * @param peelCap  peel rounds allowed per level.
    * @return (id, core) for every `src`: 1 outside the 2-core. */
  private[graft] def coreNumbers(ue: DataFrame, levelCap: Int, peelCap: Int,
                                 taskRows: Long = Fixpoint.TaskRows): DataFrame = {
    var edges = ue.select("src", "dst").transform(GenSnap.snap)
    var n = edges.count()
    if (n <= taskRows) {
      val spark = ue.sparkSession
      import spark.implicits._
      Fixpoint.inTask(edges.as[(Long, Long)],
          Map(CoreLevels -> levelCap, CorePeel -> peelCap), Seq("id", "core")) { rows =>
        val (core, used) = coreRows(rows.toArray, levelCap, peelCap)
        (core.iterator, used)
      }
    } else {
      var core = edges.select(col("src").as("id")).distinct()
        .select(col("id"), lit(1L).as("core"))
        .transform(GenSnap.snap)
      Fixpoint.run(CoreLevels, levelCap) { r =>
        val k = r + 1
        val ck = peelGen(edges, n, k, peelCap, CorePeel, taskRows)
        val survivors = ck.select(col("src").as("id")).distinct()
        core = core
          .join(survivors.select(col("id"), lit(1).as("up")), Seq("id"), "left")
          .select(col("id"),
            when(col("up").isNotNull, lit(k.toLong)).otherwise(col("core")).as("core"))
          .transform(GenSnap.snap)
        edges = ck
        Fixpoint.Round(edges, advance = nk => n = nk)
      }
      core
    }
  }

  private val CoreLevels = "core_numbers_levels"
  private val CorePeel = "core_numbers_peel"

  /** [[coreNumbers]]' levels on one thread, over [[peelRows]]: the
    * (id, core) rows and the rounds used, in the order the distributed
    * loops record them (each level's peel, then the levels). It stops
    * at the first level or peel past its cap. */
  private def coreRows(ue: Array[(Long, Long)], levelCap: Int,
                       peelCap: Int): (Iterable[(Long, Long)], Seq[(String, Int)]) = {
    val core = mutable.LongMap.empty[Long]
    ue.foreach { case (s, _) => core(s) = 1L }
    val used = Seq.newBuilder[(String, Int)]
    @tailrec def level(edges: Array[(Long, Long)], r: Int): Int =
      if (r > levelCap) r
      else {
        val (ck, p) = peelRows(edges, r + 1, peelCap)
        used += CorePeel -> p
        ck.foreach { case (s, _) => core(s) = r + 1L }
        if (ck.isEmpty || p > peelCap) r else level(ck, r + 1)
      }
    val levels = if (ue.isEmpty) 0 else level(ue, 1)
    used += CoreLevels -> levels
    (core, used.result())
  }

  /** k-truss by iterative support peeling, the edge analog of
    * [[kCorePeel]]: each round counts every edge's support, its
    * triangles x→y, y→z, x→z (the wedge join closed by its third
    * edge, each triangle counting for its three edges), and drops the
    * edges with support < k − 2, until a round drops none; that round
    * does not count (BoundProbe `ktruss_peel`). A repeated edge
    * multiplies its triangles, as the joins do. At most `taskRows`
    * edges peel in one task ([[trussRows]]).
    *
    * @param es  directed edges (src, dst).
    * @param cap live rounds allowed.
    * @return the surviving edges with their support (src, dst,
    *         support); an edge in no triangle has no row. */
  private[graft] def kTruss(es: DataFrame, k: Int, cap: Int = Fixpoint.Uncapped,
                            taskRows: Long = Fixpoint.TaskRows): DataFrame = {
    var edges = es.select("src", "dst").transform(GenSnap.snap)
    var n = edges.count()
    if (n <= taskRows) {
      val spark = es.sparkSession
      import spark.implicits._
      Fixpoint.inTask(edges.as[(Long, Long)], Map(TrussPeel -> cap),
          Seq("src", "dst", "support")) { rows =>
        val (truss, used) = trussRows(rows.toArray, k, cap)
        (truss.iterator, Seq(TrussPeel -> used))
      }
    } else {
      def support(es: DataFrame): DataFrame =
        es.toDF("x", "y").join(es.toDF("y", "z"), "y")
          .join(es.toDF("x", "z"), Seq("x", "z"))
          .select(explode(array(
            struct(col("x").as("src"), col("y").as("dst")),
            struct(col("y").as("src"), col("z").as("dst")),
            struct(col("x").as("src"), col("z").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          .groupBy("src", "dst").agg(count(lit(1)).as("support"))
      Fixpoint.run(TrussPeel, cap, countsLast = false) { _ =>
        val kept = edges.join(support(edges), Seq("src", "dst"), "left")
          .filter(coalesce(col("support"), lit(0L)) >= k - 2)
          .select("src", "dst")
          .transform(GenSnap.snap)
        Fixpoint.Round(kept, done = _ == n, advance = nk => { edges = kept; n = nk })
      }
      edges.join(support(edges), Seq("src", "dst"))
    }
  }

  private val TrussPeel = "ktruss_peel"

  /** [[kTruss]]'s rounds on one thread: the surviving (src, dst,
    * support) rows and the live rounds used. A live round past `cap`
    * stops the loop and reports its number. */
  private def trussRows(es: Array[(Long, Long)], k: Int,
                        cap: Int): (Array[(Long, Long, Long)], Int) = {
    def support(es: Array[(Long, Long)]): mutable.HashMap[(Long, Long), Long] = {
      val mult = mutable.HashMap.empty[(Long, Long), Long]
      es.foreach(e => mult(e) = mult.getOrElse(e, 0L) + 1L)
      val out = mult.toSeq.groupMap(_._1._1) { case ((_, z), m) => (z, m) }
      val sup = mutable.HashMap.empty[(Long, Long), Long]
      def add(e: (Long, Long), t: Long): Unit = sup(e) = sup.getOrElse(e, 0L) + t
      // a triangle's join rows multiply its three edges' multiplicities
      for (((x, y), m1) <- mult; (z, m2) <- out.getOrElse(y, Nil); m3 <- mult.get((x, z))) {
        val t = m1 * m2 * m3
        add((x, y), t); add((y, z), t); add((x, z), t)
      }
      sup
    }
    @tailrec def round(edges: Array[(Long, Long)], r: Int): (Array[(Long, Long, Long)], Int) = {
      val sup = support(edges)
      val kept = edges.filter(e => sup.getOrElse(e, 0L) >= k - 2)
      if (kept.length == edges.length)
        (edges.flatMap { case e @ (s, d) => sup.get(e).map(t => (s, d, t)) }, r - 1)
      else if (r > cap) (Array.empty, r)
      else round(kept, r + 1)
    }
    round(es, 1)
  }

  /** Multi-source BFS: run |seeds| breadth-first searches in ONE
    * dataflow, frontier keyed (lm, id) — each hop is one equi-join +
    * one distinct + one anti-join against the settled set regardless of
    * how many sources run together. This is the shape that makes
    * landmark-distance / closeness-centrality sampling affordable at
    * 100 TB: S sources cost one superstep sequence, not S of them
    * (Eppstein–Wang style sampling composes directly on top).
    *
    * @param ue       undirected edges (src, dst), both directions.
    * @param seeds    source vertex ids (the `lm` key of the result).
    * @param maxDepth loud upper bound: `require`s the frontier drains
    *                 before this depth (callers share the bound with
    *                 their unrolled/recursive oracle).
    * @return (lm, id, d) — exact hop distance from each seed to every
    *         vertex it reaches; includes (lm, lm, 0). */
  def multiBfs(ue: DataFrame, seeds: Seq[Long], maxDepth: Int): DataFrame = {
    val spark = ue.sparkSession
    import spark.implicits._
    var frontiers = List(seeds.map(lm => (lm, lm, 0)).toDF("lm", "id", "d"))
    Fixpoint.run("multi_bfs", maxDepth) { depth =>
      val settled = frontiers.reduce(_ union _).select("lm", "id")
      val next = frontiers.head.join(ue, frontiers.head("id") === ue("src"))
        .select(col("lm"), ue("dst").as("id")).distinct()
        .join(settled, Seq("lm", "id"), "left_anti")
        .select(col("lm"), col("id"), lit(depth).as("d"))
        .transform(GenSnap.snap)
      Fixpoint.Round(next, advance = _ => frontiers ::= next)
    }
    frontiers.reduce(_ union _)
  }

  /** Multi-source shortest-path COUNTING — the forward pass of Brandes'
    * betweenness algorithm: σ(s, v) = number of distinct shortest s→v
    * paths, computed level-synchronously (σ of a newly-settled vertex is
    * the SUM of σ over its frontier predecessors). Same frontier shape
    * as [[multiBfs]] with the distinct swapped for a partial-agg'd sum —
    * still one equi-join + one aggregation + one anti-join per hop for
    * ALL sources together. σ values are exact BIGINTs; the caller gets a
    * loud overflow margin check (counts ≥ 2^40 abort rather than wrap
    * differently from a raising oracle engine).
    *
    * @return (lm, id, d, sigma) — hop distance and shortest-path count
    *         from each seed to every vertex it reaches; (lm, lm, 0, 1)
    *         included. */
  def multiBfsCounts(ue: DataFrame, seeds: Seq[Long], maxDepth: Int): DataFrame = {
    val spark = ue.sparkSession
    import spark.implicits._
    var frontiers = List(seeds.map(lm => (lm, lm, 0, 1L)).toDF("lm", "id", "d", "sigma"))
    Fixpoint.run("multi_bfs_counts", maxDepth) { depth =>
      val settled = frontiers.reduce(_ union _).select("lm", "id")
      val next = frontiers.head.join(ue, frontiers.head("id") === ue("src"))
        .select(col("lm"), ue("dst").as("id"), col("sigma"))
        .join(settled, Seq("lm", "id"), "left_anti")
        .groupBy("lm", "id").agg(sum("sigma").as("sigma"))
        .select(col("lm"), col("id"), lit(depth).as("d"), col("sigma"))
        .transform(GenSnap.snap)
      Fixpoint.Round(next, advance = _ => frontiers ::= next)
    }
    val all = frontiers.reduce(_ union _)
    val maxSigma = all.agg(max("sigma")).head().getLong(0)
    require(maxSigma < (1L << 40),
      s"max σ = $maxSigma approaches BIGINT wrap — path counts on this " +
        "graph need a wider (decimal) accumulator")
    all
  }

  /** Betweenness centrality over the given sources — Brandes' backward
    * dependency sweep on top of [[multiBfsCounts]]'s σ tower:
    * δ(v) = Σ over true successors w (d(w) = d(v)+1, edge v–w) of
    * (σv/σw)·(1+δw), swept from the deepest BFS level down;
    * B(v) = Σ over sources of δ(v), v ≠ source. Exact over the given
    * seed set (sampled-source betweenness when seeds ⊂ V — the
    * Brandes–Pich estimate).
    *
    * The per-vertex float fold is DETERMINISTIC (and therefore
    * oracle-hashable): each vertex folds its successor contributions in
    * sorted successor-id order (sort_array + aggregate; every
    * contribution is positive so a 0.0 init is bit-identical to a
    * first-element init). Per backward level: one equi-join against the
    * adjacency + one partial-agg'd grouped fold — the same superstep
    * budget as the forward pass, all sources at once.
    *
    * @return (id, bc) for every vertex reached by any seed. */
  def betweenness(ue: DataFrame, seeds: Seq[Long], maxDepth: Int,
                  tower: Option[DataFrame] = None): DataFrame = {
    // callers that also serve the σ tower directly (graph_path_counts)
    // pass the shared memoized frame; a fresh one is checkpointed so
    // each backward level reads a materialization, not the BFS lineage
    val fc = tower.getOrElse(multiBfsCounts(ue, seeds, maxDepth)
      .transform(GenSnap.snap))
    // Sweep from the DEEPEST OCCUPIED level, not the caller's loud
    // bound: the bound is a drain guarantee (typically ~2× the real BFS
    // depth), and every level between them is empty — yet each one used
    // to cost two joins, a grouped fold and a checkpoint job. One 1-row
    // agg on the materialized tower buys back those supersteps (≈ half
    // the backward sweep on this graph). Levels past dmax contribute
    // nothing, so the result — and the unrolled oracle's hash — is
    // unchanged.
    val dmax = fc.agg(max(col("d"))).head().getInt(0)
    var levels = List(fc.filter(col("d") === dmax)
      .select(col("lm"), col("id"), col("sigma"), lit(0.0).as("delta")))
    for (k <- dmax - 1 to 0 by -1) {
      val vk = fc.filter(col("d") === k)
        .select(col("lm").as("vlm"), col("id").as("vid"), col("sigma").as("sv"))
      val succ = levels.head.select(col("lm").as("slm"), col("id").as("w"),
        col("sigma").as("sw"), col("delta").as("dw"))
      val contrib = brandesContrib(vk, ue, succ)
      levels ::= vk.join(contrib, Seq("vlm", "vid"), "left")
        .select(col("vlm").as("lm"), col("vid").as("id"),
          col("sv").as("sigma"), coalesce(col("delta"), lit(0.0)).as("delta"))
        .transform(GenSnap.snap)
    }
    // levels was built by PREPENDING from the deepest level down, so it
    // reads [d0, d1, …, dmax]; drop the head (d0 = the seeds — Brandes
    // accumulates δ only over v ≠ source). A degenerate tower (every
    // seed isolated: dmax = 0) has no non-source vertices and an empty
    // betweenness result.
    val alld =
      if (levels.tail.isEmpty)
        levels.head.limit(0)
      else levels.tail.reduce(_ union _)
    val bc = seeds.map(lm =>
        coalesce(max(when(col("lm") === lm, col("delta"))), lit(0.0)))
      .reduce(_ + _)
    alld.groupBy("id").agg(bc.as("bc"))
  }

  /** One backward level of Brandes' sweep: δ(v) for every (vlm, vid)
    * of `vk` with a successor in `succ` (slm, w, sw, dw) along `ue`, as
    * (vlm, vid, delta).
    *
    * The sorted-successor float fold runs as a WINDOW running sum (r18):
    * sort_array(collect_list(struct)) + an interpreted aggregate HOF
    * planned as ObjectHashAggregate and was the query family's top CPU
    * (two ~0.7 s/task stages, ~38 s summed executor CPU at sf0.1). A
    * running sum over (vlm, vid) ordered by w adds the SAME doubles in
    * the SAME left-fold order (w is unique within a group — distinct
    * successors — and every contribution is positive, so the running
    * maximum IS the final fold value), in codegen. The trailing max
    * rides the window's partitioning, so no exchange is added.
    * Bit-identical to the HOF fold and the oracle's list_reduce.
    * PlanSpec pins the shape: a Window, no ObjectHashAggregate. */
  private[graft] def brandesContrib(vk: DataFrame, ue: DataFrame,
                                    succ: DataFrame): DataFrame = {
    val wf = Window.partitionBy("vlm", "vid").orderBy("w")
      .rowsBetween(Window.unboundedPreceding, 0)
    vk.join(ue, col("vid") === ue("src"))
      .join(succ, col("slm") === col("vlm") && ue("dst") === col("w"))
      .select(col("vlm"), col("vid"), col("w"),
        ((col("sv").cast("double") / col("sw").cast("double"))
          * (lit(1.0) + col("dw"))).as("c"))
      .withColumn("cum", sum("c").over(wf))
      .groupBy(col("vlm"), col("vid")).agg(max("cum").as("delta"))
  }

  /** Luby's maximal-independent-set, derandomized: in each round a
    * remaining vertex joins the MIS iff its priority is strictly
    * smaller than every remaining neighbor's, where priority
    * p(v, r) = hash(v, r)·2^21 + v is a DETERMINISTIC unique BIGINT
    * (id < 2^21 keeps it inside 2^53 — exact on any engine) — Luby's
    * coin flips replaced by the same reproducible-hash discipline as
    * rel_sample_hash. MIS vertices and their neighborhoods leave the
    * graph; isolated vertices (no remaining neighbor) always join.
    * O(log n) rounds w.h.p.; per round one equi-join + one partial
    * min-agg + the removal anti-joins — the textbook distributed MIS.
    *
    * @param maxRounds rounds allowed (callers with an unrolled oracle
    *                  pass its unroll).
    * @return (mis, rounds): the MIS vertex ids and the rounds used. */
  def misLuby(nodes: DataFrame, ue: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    // empty node set: the MIS of the empty graph is empty in 0 rounds —
    // short-circuit here because max(id) aggregates to NULL below and
    // the loop-carried `mis` would stay null
    if (nodes.isEmpty) return (nodes.select(col("id")), 0)
    // the priority h·2^21 + id is UNIQUE only while ids stay below
    // 2^21 — fail loudly past that (the CountMinSketchAgg.KeyBound
    // convention) instead of letting colliding priorities stall rounds
    val maxId = nodes.agg(max(col("id"))).head().getLong(0)
    require(maxId < (1L << 21),
      s"Luby MIS priority domain: max vertex id $maxId >= 2^21 — widen the " +
        "priority encoding before ids this large")
    def pri(r: Int): Column =
      (col("id") * 2654435761L + lit(r.toLong * 40503L)) % 4294967296L * 2097152L + col("id")
    var rem = nodes.select(col("id")).transform(GenSnap.snap)
    // an already-staged substrate (the session leaf view) skips the
    // initial 2.6 M-row checkpoint write; an ad-hoc caller frame still
    // snaps so the round chain starts from a materialized leaf
    var edges = if (persisted(ue)) ue else ue.transform(GenSnap.snap)
    var mis: DataFrame = null
    val rounds = Fixpoint.run("mis_luby", maxRounds, init = Some(rem)) { r =>
      val p = rem.select(col("id"), pri(r).as("p"))
      val nmin = edges
        .join(p.select(col("id").as("src"), col("p")), "src")
        .groupBy(col("dst").as("id")).agg(min("p").as("np"))
      val m = p.join(nmin, Seq("id"), "left")
        .filter(col("np").isNull || col("p") < col("np"))
        .select("id")
        .transform(GenSnap.snap)
      mis = if (mis == null) m else mis.union(m)
      val rm = m.union(
          edges.join(m.select(col("id").as("src")), "src")
            .select(col("dst").as("id")))
        .distinct()
        .transform(GenSnap.snap)
      rem = rem.join(rm, Seq("id"), "left_anti").transform(GenSnap.snap)
      // r18: the per-round edges CHECKPOINT dropped — writing the
      // (shrinking, but round-1 2.6 M-row) edge set to the block store
      // every round was the query's top-3 stages (~25 s execRun at
      // sf0.1). The surviving-edge set is now a lazy chain of
      // r anti-join filters over the HOT substrate leaf: each round's
      // three reads re-probe the chain (broadcast-hash probes over a
      // columnar scan — ~0.2 s CPU each) instead of paying a
      // multi-second materialization. The removal sets (rm) stay
      // snapped, so the chain's build side is always a materialized
      // leaf and plan depth grows only linearly in the O(log n) rounds.
      edges = edges
        .join(rm.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(rm.select(col("id").as("dst")), Seq("dst"), "left_anti")
        .select("src", "dst")
      Fixpoint.Round(rem)
    }
    (mis, rounds)
  }

  /** Min-plus single-source shortest paths over a weighted undirected
    * edge list — the same relaxation kernel as [[minLabel]] lifted from
    * the (min, id) semiring to (min, +): Bellman-Ford frontier rounds to
    * a driver-counted fixpoint, one equi-join + one partial min-agg per
    * round. The distance frontier stays SPARSE (only reached vertices
    * carry a row) so there is no +∞ sentinel to overflow.
    *
    * @param ue  weighted undirected edges (src, dst, w) — both
    *            directions present, w a non-negative integer (long).
    * @param cap relaxation rounds allowed, the converging round
    *            included (callers with an unrolled-CTE oracle pass its
    *            unroll depth, or the oracle under-relaxes).
    * @return (id, d) exact shortest distances for every vertex reachable
    *         from `src`. */
  def minDist(ue: DataFrame, src: Long, cap: Int = Fixpoint.Uncapped): DataFrame = {
    val spark = ue.sparkSession
    import spark.implicits._
    // FRONTIER relaxation (the Bellman-Ford queue optimization): only
    // vertices whose distance improved last round propagate this round —
    // correct because every shortest path is a chain of improvements —
    // so late rounds join a shrinking frontier against the edges instead
    // of the whole distance map (measured 8.1 s → ~3 s at sf0.1). One
    // count job per round materializes the lazily-checkpointed
    // improvement set; the merged distance map is also lazily
    // checkpointed and materializes inside the next round's join, so
    // plan depth stays O(1) and no generation outlives its use.
    var dist = Seq((src, 0L)).toDF("id", "d").localCheckpoint()
    var frontier = dist
    var frontierRows = 1L
    var distRowsUB = 1L // monotone upper bound: grows by ≤ frontierRows/round
    // broadcast guards: neither the frontier nor the distance map is
    // bounded small by the algorithm — past these row counts fall back
    // to shuffle joins (the correct 100 TB shape; the hints are a local
    // latency win, not a correctness requirement). With both guards
    // open, a round runs ONE shuffle (the candidate min-reduce).
    val BcastMax = 1000000L
    def bcastIf(rows: Long, df: DataFrame): DataFrame =
      if (rows <= BcastMax) broadcast(df) else df
    // This loop keeps AQE: running it AQE-off measured 3.37 -> 4.64 s
    // (0.73x) on the full bench (OPTIMIZATION_r18.md).
    // Without AQE the per-round exchanges stay at 32 partitions and the
    // coalesced-to-few task shape AQE gives these tiny frontier
    // aggregations is worth more than the per-exchange job-wave it costs.
    Fixpoint.run("weighted_sssp", cap) { _ =>
      val cand = ue
        .join(bcastIf(frontierRows,
          frontier.select(col("id").as("src"), col("d").as("sd"))), "src")
        .select(col("dst").as("id"), (col("sd") + col("w")).as("d"))
        .groupBy("id").agg(min(col("d")).as("d"))
      val imp = cand
        .join(bcastIf(distRowsUB,
          dist.select(col("id").as("id2"), col("d").as("old"))),
          col("id") === col("id2"), "left")
        .filter(col("old").isNull || col("d") < col("old"))
        .select(col("id"), col("d"))
        .transform(GenSnap.snap)
      Fixpoint.Round(imp, advance = n => {
        frontierRows = n
        distRowsUB += n
        frontier = imp
        // merge = improvements ∪ (unimproved distances): the anti join
        // broadcasts the improvement set (guarded), so the merge adds no
        // shuffle — vs a full-outer join, which cannot broadcast-build
        dist = imp.union(
            dist.join(bcastIf(frontierRows, imp.select(col("id"))),
              Seq("id"), "left_anti"))
          .transform(GenSnap.snap)
      })
    }
    dist
  }

  /** Borůvka's minimum-spanning-forest, the parallel-native MST (each
    * round EVERY component picks its lightest outgoing edge — all picks
    * in one dataflow, components at least halve per round, so ≤ ⌈log₂ n⌉
    * rounds; Kruskal/Prim are inherently sequential and never scale out).
    * Ties are impossible by construction: edges rank by the total order
    * (w, lo, hi), which is unique per canonical edge, so the forest — and
    * therefore the oracle's replay — is deterministic regardless of data
    * ties in w. Per round: ONE edge×labels equi-join + ONE per-component
    * lexicographic argmin (a packed BIGINT min), then contraction of the
    * picked component-graph by pointer jumping — a graph whose size is the
    * CURRENT component count, not the vertex count, so the fixpoint
    * shrinks geometrically. Everything is hash-partitioned equi-joins;
    * nothing driver-side but the round counter.
    *
    * @param ue weighted undirected edges (src, dst, w) — both directions.
    * @param cap picking rounds allowed; the final round that finds no
    *        pick does not count (callers with an unrolled oracle pass
    *        its unroll).
    * @param uniquePairs caller asserts ue has EXACTLY ONE row per
    *        directed (src, dst) pair with w already the pair minimum —
    *        true for the session substrate, whose build IS a
    *        groupBy(pair).min aggregation (PropertyGraph.masterEdges).
    *        Skips round 1's canonicalizing re-aggregation, which the
    *        r18 probe measured at ~13 s summed executor CPU (the
    *        query's top-2 stages) re-deriving what the leaf already
    *        holds. The filter to src < dst alone then yields the same
    *        one-row-per-pair frame (min over a singleton group), so the
    *        forest is bit-identical.
    * @return ((round, lo, hi, w) — the forest edges, tagged with the
    *         round that picked them; rounds run). */
  def boruvkaMst(ue: DataFrame, cap: Int = Fixpoint.Uncapped,
                 uniquePairs: Boolean = false): (DataFrame, Int) = {
    // Contracted representation: one canonical row per CURRENT component
    // pair, carrying the lightest original edge (w, lo, hi) between them
    // — the textbook Borůvka contraction. The work set shrinks
    // geometrically (components at least halve AND parallel multi-edges
    // collapse to their pair-minimum, which preserves every possible
    // argmin winner), so only round 1 ever touches the full edge list —
    // unlike a vertex-labels formulation that rescans |E| every round.
    //
    // ARGMIN ENCODING (r17 optimization round, guide §1.2 step 2): the
    // lexicographic (w, lo, hi) argmins used to run as min(struct(...)),
    // which Spark can only plan as a SortAggregate — the probe showed
    // the per-round sorts burning ~17 s summed executor CPU at sf0.1
    // (the top-4 stages of the query). Packing the total order into ONE
    // BIGINT pk = (w << 42) | (lo << 21) | hi makes every argmin a
    // plain HashAggregate min; the pick's `other` endpoint rides a
    // min_by over the same key, which is deterministic because an
    // original edge (lo, hi) connects exactly one component pair, so pk
    // is unique within a component's candidate list. Decoding is exact
    // integer shift/mask arithmetic — the forest is bit-identical and
    // the oracle is untouched. The domain requires are LOUD bounds, not
    // silent truncation: both fail before any wrong answer is possible.
    val lim = 1L << 21
    val dom = ue.agg(max(greatest(col("src"), col("dst"))).as("mi"),
      max(col("w")).as("mw")).head()
    if (!dom.isNullAt(0)) { // empty graph: nothing to encode
      require(dom.getLong(0) < lim,
        s"Borůvka pack domain: max vertex id ${dom.getLong(0)} >= 2^21 — " +
          "widen the (w, lo, hi) encoding before ids this large")
      require(dom.getLong(1) < lim,
        s"Borůvka pack domain: max weight ${dom.getLong(1)} >= 2^21 — " +
          "widen the (w, lo, hi) encoding before weights this large")
    }
    def pack(w: Column, lo: Column, hi: Column): Column =
      w * lit(1L << 42) + lo * lit(1L << 21) + hi
    // exact shift/mask decode — never float division, which rounds
    // above 2^53
    val unpackW = shiftright(col("pk"), 42)
    val unpackLo = shiftright(col("pk"), 21).bitwiseAND(lit(lim - 1))
    val unpackHi = col("pk").bitwiseAND(lit(lim - 1))
    // initial canonical pairs: lo = a and hi = b are CONSTANT within a
    // (src, dst) group, so the former min(struct(w, lo, hi)) is just
    // min(w) — hash-aggregable directly, no pack needed
    var edges = {
      val half = ue.filter(col("src") < col("dst"))
      val canon =
        if (uniquePairs) half.select(col("src").as("a"), col("dst").as("b"), col("w"))
        else half
          .groupBy(col("src").as("a"), col("dst").as("b"))
          .agg(min(col("w")).as("w"))
      canon.select(col("a"), col("b"), col("w"), col("a").as("lo"),
        col("b").as("hi"))
    }.transform(GenSnap.snap)
    var mst: DataFrame = null
    val rounds = Fixpoint.run("mst_boruvka", cap, countsLast = false) { round =>
      val cand = edges
        .select(col("a").as("c"), pack(col("w"), col("lo"), col("hi")).as("pk"),
          col("b").as("other"))
        .union(edges.select(col("b").as("c"),
          pack(col("w"), col("lo"), col("hi")).as("pk"), col("a").as("other")))
      val pick = cand.groupBy("c")
        .agg(min("pk").as("pk"), min_by(col("other"), col("pk")).as("other"))
        .select(col("c"), unpackW.as("w"), unpackLo.as("lo"),
          unpackHi.as("hi"), col("other"))
        .transform(GenSnap.snap)
      Fixpoint.Round(pick, advance = _ => {
        val chosen = pick
          .select(col("lo"), col("hi"), col("w"))
          .distinct()
          .select(lit(round).as("round"), col("lo"), col("hi"), col("w"))
          .transform(GenSnap.snap)
        mst = if (mst == null) chosen else mst.union(chosen)
        // contract: the picks form a PSEUDO-FOREST — under the (w,lo,hi)
        // total order every cycle in the functional graph c → other is a
        // mutual-pick 2-cycle — so contraction needs no general CC
        // fixpoint: root each tree at its 2-cycle's smaller endpoint,
        // then POINTER-JUMP (p := p∘p) to the root in ⌈log₂ depth⌉
        // driver-synced jumps over the component-count-sized parent
        // table, instead of [[minLabel]]'s one-hop-per-iteration
        // diameter walk (VERDICT r11 task 4: 30 inner iterations → ~8
        // jumps at sf0.1). The representative choice differs from
        // minLabel's component-minimum, but the forest output is
        // label-invariant: picks and pair-minima depend only on the
        // component PARTITION, never on which id names it.
        // Generation snapshots for the jump loop: a bare localCheckpoint
        // would carry originStats forward, and this SELF-join squares
        // sizeInBytes every generation; GenSnap.snap caps it.
        val pk = pick.select(col("c"), col("other").as("o"))
        var par = GenSnap.snap(pk
          .join(pk.select(col("c").as("oc"), col("o").as("oo")),
            col("o") === col("oc"), "left")
          .select(col("c"),
            when(col("oo") === col("c") && col("c") < col("o"), col("c"))
              .otherwise(col("o")).as("p")))
        Fixpoint.run("mst_boruvka_jumps") { _ =>
          val j = GenSnap.snap(par
            .join(par.select(col("c").as("pc"), col("p").as("pp")),
              col("p") === col("pc"))
            .select(col("c"), col("pp").as("p"),
              (col("pp") =!= col("p")).as("ch")))
          par = j.select("c", "p")
          Fixpoint.Round(j.filter(col("ch")))
        }
        val relab = par.select(col("c").as("id"), col("p").as("l"))
        edges = edges
          .join(relab.select(col("id").as("a"), col("l").as("la")), Seq("a"), "left")
          .join(relab.select(col("id").as("b"), col("l").as("lb")), Seq("b"), "left")
          .select(coalesce(col("la"), col("a")).as("na"),
            coalesce(col("lb"), col("b")).as("nb"),
            col("w"), col("lo"), col("hi"))
          .filter(col("na") =!= col("nb"))
          .groupBy(least(col("na"), col("nb")).as("a"),
            greatest(col("na"), col("nb")).as("b"))
          .agg(min(pack(col("w"), col("lo"), col("hi"))).as("pk"))
          .select(col("a"), col("b"), unpackW.as("w"), unpackLo.as("lo"),
            unpackHi.as("hi"))
          .transform(GenSnap.snap)
      })
    }
    val out =
      if (mst == null)
        ue.limit(0).select(lit(0).as("round"), col("src").as("lo"),
          col("dst").as("hi"), col("w"))
      else mst
    (out, rounds)
  }
}
