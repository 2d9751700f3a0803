package graft.graph

import graft.{Q, Tables}
import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy, VertexId}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GenSnap, Layout}

/** The reference's property-graph data model, Spark-first. The reference
  * stores Image/Centroid nodes and CLOSEST_TO edges in Neo4j
  * (/root/reference/kmeans_clustering/image_classification.py:217-221,
  * :233-240, :438-445; thin Bolt client in database.py). Here the graph
  * is two DataFrames — columnar, partitioned, Catalyst-optimizable — with
  * a GraphX view for iterative graph algorithms.
  *
  * Node identity is an explicit user key (SURVEY.md §1.3: Neo4j's
  * internal ID(n) → deterministic keys, oracle-checkable).
  *
  * Scale notes: nodes/edges as Parquet tables partition horizontally;
  * pattern-match queries (edge traversals) are equi-joins on (src, dst)
  * that Catalyst plans as broadcast or shuffled hash joins by size. The
  * GraphX view shuffles once to build VertexRDD/EdgeRDD and then runs
  * Pregel supersteps with vertex-cut partitioning — the standard shape
  * for 100 TB graphs (edge partitions stream; vertices replicated only
  * where referenced).
  */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame) {

  /** Label scan — Cypher `MATCH (n:Label)` (SURVEY.md Q2). */
  def nodesByLabel(label: String): DataFrame =
    nodes.filter(col("label") === label)

  /** Edge traversal — `MATCH (a)-[r:TYPE]->(b)` as an equi-join. */
  def expand(relType: String): DataFrame =
    edges.filter(col("rel_type") === relType)
      .join(nodes.select(col("id").as("src"), col("label").as("src_label")), "src")
      .join(nodes.select(col("id").as("dst"), col("label").as("dst_label")), "dst")

  /** Ad-hoc declarative pattern queries — the reference's arbitrary-
    * Cypher surface (database.py:46-48 `session.run(query)`) compiled
    * onto the nodes/edges equi-join kernels through Catalyst. See
    * [[Motif]] for the grammar; e.g.
    * `g.find("(i:Image)-[:CLOSEST_TO]->(c:Centroid {id: 7}) RETURN i.id")`
    * or the aggregate form
    * `g.find("(s)-[:SUPPLIES]->(p) RETURN s.id AS src, count(p) AS degree")`.
    */
  def find(pattern: String): DataFrame =
    Motif.dataFrame(this, Motif.parse(pattern))

  /** GraphX view: vertices carry ONLY unit attributes (the algorithms —
    * CC, PageRank, BFS — need the id alone; properties join back onto the
    * result DataFrame afterwards). Shipping full property Rows as vertex
    * attrs multiplies Pregel's vertex-replication traffic by the
    * attribute width at every superstep. Edges are 2D-partitioned: the
    * default random vertex cut replicates each vertex to O(numPartitions)
    * edge partitions in the worst case; EdgePartition2D bounds it at
    * 2·sqrt(numPartitions) — the first knob that matters on a real
    * cluster. */
  def toGraphX: Graph[Unit, Double] = {
    val vs = nodes.select("id").rdd.map(r => (r.getLong(0): VertexId, ()))
    val es = edges.select("src", "dst", "weight").rdd.map(r =>
      Edge(r.getLong(0): VertexId, r.getLong(1): VertexId, r.getDouble(2)))
    Graph(vs, es).partitionBy(PartitionStrategy.EdgePartition2D)
  }

  /** Undirected GraphX view: every edge plus its reverse, so Pregel
    * message flows (which follow edge direction) see the undirected
    * structure — distances become graph distances, not directed-path
    * distances. Same slim-vertex + 2D-partition policy as [[toGraphX]]. */
  def toGraphXUndirected: Graph[Unit, Double] = {
    val vs = nodes.select("id").rdd.map(r => (r.getLong(0): VertexId, ()))
    val es = edges.select("src", "dst", "weight").rdd.flatMap { r =>
      val (s, d, w) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      Iterator(Edge(s: VertexId, d: VertexId, w), Edge(d: VertexId, s: VertexId, w))
    }
    Graph(vs, es).partitionBy(PartitionStrategy.EdgePartition2D)
  }
}

object PropertyGraph {

  import Tables._

  /** The TPC-H-ish testdata as a bipartite supplier→part graph: an edge
    * for every (supplier, part) pair that appears in lineitem. Part ids
    * are offset so the two node families share one id space (the same
    * trick GraphX needs for any multi-label graph). */
  val PartIdOffset = 1000000L

  // The edge list (lineitem.distinct, the expensive part) is staged once
  // per (session, dir) and the handle memoized: every graph query in a
  // session reuses ONE materialization instead of recomputing the
  // distinct per query. At 100 TB this is a persisted edge table written
  // once. The map is bounded by (#sessions × #sf dirs) — a handful in
  // any harness run. Staged leaves are checkpoints, not cache() — see
  // GenSnap's invariants.
  private val graphMemo = graft.SessionMemo[PropertyGraph]()

  // ── THE master edge leaf (r17 storage consolidation) ────────────────
  // One staged undirected (src, dst, w, deg) table per (session, dir):
  // the supplier↔part distinct pair set in both directions, w = min
  // l_quantity per pair, deg = undirected degree. supplierPartGraph's
  // directed edge list, [[undirectedEdges]], [[degreeAdjacency]] and
  // [[weightedUndirectedEdges]] are all PROJECTIONS of this leaf — the
  // post-suite block-manager audit measured the four separate
  // materializations at 362 MB of a 696 MB total (the 200 MB budget
  // breach the checkpoint swap introduced); one leaf carries the same
  // information in one footprint. Projections/filters over a
  // materialized leaf scan at RDD cost and can never reintroduce a
  // build shuffle.
  private val masterEdgeMemo = graft.SessionMemo[DataFrame]()

  private def masterEdges(s: SparkSession, d: String): DataFrame =
    masterEdgeMemo.getOrCompute(s, d) {
      val e0 = lineitem(s, d)
        .groupBy(col("l_suppkey").as("a"), (col("l_partkey") + PartIdOffset).as("b"))
        .agg(min(col("l_quantity")).cast("long").as("w"),
          // the temporal edge view rides the SAME pair aggregation —
          // min ship day per pair (TZ-independent datediff, see the
          // former temporalEdges note); one column instead of a second
          // 65 MB materialization of the identical pair set
          min(expr(
            "CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT)"))
            .as("t"))
      val ue = e0.select(col("a").as("src"), col("b").as("dst"), col("w"), col("t"))
        .union(e0.select(col("b").as("src"), col("a").as("dst"), col("w"), col("t")))
      val deg = ue.groupBy("src").agg(count(lit(1)).as("deg"))
      // STORED NARROW (guide §2.3): ids < 2^21 (loud require), w = a
      // min l_quantity ≤ 2^31, deg ≤ |V| — all fit INT, halving the
      // retained leaf; the views cast back to the LONG schema every
      // consumer expects (int→long is lossless, so results are
      // bit-identical).
      val maxId = e0.agg(max(col("b"))).head().getLong(0)
      require(maxId < (1L << 21),
        s"master edge leaf int encoding: max vertex id $maxId >= 2^21 — " +
          "widen the stored columns before ids this large")
      ue.join(deg, "src")
        .select(col("src").cast("int").as("src"),
          col("dst").cast("int").as("dst"),
          col("w").cast("int").as("w"),
          col("t").cast("int").as("t"),
          col("deg").cast("int").as("deg"))
        // HOT: every fixpoint superstep scans this leaf (a 30-round SSSP
        // alone reads it 30×) — columnar-cached, disk-backed (GenSnap's
        // hot-leaf invariant has the measured SER-scan-tax numbers)
        .transform(GenSnap.stage(_, Layout.By(col("src")), hot = true))
    }

  /** The master leaf re-widened to the LONG schema consumers expect. */
  private def masterEdgesL(s: SparkSession, d: String): DataFrame =
    masterEdges(s, d).select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w"),
      col("t").cast("long").as("t"), col("deg").cast("long").as("deg"))

  def supplierPartGraph(s: SparkSession, d: String): PropertyGraph =
    graphMemo.getOrCompute(s, d) {
      val sup = supplier(s, d)
        .select(col("s_suppkey").as("id"), lit("Supplier").as("label"), col("s_name").as("name"))
      val prt = part(s, d)
        .select((col("p_partkey") + PartIdOffset).as("id"), lit("Part").as("label"),
          col("p_name").as("name"))
      // the supplier→part direction of the master leaf IS the distinct
      // directed edge list (suppliers sit below PartIdOffset)
      val es = masterEdgesL(s, d).filter(col("src") < PartIdOffset)
        .select(col("src"), col("dst"), lit("SUPPLIES").as("rel_type"),
          lit(1.0).as("weight"))
      PropertyGraph(sup.unionByName(prt), es)
    }

  // ── session-scoped staged adjacency (judge r7 task 2) ───────────────
  // The five fixpoint queries (shortest-paths, PageRank-exact, PPR,
  // weighted SSSP, LPA) all derive the same undirected view of the
  // supplier-part edge list and each used to repartition + checkpoint it
  // independently — five scans and five shuffles of the identical
  // artifact per bench pass (~24 s of the r7 quiet-box 89.8 s). Memoize
  // the staged forms once per (session, dir), same explicit-sharing
  // policy as the dedup pair set (ops/Text.scala dupEdgesMemo): at
  // 100 TB these ARE persisted adjacency tables, built once by the
  // ingestion job and read by every downstream graph query. Staged as
  // materialized checkpoint LEAVES since the r17 optimization round —
  // see [[stage]] for the measured cache() pathology this replaced
  // (the earlier "cache keeps the src partitioning metadata" rationale
  // was moot in practice: Spark 4.1 re-exchanged the cached side each
  // superstep anyway, and the cached scan itself cost ~70× a leaf scan).

  private val undirectedMemo = graft.SessionMemo[DataFrame]()

  /** Undirected (src, dst) edge view — both directions, hash-partitioned
    * on the superstep join key `src`, cached once per (session, dir). */
  def undirectedEdges(s: SparkSession, d: String): DataFrame =
    undirectedMemo.getOrCompute(s, d) {
      masterEdgesL(s, d).select("src", "dst")
    }

  private val degAdjMemo = graft.SessionMemo[DataFrame]()

  /** Degree-annotated undirected adjacency (src, dst, deg) — the
    * loop-invariant artifact PageRank-exact and PPR scan every
    * superstep. Built FROM the cached [[undirectedEdges]]: the groupBy
    * and the join both reuse its src partitioning, so the build adds no
    * extra shuffle of the edge list. */
  def degreeAdjacency(s: SparkSession, d: String): DataFrame =
    degAdjMemo.getOrCompute(s, d) {
      masterEdgesL(s, d).select("src", "dst", "deg")
    }

  private val nodeIdsMemo = graft.SessionMemo[DataFrame]()

  /** Vertex-id list hash-partitioned on id, cached once per (session,
    * dir) — the loop-invariant LEFT side of every power-iteration merge
    * (`nodeIds LEFT JOIN contribs`). What the layout buys, measured
    * (r13 plan audit): the node list is SCANNED once per session instead
    * of rebuilt per iteration, and the only EDGE-SIZED shuffle per
    * iteration is the contrib partial-agg (map-side combined under its
    * exchange). Spark 4.1 does re-exchange the merge's node-list side
    * each iteration — re-instanced cache attributes don't advertise the
    * cached hash(id) layout — but that exchange moves |V| rows against
    * the agg's |E|, noise at any scale where this kernel matters; both
    * facts are pinned in PlanSpec ("power iteration shuffles stay
    * bounded"). */
  def nodeIdsPartitioned(s: SparkSession, d: String): DataFrame =
    nodeIdsMemo.getOrCompute(s, d) {
      supplierPartGraph(s, d).nodes.select(col("id"))
        // HOT: the loop-invariant LEFT side of every power-iteration
        // merge — scanned once per superstep by pagerank/ppr/katz
        .transform(GenSnap.stage(_, hot = true))
    }

  private val weightedUeMemo = graft.SessionMemo[DataFrame]()

  /** Weighted undirected edges (src, dst, w) with w = min l_quantity per
    * (supplier, part) — the SSSP relaxation input, staged once. */
  def weightedUndirectedEdges(s: SparkSession, d: String): DataFrame =
    weightedUeMemo.getOrCompute(s, d) {
      masterEdgesL(s, d).select("src", "dst", "w")
    }

  /** Landmark vertices and the BFS depth bound shared by the Spark and
    * oracle sides of `graph_shortest_paths`. The bound must exceed the
    * graph's diameter (the bipartite supplier-part graph's is ~6;
    * asserted safe margin 24) or the oracle under-reports distances
    * GraphX finds. */
  private val SpLandmarks = Seq(1L, 2L)
  private val SpMaxDepth = 24

  /** Round unroll for `graph_mst_boruvka`'s oracle — components at
    * least halve per round, so ⌈log₂ n⌉ bounds the rounds (the observed
    * count is far lower: min-edge stars collapse whole neighborhoods in
    * one contraction); drained-within-bound is `require`d loudly. */
  private val MstUnroll = 16

  /** Pivot count for `graph_betweenness_sampled` (Brandes–Pich): tiny
    * here because the demonstration corpus has ~2k vertices; at scale
    * s grows like log n / ε², independent of n. */
  private val BcSampleSeeds = 4

  /** The estimator's pivot σ tower, one build per (session, dir) — the
    * sampled sibling of [[sigmaTower]]. */
  private val sampledTowerMemo = graft.SessionMemo[DataFrame]()

  /** Seed suppliers for `graph_closeness_centrality` — the sampled
    * landmark set of the Eppstein–Wang closeness estimate, shared
    * verbatim with the oracle's recursive CTE. */
  private val ClosenessSeeds: Seq[Long] = (1L to 8L).toSeq

  /** The ClosenessSeeds multiBfs dist tower, one build per (session,
    * dir) — `graph_closeness_centrality` and `graph_eccentricity` both
    * consume the IDENTICAL `multiBfs(ue, ClosenessSeeds, SpMaxDepth)`
    * frame, and building it twice doubled the centrality family's cost
    * (~3 s of pure recompute per suite pass at sf0.1; VERDICT r13). At
    * 100 TB this is a persisted landmark-distance table every
    * centrality report reads — the [[sampledTowerMemo]] convention. The
    * frame is seeds×reached rows (S·|V|, node-count not edge-count), so
    * the cache footprint is small and bounded by the seed set. */
  private val closenessDistMemo = graft.SessionMemo[DataFrame]()

  private[graft] def closenessDist(s: SparkSession, d: String): DataFrame =
    closenessDistMemo.getOrCompute(s, d) {
      Components.multiBfs(undirectedEdges(s, d), ClosenessSeeds, SpMaxDepth)
        .transform(GenSnap.stage(_, Layout.Wide, hot = true))
    }

  /** Unroll depth for `graph_path_counts`' per-level MATERIALIZED-CTE
    * oracle — the Spark kernel `require`s its frontier drains within
    * this bound (BFS depth on this graph is ~6-8). */
  private val SigmaUnroll = 12

  /** HITS: 5 sum-normalized iterations in 1e6 fixed point (Scale sized
    * so raw·Scale stays inside BIGINT — see the graph_hits comment). */
  private val HitsIters = 5
  private val HitsScale = 1000000L

  /** Walk length for `graph_random_walks` (steps per walker). */
  private val WalkLen = 8

  /** Round bound for `graph_mis_luby` (O(log n) w.h.p.; loud require). */
  private val MisUnroll = 8

  /** node2vec walk length (steps per walker; step 1 is first-order). */
  private val N2vLen = 6

  /** Seed + oracle unroll for `graph_temporal_reach` (earliest-arrival
    * converges in ≤ temporal-diameter LEVELS; loud require). Raised
    * 16 → 32 in r13: sf0.1 measures 18 levels (the time-respecting
    * constraint makes the temporal diameter exceed the hop diameter —
    * arrivals keep improving through late-timestamped detours), so the
    * old bound THREW at bench scale; the driver bench swallows
    * exceptions, which is why BENCH_r12's 6.56 s for this query was
    * really time-to-failure at level 17. */
  private val TemporalSeed = 1L
  private val TemporalUnroll = 32

  /** Levels relaxed per driver sync in graph_temporal_reach (the
    * batching factor): 3 → the 18-level sf0.1 fixpoint costs 6 driver
    * round-trips + one drain batch instead of 18. Raising it further
    * trades sync count against wasted relaxations past convergence
    * (the final batch always runs its full depth on empty frontiers) —
    * measured r14 at sf0.1: batch 6 is SLOWER (13.2 s vs 9.4 s warm);
    * the 3 extra tail relaxations' join stages cost more than the 3
    * saved driver syncs. */
  private val TemporalBatch = 3

  private val temporalMemo = graft.SessionMemo[DataFrame]()

  /** Earliest-arrival temporal reachability over timestamped edges
    * (src, dst, t): arr(w) = min over edges (v,w,t) with t ≥ arr(v).
    *
    * MULTI-LEVEL BATCHED relaxation (r13): the (min, time-filter)
    * semiring is monotone, so relaxing several levels before checking
    * convergence reaches the same fixpoint — and the driver pays ONE
    * count() sync per `batch` levels instead of one per level. That
    * matters because this graph's temporal diameter is deep (sf0.1
    * measures 18 levels — the bipartite supplier↔part alternation
    * relaxes in odd/even waves) and each sync is driver-bound, not
    * data-bound. Level i relaxes level i−1's improvements against the
    * running merged view; all levels of a batch stay LAZY (each imp is a
    * lazy snap, shared by the merge and the next level), so the batch
    * materializes its imps and the count in a single action. The LAST
    * level's imp being empty proves the fixpoint: relaxing the last
    * improvements produced nothing new, every earlier level's
    * improvements are already folded into the merge, and every other
    * vertex was stable before the batch.
    *
    * Exposed (default bounds overridable) so Round14Spec can pin the
    * unroll guard's EXACT boundary on synthetic chains — the r12
    * time-to-failure bug class (a data-dependent bound passing at
    * sf0.01 and throwing at sf0.1, invisible to a bench that swallowed
    * exceptions) is gated by construction now. */
  private[graft] def temporalReach(s: SparkSession, et: DataFrame,
      seed: Long = TemporalSeed, unroll: Int = TemporalUnroll,
      batch: Int = TemporalBatch): DataFrame = {
    val spark = s
    import spark.implicits._
    var arr = Seq((seed, 0L)).toDF("id", "arr").localCheckpoint()
    var frontier = arr
    var frontierRows = 1L // batch-end improvement count (broadcast guard)
    val BcastMax = 1000000L // the minDist guard: past this, shuffle joins
    var levels = 0 // levels relaxed so far (improving or not)
    var live = true
    // One level = ONE snapped full-outer join (r17 optimization round):
    // the former shape paid two id-keyed joins per level (the improve
    // check inside relax + a left_anti merge) and kept `merged` as a
    // LAZY union chain within a batch — each level's merge re-evaluated
    // every earlier level's anti-join, compounding ~2^batch recomputes
    // (measured: 205 jobs / ~100 s summed executor CPU at sf0.1 for a
    // 1.2 M-edge graph). Now candidates full-outer-join the running
    // arrivals once, the joined frame is snapped, and BOTH the
    // improvement frontier and the new merged view are cheap filters
    // over that one materialization — same relaxation algebra, same
    // fixpoint, one id-exchange per level instead of two, O(1)
    // re-evaluation. Guide §2.4 (remove shuffles) + §1.2 step 1.
    def level(f: DataFrame, base: DataFrame, bcastFrontier: Boolean): (DataFrame, DataFrame) = {
      // frontier side explicitly broadcast under the minDist guard
      // (r18): the honest-stats leaf wrap removed the accidental
      // small-estimate broadcast this join used to get, and the static
      // fallback exchanged the EDGE side per level (probe: shuffle
      // writes 79 → 203 MB, et re-exchanged each of ~18 levels). The
      // frontier is node-bounded (one arrival row per vertex); the
      // guard uses the batch-end improvement count — at scale the
      // fallback is the shuffle join, the broadcast is a latency win,
      // never a correctness requirement.
      val fr = f.select(col("id").as("src"), col("arr").as("va"))
      val cands = et
        .join(if (bcastFrontier) broadcast(fr) else fr, "src")
        .filter(col("t") >= col("va"))
        .groupBy(col("dst").as("id")).agg(min("t").as("cand"))
      val j0 = base.select(col("id"), col("arr").as("old"))
        .join(cands, Seq("id"), "full_outer")
      // EVERY level snaps (r18, reverting the r17 batch-final-only
      // choice): the snaps stay LAZY, so the batch still pays ONE
      // driver sync — the batch-end count materializes all three
      // checkpoints through the lineage in a single action — but each
      // level now materializes exactly once. The r17 shape leaned on
      // ReuseExchange to bound mid-batch re-evaluation; after the hot
      // leaf's honest-stats change flipped the mid-batch join picks,
      // the probe measured the re-evaluation cascade back (103 jobs /
      // 51 s executor CPU, wall 4.6 → 7.0 s): a mid-batch frontier is
      // read by the next level's join AND the merge, and any broadcast
      // build of an unmaterialized frontier re-evaluates every earlier
      // level. The checkpoints are node-sized (|V| rows) — their write
      // cost is noise against one re-evaluated relaxation.
      val j = j0.transform(GenSnap.snap)
      val imp = j
        .filter(col("old").isNull ||
          (col("cand").isNotNull && col("cand") < col("old")))
        .select(col("id"), col("cand").as("arr"))
      val merged = j.select(col("id"),
        when(col("cand").isNotNull &&
          (col("old").isNull || col("cand") < col("old")), col("cand"))
          .otherwise(col("old")).as("arr"))
      (imp, merged)
    }
    while (live) {
      // Guard semantics (ADVICE r13 rework): the guard must match the
      // unroll EXACTLY — return iff the temporal diameter ≤ unroll
      // (where the oracle's unroll-level chain provably converges),
      // throw iff it exceeds it. The r13 guard counted whole batches
      // including the convergence-proving one, silently shaving the
      // advertised 32-level bound to ~29. Counting levels alone isn't
      // enough either: a full batch straddling the bound could fold
      // level-(unroll+1) improvements into the merge and still END on
      // an empty level, returning a result the unroll-level oracle
      // doesn't compute. So the LAST batch is CLAMPED to end exactly at
      // level unroll+1 — mid-batch levels never exceed unroll, and
      // level unroll+1 is purely the convergence prover: empty means
      // diameter ≤ unroll (merged == the oracle's converged chain),
      // non-empty means diameter > unroll and only then do we throw.
      val thisBatch = math.min(batch, unroll + 1 - levels)
      var imp = frontier
      var merged = arr
      for (_ <- 1 to thisBatch) {
        val (nextImp, nextMerged) = level(imp, merged,
          bcastFrontier = frontierRows <= BcastMax)
        imp = nextImp
        merged = nextMerged
      }
      levels += thisBatch
      frontierRows = imp.count()
      if (frontierRows == 0L) {
        // `levels` includes the convergence-proving level, so the
        // capacity it is measured against is unroll + 1
        graft.tools.BoundProbe.record("temporal_reach", levels, unroll + 1)
        arr = merged // earlier levels' improvements still fold in
        live = false
      } else {
        require(levels <= unroll,
          s"temporal relaxation past $unroll levels — raise the unroll")
        frontier = imp
        arr = merged
      }
    }
    arr
  }

  /** Timestamped undirected edges (src, dst, t) with t = first shipment
    * day (exact epoch-day BIGINT) per supplier-part link — staged once
    * per (session, dir) like the other adjacency artifacts. */
  private def temporalEdges(s: SparkSession, d: String): DataFrame =
    temporalMemo.getOrCompute(s, d) {
      masterEdgesL(s, d).select("src", "dst", "t")
    }

  // ── directed graph for SCC (the reference's graph is DIRECTED:
  // CLOSEST_TO edges, image_classification.py:438-445; every kernel so
  // far consumes the symmetrized view) ─────────────────────────────────
  // Per-supplier part CHAINS: hash-sample the (supplier, part)
  // incidence 1-in-16, order each supplier's surviving parts by a
  // SUPPLIER-DEPENDENT hash (two suppliers traverse shared parts in
  // different orders — the source of directed cycles; a global order
  // would make the graph a DAG by construction), then link consecutive
  // parts. Sparse (~2 edges/vertex), so the SCC structure is the
  // interesting web-graph mix — many singletons, a spread of mid-size
  // components (89 SCCs, max 111 at sf0.01) — rather than one giant
  // bowtie. Built once per (session, dir); at 100 TB this is one
  // distinct + one window over the incidence table.

  /** Sampling modulus for the SCC chain graph (1-in-16 incidence). */
  private val SccSampleMod = 16

  /** Outer peel-round bound for [[Components.sccColoring]] (measured 4-6
    * rounds at sf0.001-0.1; the require inside the kernel fires loudly
    * rather than truncating). */
  private val SccMaxRounds = 16

  private val partChainMemo = graft.SessionMemo[DataFrame]()

  /** Directed (src, dst) part-chain edges, cached once per (session,
    * dir). Vertex ids are raw part keys (one id family — no offset
    * needed; suppliers only induce the chains). */
  def partChainEdges(s: SparkSession, d: String): DataFrame =
    partChainMemo.getOrCompute(s, d) {
      val inc = lineitem(s, d)
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("p")).distinct()
      val samp = inc.filter(
        Tables.detHash(col("sk") * 1000003L + col("p")) % SccSampleMod === 0)
      val ordx = samp.withColumn("rn", row_number().over(
        Window.partitionBy("sk")
          .orderBy(Tables.detHash(col("sk") * 1000003L + col("p")), col("p"))))
      ordx.as("a")
        .join(ordx.as("b"),
          col("a.sk") === col("b.sk") && col("b.rn") === col("a.rn") + 1)
        .filter(col("a.p") =!= col("b.p"))
        .select(col("a.p").as("src"), col("b.p").as("dst")).distinct()
        .transform(GenSnap.stage(_))
    }

  private val sccLabelsMemo = graft.SessionMemo[DataFrame]()

  /** SCC labels (id, scc) over [[partChainEdges]] — ONE
    * [[Components.sccColoring]] run per (session, dir), shared by
    * `graph_scc` and `graph_scc_condensation` (in a real pipeline the
    * decomposition runs once and every condensation consumer reads it). */
  private def sccLabels(s: SparkSession, d: String): DataFrame =
    sccLabelsMemo.getOrCompute(s, d) {
      val de = partChainEdges(s, d)
      val nodes = de.select(col("src").as("id"))
        .union(de.select(col("dst").as("id"))).distinct()
      val (scc, _) = Components.sccColoring(nodes, de, SccMaxRounds)
      scc.transform(GenSnap.stage(_))
    }

  /** The chain-graph + definitional-SCC CTEs shared by both oracles:
    * scc(v) = min over the mutually-reachable set of v (v included) —
    * no round replay needed, unlike the fixpoint unrolls: the
    * definition itself is engine-order-free.
    *
    * DuckDB 1.0 quirk (found via graph_scc_bowtie): inside a `WITH
    * RECURSIVE` block, a NON-recursive CTE's bare `UNION` does not
    * deduplicate — so `n` dedups explicitly with DISTINCT. Harmless
    * for consumers that aggregate per id, fatal for per-row counts. */
  private val sccLayersMemo = graft.SessionMemo[DataFrame]()
  private val sccBowtieMemo = graft.SessionMemo[DataFrame]()

  /** Just the directed chain-graph construction (inc → samp → ordx →
    * de) — consumers that need edges but not the reachability closure
    * (graph_triads) use this alone. */
  private lazy val sqlChainCtes: String = {
    val key = Tables.detHashSql("sk * 1000003 + p")
    s"""inc AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS p FROM lineitem),
       |samp AS (SELECT sk, p FROM inc WHERE $key % $SccSampleMod = 0),
       |ordx AS (SELECT sk, p,
       |  row_number() OVER (PARTITION BY sk ORDER BY $key, p) AS rn FROM samp),
       |de AS (SELECT DISTINCT a.p AS src, b.p AS dst
       |       FROM ordx a JOIN ordx b ON a.sk = b.sk AND b.rn = a.rn + 1
       |       WHERE a.p <> b.p)""".stripMargin
  }

  private lazy val sqlSccCtes: String = {
    s"""$sqlChainCtes,
       |n AS (SELECT DISTINCT id FROM (
       |  SELECT src AS id FROM de UNION ALL SELECT dst FROM de)),
       |r(a, b) AS (
       |  SELECT src, dst FROM de
       |  UNION
       |  SELECT r.a, de.dst FROM r JOIN de ON de.src = r.b),
       |mut AS (SELECT r1.a AS v, r1.b AS u
       |        FROM r r1 JOIN r r2 ON r1.a = r2.b AND r1.b = r2.a),
       |lbl AS (SELECT n.id, least(n.id, coalesce(min(m.u), n.id)) AS scc
       |        FROM n LEFT JOIN mut m ON m.v = n.id GROUP BY n.id)""".stripMargin
  }

  private val rankedNbrMemo = graft.SessionMemo[DataFrame]()

  /** Rank-annotated adjacency (src, dst, rn, deg) — neighbor lists in
    * sorted-dst order with per-src degree, built once per (session,
    * dir) and shared by BOTH walk generators' hash-pick steps (the
    * review caught the two copies silently diverging as a risk). */
  private def rankedNeighbors(s: SparkSession, d: String): DataFrame =
    rankedNbrMemo.getOrCompute(s, d) {
      val ue = undirectedEdges(s, d)
      ue.withColumn("rn", row_number().over(
          Window.partitionBy("src").orderBy("dst")))
        .join(ue.groupBy("src").agg(count(lit(1)).as("deg")), "src")
        // stored narrow (ids < 2^21 — the master leaf's loud require;
        // rn/deg ≤ degree), re-widened to the consumer schema below
        .select(col("src").cast("int").as("src"),
          col("dst").cast("int").as("dst"), col("rn"),
          col("deg").cast("int").as("deg"))
        // HOT + clustered at session width: node2vec alone scans this
        // substrate 12×/query (nbr + adj per step), and its consumer
        // stages were width-starved at the natural (AQE-coalesced) leaf
        // width — the r17 regression VERDICT task 1 names
        .transform(GenSnap.stage(_, Layout.By(col("src")), hot = true))
        .select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"), col("rn"),
          col("deg").cast("long").as("deg"))
    }

  private val walkMemo = graft.SessionMemo[DataFrame]()

  /** The first-order walk corpus (walker, node, step) — one build per
    * (session, dir), shared by `graph_random_walks` and the skip-gram
    * extraction (which consumes exactly this corpus). */
  private def walkCorpus(s: SparkSession, d: String): DataFrame =
    walkMemo.getOrCompute(s, d) {
      val nbr = rankedNeighbors(s, d) // WalkLen joins read one cached build
      var cur = supplier(s, d)
        .select(col("s_suppkey").as("walker"), col("s_suppkey").as("node"))
      var steps = List(cur.withColumn("step", lit(0)))
      for (t <- 1 to WalkLen) {
        cur = cur.select(col("walker"), col("node").as("src"))
          .join(nbr, "src")
          .filter(col("rn") ===
            (expr(s"((src * 2654435761) + $t * 1000003) % 4294967296")
              % col("deg")) + 1)
          .select(col("walker"), col("dst").as("node"))
          .transform(GenSnap.snap)
        steps ::= cur.withColumn("step", lit(t))
      }
      // repartition BEFORE caching: the 8-generation union stacks ~32
      // checkpoint partitions per step (~260 cached slivers), so every
      // downstream scan scheduled hundreds of near-empty tasks — the
      // r10 skipgrams regression was pure task-launch overhead. One
      // hash(walker) exchange at build time collapses the cache to the
      // session partition count AND co-locates each walker's steps for
      // the skip-gram self-join.
      steps.reduce(_ unionByName _).transform(GenSnap.stage(_, Layout.By(col("walker")), hot = true))
    }

  /** The walk unroll as a complete SELECT — shared by
    * `graph_random_walks` and (as a derived table) the skip-gram
    * oracle. */
  private lazy val sqlWalkOracle: String = {
    val stepCtes = (1 to WalkLen).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT w.walker, n.dst AS node, $t AS step
         |  FROM w${t - 1} w JOIN nbr n ON n.src = w.node
         |   AND n.rn = (((w.node * 2654435761) + $t * 1000003) % 4294967296) % n.deg + 1)"""
        .stripMargin
    }.mkString(",\n")
    val unionAll = (0 to WalkLen).map(t => s"SELECT walker, node, step FROM w$t")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey AS src, l_partkey + $PartIdOffset AS dst
       |  FROM lineitem),
       |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |nbr AS MATERIALIZED (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rn,
       |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
       |  FROM ue),
       |w0 AS (SELECT s_suppkey AS walker, s_suppkey AS node, 0 AS step FROM supplier),
       |$stepCtes
       |SELECT walker, node, step FROM (
       |$unionAll)
       |ORDER BY walker, step""".stripMargin
  }

  private val lpaMemo = graft.SessionMemo[DataFrame]()

  /** The 4-step LPA labels (id, community) — one propagation per
    * (session, dir), shared by `graph_label_propagation` and
    * `graph_modularity` (which scores exactly these labels). */
  private def lpaLabels(s: SparkSession, d: String): DataFrame =
    lpaMemo.getOrCompute(s, d) {
      Components.lpa(supplierPartGraph(s, d).nodes.select(col("id")),
          undirectedEdges(s, d), LpaIters, stageEdges = false)
        .select(col("id"), col("l").as("community"))
        .transform(GenSnap.stage(_))
    }

  // ── Louvain shared machinery (graph_louvain_one_level / _two_level) ─
  /** One semi-synchronous Louvain half-step: every mover evaluates
    * moving to each NEIGHBORING community and takes the strictly-
    * positive best gain over staying. The mover class is CONFLICT-FREE
    * only in the bipartite level-1 case (one side moves against the
    * frozen other side); the quotient levels use community-id parity as
    * a coloring HEURISTIC (ADVICE r15) — two adjacent same-parity
    * communities can move simultaneously against stale labels, so
    * quotient-level ascent is fixture-pinned (Round15Spec), not
    * structurally guaranteed.
    * All gain comparisons are EXACT BIGINTs scaled by 2m²:
    * gain_fp = 2m·w_vc − k_v·Σtot'_c. Self-loop rows (present in the
    * level-2 quotient graph; absent in the bipartite level-1 graph) are
    * excluded from w_vc — a node's internal mass moves WITH it, so it
    * contributes to no community's link weight. Shape: one
    * (edges ⋈ communities) equi-join + three hash aggregations per
    * half-step, node/community-sized state, broadcast 1-row 2m. */
  private def louvainSweep(ue: DataFrame, deg: DataFrame, twoM: DataFrame,
      comm: DataFrame, isMover: Column => Column): DataFrame = {
    val nc = ue.filter(isMover(col("src")) && col("src") =!= col("dst"))
      .join(comm.select(col("id").as("dst"), col("c").as("cn")), "dst")
      .groupBy(col("src").as("id"), col("cn")).agg(sum("w").as("wvc"))
    val tot = comm.join(deg, "id").groupBy("c").agg(sum("k").as("totc"))
    val base = comm.filter(isMover(col("id")))
      .join(deg, "id").crossJoin(broadcast(twoM))
    val cand = base
      .join(nc, Seq("id"))
      .join(tot.select(col("c").as("cn"), col("totc")), Seq("cn"))
      .select(col("id"), col("c"), col("k"), col("cn"),
        (col("m2") * col("wvc") - col("k") *
          (col("totc") - when(col("cn") === col("c"), col("k"))
            .otherwise(lit(0L)))).as("gain"))
    // argmax by (gain, then smaller community id) — the struct max
    // is lexicographic, (gain, -cn) max ⇔ gain DESC, cn ASC
    val best = cand
      .groupBy("id").agg(max(struct(col("gain"), (-col("cn")).as("ncn"))).as("b"))
      .select(col("id"), col("b.gain").as("bg"), (-col("b.ncn")).as("bc"))
    // staying gain: the own-community cand row where it exists
    // (v has a neighbor in its community), else −k·(Σtot−k)
    val own = cand.filter(col("cn") === col("c"))
      .select(col("id"), col("gain").as("gown"))
    val stay = base.join(tot, Seq("c"))
      .join(own, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("gown"),
          -col("k") * (col("totc") - col("k"))).as("gstay"))
    comm
      .join(best, Seq("id"), "left")
      .join(stay, Seq("id"), "left") // mover rows only
      .select(col("id"),
        when(col("bg").isNotNull && col("gstay").isNotNull
            && col("bg") > col("gstay"), col("bc"))
          .otherwise(col("c")).as("c"))
      .transform(GenSnap.snap)
  }

  /** ADVICE r14: the exact gain m2·wvc − k·totc' is unguarded Long
    * arithmetic — at a large enough scale Spark wraps silently while
    * the DuckDB oracle raises on BIGINT overflow. |gain| ≤ m2·max(k)
    * (wvc ≤ k ≤ max(k), totc' ≤ m2), so pin that product under 2^55
    * (~256× headroom below Long.MaxValue), the graph_katz_centrality
    * margin convention. BigInt on the CHECK itself so the guard cannot
    * be the thing that wraps. 1-row driver boundary over the node-sized
    * degree frame. */
  private def louvainOverflowGuard(deg: DataFrame, level: String): Unit = {
    val r = deg.agg(sum("k").as("m2"), max("k").as("maxk")).head()
    val (m2v, maxk) = (r.getLong(0), r.getLong(1))
    require(BigInt(m2v) * BigInt(maxk) < (BigInt(1) << 55),
      s"louvain $level: 2m=$m2v × max degree $maxk approaches BIGINT " +
        "wrap in the exact gain — rescale edge weights")
  }

  /** Four parity-alternating half-steps over one QUOTIENT graph `qe`
    * (src, dst, w — self-loops carry 2× intra mass): degrees + overflow
    * guard + identity init + sweeps. Shared by `graph_louvain_two_level`
    * (one call) and `graph_louvain_hierarchy` (one call per level).
    * Returns the (id, c) labels after the level's sweeps. */
  private def louvainQuotientSweeps(qe: DataFrame, level: String): DataFrame = {
    val qdeg = qe.groupBy(col("src").as("id")).agg(sum("w").as("k"))
      .transform(GenSnap.snap) // read by every half-step
    louvainOverflowGuard(qdeg, level)
    val twoM = qe.agg(sum("w").as("m2")) // Σw preserved by contraction = 2m
    var comm = qdeg.select(col("id"), col("id").as("c"))
    for (h <- 1 to 4) {
      val parity = h % 2 // odd ids first, sides alternate
      comm = louvainSweep(qe, qdeg, twoM, comm,
        idCol => idCol % 2 === lit(parity.toLong))
    }
    comm
  }

  /** Contract a weighted graph by a label map: one (edges ⋈ labels ⋈
    * labels) equi-join + hash aggregation into the community-sized
    * quotient (self-loops absorb intra mass, degrees/2m exactly
    * preserved) — the graph_scc_condensation shape. */
  private def louvainContract(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.select(col("id").as("src"), col("c").as("cs")), "src")
      .join(labels.select(col("id").as("dst"), col("c").as("cd")), "dst")
      .groupBy(col("cs").as("src"), col("cd").as("dst"))
      .agg(sum("w").as("w"))
      // staged HOT (columnar cache over a disk leaf): read by every
      // half-step of the level, and the level-2 quotient is
      // session-retained via louvainL2Memo — the r18 audit read the SER
      // snap at 32.7 MB; columnar is both smaller and ~5× cheaper/scan
      .transform(GenSnap.stage(_, hot = true))

  /** Hierarchy level cap (level 1 = bipartite sweeps + up to 7 quotient
    * levels). Usage probed ("louvain_levels") and margin-pinned at
    * sf0.1 in Sf01BoundsSpec; the driver loop stops at the first
    * no-move level, the oracle unrolls all of them (trailing levels are
    * provably no-ops). */
  private val LouvainMaxLevels = 8

  private val louvainL2Memo = graft.SessionMemo[(DataFrame, DataFrame)]()

  /** Level-2 Louvain state — (the level-1 quotient graph `qe2`, its
    * post-sweep labels) — one build per (session, dir), shared by
    * `graph_louvain_two_level` and `graph_louvain_hierarchy` (which
    * continues contracting from exactly this state): the level-2
    * contraction is the hierarchy's only |E|-sized join, so sharing it
    * is the same persisted-partition economics as the L1 memo. */
  private def louvainLevel2(s: SparkSession, d: String): (DataFrame, DataFrame) =
    louvainL2Memo.getOrCompute(s, d) {
      val (_, c1) = louvainLevel1(s, d)
      val qe = louvainContract(weightedUndirectedEdges(s, d), c1)
      (qe, louvainQuotientSweeps(qe, "level-2").transform(GenSnap.stage(_)))
    }

  private val louvainFinalMemo = graft.SessionMemo[(DataFrame, Int)]()

  /** The FINAL hierarchy labels + level count, one build per (session,
    * dir) — the L1/L2 memo convention one rung up: the hierarchy labels
    * are the persisted community artifact a production stack builds
    * once and every consumer reads. Only the last (checkpointed) frame
    * is retained — holding the whole trail pinned every level's
    * intermediate checkpoints in the block manager (+70 MB post-suite
    * at sf0.1 against the 200 MB budget). */
  private[graft] def louvainHierarchyFinal(s: SparkSession, d: String): (DataFrame, Int) =
    louvainFinalMemo.getOrCompute(s, d) {
      val t = louvainHierarchyTrail(s, d)
      (t.last.transform(GenSnap.stage(_)), t.length)
    }

  /** The composed (original id → community) label frame after each
    * hierarchy level (index 0 = level 1), stopping at the first no-move
    * level — UNMEMOIZED (Round16Spec's per-level modularity pin rebuilds
    * it; the query reads [[louvainHierarchyFinal]]). The driver loop's
    * per-level mover count is a 1-row boundary, ≤ LouvainMaxLevels of
    * them; the level count is probed and require'd. */
  private[graft] def louvainHierarchyTrail(s: SparkSession, d: String): Seq[DataFrame] = {
    val (_, c1) = louvainLevel1(s, d)
    val (qe2, comm2) = louvainLevel2(s, d)
    var labels = c1
    var qe = qe2
    val trail = scala.collection.mutable.ArrayBuffer[DataFrame](c1)
    var lvl = 2
    var moved = -1L
    while (lvl <= LouvainMaxLevels && moved != 0L) {
      val comm =
        if (lvl == 2) comm2 // the memoized level-2 sweep state
        else louvainQuotientSweeps(qe, s"level-$lvl")
      moved = comm.filter(col("id") =!= col("c")).count()
      if (moved != 0L) {
        labels = labels
          .join(comm.select(col("id").as("c"), col("c").as("cNew")), "c")
          .select(col("id"), col("cNew").as("c"))
          .transform(GenSnap.snap)
        qe = louvainContract(qe, comm)
        trail += labels
      }
      lvl += 1
    }
    graft.tools.BoundProbe.record("louvain_levels", trail.length, LouvainMaxLevels)
    require(moved == 0L,
      s"louvain still merging at level $LouvainMaxLevels — raise " +
        "LouvainMaxLevels (and the oracle unroll)")
    trail.toSeq
  }

  private val louvainL1Memo = graft.SessionMemo[(DataFrame, DataFrame)]()

  /** Level-1 Louvain state — (weighted degree (id, k), labels (id, c)) —
    * one build per (session, dir), shared by `graph_louvain_one_level`
    * and `graph_louvain_two_level` (which contracts exactly this
    * partition): the persisted-partition convention of lpaLabels and
    * the closeness/eccentricity tower. Sides of the bipartition
    * alternate as the conflict-free mover class (part half-step, then
    * supplier half-step, twice). */
  private def louvainLevel1(s: SparkSession, d: String): (DataFrame, DataFrame) =
    louvainL1Memo.getOrCompute(s, d) {
      val ue = weightedUndirectedEdges(s, d)
      val deg = ue.groupBy(col("src").as("id")).agg(sum("w").as("k"))
        .transform(GenSnap.snap) // read by every half-step
      louvainOverflowGuard(deg, "level-1")
      val twoM = ue.agg(sum("w").as("m2")) // Σ over both directions = 2m
      var comm = deg.select(col("id"), col("id").as("c"))
      for (h <- 1 to 4) {
        val moverIsPart = h % 2 == 1 // parts first, sides alternate
        comm = louvainSweep(ue, deg, twoM, comm,
          idCol => (idCol >= PartIdOffset) === lit(moverIsPart))
      }
      (deg, comm.transform(GenSnap.stage(_)))
    }

  /** One Louvain half-step as chained CTEs — the oracle twin of
    * [[louvainSweep]], shared by both levels: reads communities `$prev`
    * (id, c), edges `$ue` (src, dst, w), degrees `$deg` (id, k) and the
    * 1-row `m` (m2); emits `$out` (id, c). */
  private def sqlLouvainSweep(prev: String, out: String,
      moverCond: String => String, ue: String, deg: String): String =
    s"""nc_$out AS (
       |  SELECT ue.src AS id, p.c AS cn, CAST(sum(ue.w) AS BIGINT) AS wvc
       |  FROM $ue ue JOIN $prev p ON p.id = ue.dst
       |  WHERE ${moverCond("ue.src")} AND ue.src <> ue.dst GROUP BY 1, 2),
       |tot_$out AS (
       |  SELECT c, CAST(sum(k) AS BIGINT) AS totc
       |  FROM $prev JOIN $deg USING (id) GROUP BY c),
       |cand_$out AS MATERIALIZED (
       |  SELECT b.id, b.c, b.k, nc.cn,
       |    m.m2 * nc.wvc
       |      - b.k * (tot.totc - CASE WHEN nc.cn = b.c THEN b.k ELSE 0 END) AS gain
       |  FROM (SELECT p.id, p.c, d.k FROM $prev p JOIN $deg d USING (id)
       |        WHERE ${moverCond("p.id")}) b
       |  JOIN nc_$out nc ON nc.id = b.id
       |  JOIN tot_$out tot ON tot.c = nc.cn
       |  CROSS JOIN m),
       |best_$out AS (
       |  SELECT id, gain AS bg, cn AS bc FROM (
       |    SELECT id, gain, cn,
       |      row_number() OVER (PARTITION BY id ORDER BY gain DESC, cn ASC) AS rk
       |    FROM cand_$out) WHERE rk = 1),
       |stay_$out AS (
       |  SELECT b.id, coalesce(own.gain, -b.k * (tot.totc - b.k)) AS gstay
       |  FROM (SELECT p.id, p.c, d.k FROM $prev p JOIN $deg d USING (id)
       |        WHERE ${moverCond("p.id")}) b
       |  JOIN tot_$out tot ON tot.c = b.c
       |  LEFT JOIN (SELECT id, gain FROM cand_$out WHERE cn = c) own
       |    ON own.id = b.id),
       |$out AS MATERIALIZED (
       |  SELECT p.id,
       |    CASE WHEN b.bg IS NOT NULL AND st.gstay IS NOT NULL
       |              AND b.bg > st.gstay
       |         THEN b.bc ELSE p.c END AS c
       |  FROM $prev p
       |  LEFT JOIN best_$out b ON b.id = p.id
       |  LEFT JOIN stay_$out st ON st.id = p.id)""".stripMargin

  /** The shared level-1 oracle prefix: e0/ue/deg/m/c0 + the four
    * bipartite half-steps, ending at labels CTE `c4` (id, c). */
  private def sqlLouvainL1Ctes: String = {
    val sweeps = (1 to 4).map { k =>
      val moverIsPart = k % 2 == 1
      def moverCond(id: String) =
        if (moverIsPart) s"$id >= $PartIdOffset" else s"$id < $PartIdOffset"
      sqlLouvainSweep(s"c${k - 1}", s"c$k", moverCond, "ue", "deg")
    }.mkString(",\n")
    s"""e0 AS (
       |  SELECT l_suppkey AS a, l_partkey + $PartIdOffset AS b,
       |    CAST(min(l_quantity) AS BIGINT) AS w
       |  FROM lineitem GROUP BY 1, 2),
       |ue AS (SELECT a AS src, b AS dst, w FROM e0
       |       UNION ALL SELECT b, a, w FROM e0),
       |deg AS (SELECT src AS id, CAST(sum(w) AS BIGINT) AS k FROM ue GROUP BY src),
       |m AS (SELECT CAST(sum(w) AS BIGINT) AS m2 FROM ue),
       |c0 AS (SELECT id, id AS c FROM deg),
       |$sweeps""".stripMargin
  }

  private val sigmaMemo = graft.SessionMemo[DataFrame]()

  /** The σ tower (multi-source BFS distances + shortest-path counts for
    * the landmark seeds) — one build per (session, dir), shared by
    * `graph_path_counts` and the betweenness backward sweep, same
    * explicit-sharing policy as the staged adjacency. */
  private def sigmaTower(s: SparkSession, d: String): DataFrame =
    sigmaMemo.getOrCompute(s, d) {
      Components.multiBfsCounts(undirectedEdges(s, d), SpLandmarks, SigmaUnroll)
        .transform(GenSnap.stage(_, Layout.Wide, hot = true))
    }

  /** The σ tower (multi-source shortest-path counts) as DuckDB CTEs —
    * shared by `graph_path_counts` and the betweenness backward sweep.
    * Yields `f(lm, id, d, sigma)`. Every CTE is MATERIALIZED: an
    * inlined level would re-expand the whole tower (and re-open the
    * lineitem parquet) once per reference — 12 levels deep that
    * exhausts the process's file handles before it exhausts the
    * planner. */
  /** The tower CTEs with a caller-supplied `l0` seed-init CTE (must
    * yield (lm BIGINT, id BIGINT, d INT, sigma BIGINT)) — shared by the
    * literal-landmark form below and the hash-sampled betweenness
    * estimator, whose seeds come from a SQL CTE instead of literals. */
  private def sigmaCtesWithInit(l0Cte: String): String = {
    val levels = (1 to SigmaUnroll).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT p.lm, ue.dst AS id, $k AS d, CAST(sum(p.sigma) AS BIGINT) AS sigma
         |  FROM l${k - 1} p JOIN ue ON ue.src = p.id
         |  LEFT JOIN s${k - 1} st ON st.lm = p.lm AND st.id = ue.dst
         |  WHERE st.id IS NULL
         |  GROUP BY p.lm, ue.dst),
         |s$k AS MATERIALIZED (SELECT lm, id FROM s${k - 1} UNION ALL SELECT lm, id FROM l$k)""".stripMargin
    }.mkString(",\n")
    val unionAll = (0 to SigmaUnroll).map(k => s"SELECT * FROM l$k")
      .mkString("\nUNION ALL\n")
    s"""e AS MATERIALIZED (SELECT DISTINCT l_suppkey AS src, l_partkey + $PartIdOffset AS dst FROM lineitem),
       |ue AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
       |$l0Cte,
       |s0 AS MATERIALIZED (SELECT lm, id FROM l0),
       |$levels,
       |f AS MATERIALIZED (
       |$unionAll)""".stripMargin
  }

  private lazy val sqlSigmaCtes: String = {
    val seedRows = SpLandmarks.map(x => s"($x, $x, 0, 1)").mkString(", ")
    sigmaCtesWithInit(
      s"""l0 AS MATERIALIZED (SELECT CAST(lm AS BIGINT) AS lm, CAST(id AS BIGINT) AS id,
         |              CAST(d AS INT) AS d, CAST(sigma AS BIGINT) AS sigma
         |       FROM (VALUES $seedRows) t(lm, id, d, sigma))""".stripMargin)
  }

  /** Brandes' backward dependency sweep as MATERIALIZED CTE levels over
    * an already-defined tower `f(lm, id, d, sigma)` and adjacency `ue`
    * — shared verbatim by the exact-landmark and sampled betweenness
    * oracles. Yields d$SigmaUnroll..d0 with per-(lm,id) delta. */
  private lazy val sqlBrandesBackCtes: String = {
    val back = (SigmaUnroll - 1 to 0 by -1).map { k =>
      s"""c$k AS MATERIALIZED (
         |  SELECT v.lm, v.id,
         |    list_reduce(list_transform(
         |      list(struct_pack(w := s.id,
         |        c := (CAST(v.sigma AS DOUBLE) / CAST(s.sigma AS DOUBLE)) * (1.0 + s.delta))
         |        ORDER BY s.id),
         |      e -> e.c), (a, b) -> a + b) AS delta
         |  FROM (SELECT * FROM f WHERE d = $k) v
         |  JOIN ue ON ue.src = v.id
         |  JOIN d${k + 1} s ON s.lm = v.lm AND s.id = ue.dst
         |  GROUP BY v.lm, v.id),
         |d$k AS MATERIALIZED (
         |  SELECT v.lm, v.id, v.sigma, coalesce(c.delta, 0.0) AS delta
         |  FROM (SELECT * FROM f WHERE d = $k) v
         |  LEFT JOIN c$k c ON c.lm = v.lm AND c.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""d$SigmaUnroll AS MATERIALIZED (
       |  SELECT lm, id, sigma, CAST(0.0 AS DOUBLE) AS delta FROM f WHERE d = $SigmaUnroll),
       |$back""".stripMargin
  }

  /** Union of the settled backward levels d1..dUnroll (d0 = the seeds
    * themselves is dropped — Brandes accumulates δ only over v ≠
    * source), one (lm, id, delta) row per settled vertex. */
  private lazy val sqlBrandesLevelsUnion: String =
    (1 to SigmaUnroll).map(k => s"SELECT lm, id, delta FROM d$k")
      .mkString("\nUNION ALL\n")

  /** The 4-superstep LPA unroll as a complete SELECT — shared by
    * `graph_label_propagation` and (as an embedded derived table) the
    * modularity oracle, so the communities being scored are the
    * driver-proven ones. Each layer references its predecessor twice
    * (votes + carry): AS MATERIALIZED, or DuckDB's CTE inlining goes
    * exponential. */
  private lazy val sqlLpaOracle: String = {
    val layers = (1 to LpaIters).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT p.id, coalesce(b.bl, p.l) AS l
         |  FROM l${k - 1} p LEFT JOIN (
         |    SELECT dst, nl AS bl FROM (
         |      SELECT ue.dst, l.l AS nl, count(*) AS cnt,
         |        row_number() OVER (PARTITION BY ue.dst
         |          ORDER BY count(*) DESC, l.l ASC) AS rk
         |      FROM ue JOIN l${k - 1} l ON ue.src = l.id
         |      GROUP BY ue.dst, l.l) WHERE rk = 1
         |  ) b ON b.dst = p.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey AS src, l_partkey + $PartIdOffset AS dst
       |  FROM lineitem),
       |ue AS MATERIALIZED (
       |  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |n AS (SELECT s_suppkey AS id FROM supplier
       |      UNION ALL SELECT p_partkey + $PartIdOffset FROM part),
       |l0 AS (SELECT id, id AS l FROM n),
       |$layers
       |SELECT id, l AS community FROM l$LpaIters ORDER BY id""".stripMargin
  }

  /** Unroll depth for `graph_weighted_sssp`'s oracle — must be ≥ the
    * relaxation rounds the Spark fixpoint actually needed (require'd in
    * the query; weighted-optimal paths can use more hops than the
    * unweighted diameter, hence the margin over BFS's observed ~12). */
  private val WSsspUnroll = 20

  /** LPA superstep count — FIXED (not convergence-driven) so the DuckDB
    * oracle is an exact unroll of the same depth. */
  private val LpaIters = 4

  /** Fixed-point scale (1.0 ≡ 1e9) and reset mass (0.15 ≡ 1.5e8) for
    * `graph_pagerank_exact`; 5 power iterations. */
  private val Scale = 1000000000L
  private val Reset = 150000000L
  private val PrIters = 5

  /** Common-neighbor pair counts with the salted two-stage aggregation
    * (the rel_skew_salted_agg recipe applied to the graph side). A hub
    * endpoint of degree d emits d² pairs out of the self-join, and a
    * popular PAIR then funnels all its rows into one reducer; salting by
    * the shared endpoint spreads each hot pair's partial counts over
    * `salts` subkeys — counts re-aggregate losslessly, so the result is
    * provably identical to the direct groupBy. Both stages shuffle by
    * hash partitioning ((sa, sb, salt) then (sa, sb)) — asserted in
    * SkewSpec on a hub-heavy corpus. The join itself stays an equi-join
    * on dst; AQE skew-join splitting handles the join-task imbalance. */
  def commonNeighborsSalted(edges: DataFrame, salts: Int = 16): DataFrame = {
    val a = edges.select(col("src").as("sa"), col("dst"))
    val b = edges.select(col("src").as("sb"), col("dst"))
    a.join(b, "dst").filter(col("sa") < col("sb"))
      .withColumn("salt", pmod(hash(col("dst")), lit(salts)))
      .groupBy("sa", "sb", "salt").agg(count(lit(1)).as("pc"))
      .groupBy("sa", "sb").agg(sum("pc").as("shared_parts"))
  }

  /** SQL views of the supplierPartGraph nodes/edges relations — the
    * prefix every generated pattern oracle shares. Mirrors
    * [[supplierPartGraph]] exactly (same id offset, same DISTINCT, same
    * literal label/rel_type/weight). */
  val motifCtes: String =
    s"""WITH nodes AS (
       |  SELECT s_suppkey AS id, 'Supplier' AS label, s_name AS name FROM supplier
       |  UNION ALL
       |  SELECT p_partkey + $PartIdOffset AS id, 'Part' AS label, p_name AS name FROM part),
       |edges AS (
       |  SELECT src, dst, 'SUPPLIES' AS rel_type, 1.0 AS weight FROM (
       |    SELECT DISTINCT l_suppkey AS src, l_partkey + $PartIdOffset AS dst
       |    FROM lineitem))""".stripMargin

  /** The part-chain graph as a PropertyGraph (nodes = chain parts,
    * edges = NEXT) — the directed multi-hop substrate the var-length
    * pattern query traverses; shares [[partChainEdges]]'s memoized
    * cache. */
  private def chainMotifGraph(s: SparkSession, d: String): PropertyGraph = {
    val de = partChainEdges(s, d)
    val nodes = de.select(col("src").as("id"))
      .union(de.select(col("dst").as("id"))).distinct()
      .select(col("id"), lit("Part").as("label"),
        concat(lit("part-"), col("id")).as("name"))
    PropertyGraph(nodes,
      de.select(col("src"), col("dst"), lit("NEXT").as("rel_type"),
        lit(1.0).as("weight")))
  }

  /** nodes/edges CTEs over the chain graph for generated pattern
    * oracles — the [[motifCtes]] analogue on the [[sqlChainCtes]]
    * substrate. */
  private lazy val chainMotifCtes: String =
    s"""WITH $sqlChainCtes,
       |nodes AS (
       |  SELECT id, 'Part' AS label, 'part-' || id AS name FROM (
       |    SELECT DISTINCT src AS id FROM de
       |    UNION SELECT DISTINCT dst FROM de)),
       |edges AS (
       |  SELECT src, dst, 'NEXT' AS rel_type, 1.0 AS weight FROM de)""".stripMargin

  /** One gated query from ONE pattern string: the Spark side compiles
    * the parsed AST onto the graph DataFrames, the oracle side emits
    * ANSI SQL from the SAME AST — parse once, prove both targets. */
  private def motifQ(name: String, pattern: String): Q = {
    val ast = Motif.parse(pattern)
    Q(name,
      (s, d) => Motif.dataFrame(supplierPartGraph(s, d), ast),
      Some(s"$motifCtes\n${Motif.sql(ast)}"))
  }

  val queries: Seq[Q] = Seq(
    // ── degree per node — `MATCH (s)-[r]->(p) RETURN s, count(r)` ──────
    // (the count_connections shape, image_classification.py:513-522, on
    // the generic property graph rather than the cluster edges)
    Q(
      "graph_out_degree",
      (s, d) =>
        supplierPartGraph(s, d).edges
          .groupBy("src").agg(count(lit(1)).as("degree"))
          .orderBy("src"),
      Some("""SELECT l_suppkey AS src, count(*) AS degree FROM (
             |  SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
             |GROUP BY src ORDER BY src""".stripMargin)
    ),

    // ── two-hop traversal: parts co-supplied with part 1 ───────────────
    // `MATCH (p1)<-[:SUPPLIES]-(s)-[:SUPPLIES]->(p2)` — join through the
    // shared supplier, the graph-pattern equi-join of SURVEY.md Q13.
    Q(
      "graph_two_hop",
      (s, d) => {
        val es = supplierPartGraph(s, d).edges.select(
          col("src"), (col("dst") - PartIdOffset).as("part"))
        val fromP1 = es.filter(col("part") === 1L).select(col("src").as("via"))
        es.join(broadcast(fromP1), col("src") === col("via"))
          .filter(col("part") =!= 1L)
          .select(col("part")).distinct()
          .orderBy("part")
      },
      Some("""SELECT DISTINCT l_partkey AS part
             |FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
             |WHERE l_suppkey IN (
             |  SELECT DISTINCT l_suppkey FROM lineitem WHERE l_partkey = 1)
             |  AND l_partkey <> 1
             |ORDER BY part""".stripMargin)
    ),

    // ── declarative pattern front-end (VERDICT r11 task 1) ─────────────
    // The reference's user issues ARBITRARY Cypher at runtime
    // (database.py:46-48); these three gated queries drive the same
    // class through PropertyGraph.find: for each, the Spark plan AND
    // the DuckDB oracle are BOTH compiled from one Motif.parse of the
    // pattern string (the oracle is motifCtes + Motif.sql(ast)), so the
    // gate proves the two compilation targets agree — any new pattern a
    // user writes gets the same guarantee by construction. Shapes are
    // pinned against the hand-written kernels in PlanSpec.
    //
    // 1) the reference's point-lookup pattern
    //    (image_classification.py:465-468): members of one cluster.
    motifQ("graph_pattern_edge",
      "MATCH (s:Supplier)-[:SUPPLIES]->(p:Part {id: 1000001}) " +
        "RETURN s.id AS supplier, s.name AS supplier_name ORDER BY supplier"),
    // 2) the two-hop co-supply traversal (the graph_two_hop kernel,
    //    written as a pattern; label joins elided — ids suffice).
    motifQ("graph_pattern_two_hop",
      "MATCH (p1)<-[:SUPPLIES]-(s)-[:SUPPLIES]->(p2) " +
        "WHERE p1.id = 1000001 AND p2.id <> 1000001 " +
        "RETURN DISTINCT p2.id AS part ORDER BY part"),
    // 3) the reference's aggregate form (image_classification.py:513-522
    //    count_connections): per-source edge counts via pattern.
    motifQ("graph_pattern_agg",
      "MATCH (s:Supplier)-[:SUPPLIES]->(p:Part) " +
        "RETURN s.id AS src, count(p) AS degree ORDER BY src"),
    // 4) variable-length traversal over the directed part-chain graph
    //    (the SCC substrate): every 2-or-3-hop NEXT path, counted per
    //    endpoint pair — one row per PATH (Cypher multiplicity), the
    //    compiled plan a UNION ALL of the unrolled hop-chain equi-joins
    //    on both engines.
    {
      val ast = Motif.parse(
        "MATCH (a)-[:NEXT*2..3]->(b) " +
          "RETURN a.id AS src, b.id AS dst, count(*) AS paths ORDER BY src, dst")
      Q("graph_pattern_varlen",
        (s, d) => Motif.dataFrame(chainMotifGraph(s, d), ast),
        Some(s"$chainMotifCtes\n${Motif.sql(ast)}"))
    },
    // 5) OPTIONAL MATCH (VERDICT r12 task 5): left-join semantics — every
    //    supplier, with the part-1000001 edge attached where it exists
    //    and NULLs elsewhere. Both targets compile the optional group as
    //    a derived sub-pattern LEFT JOINed on the shared variable, and
    //    the generated ORDER BY pins NULLS FIRST/LAST to Spark defaults.
    motifQ("graph_pattern_optional",
      "MATCH (s:Supplier) " +
        "OPTIONAL MATCH (s)-[e:SUPPLIES]->(p:Part {id: 1000001}) " +
        "RETURN s.id AS supplier, p.id AS part, e.weight AS w ORDER BY supplier"),
    // 6) negation (VERDICT r12 task 5): suppliers with NO edge to part
    //    1000001 — `WHERE NOT (s)-[:SUPPLIES]->(x {id: …})` compiles to
    //    a left-anti join on Spark and a correlated NOT EXISTS in the
    //    generated oracle.
    motifQ("graph_pattern_negation",
      "MATCH (s:Supplier) WHERE NOT (s)-[:SUPPLIES]->(x {id: 1000001}) " +
        "RETURN s.id AS supplier, s.name AS supplier_name ORDER BY supplier LIMIT 50"),

    // ── pattern-surface writes (VERDICT r12 task 4) ────────────────────
    // The reference's Cypher surface includes writes: create_relationship
    // string-interpolates `MATCH (a),(b) WHERE … CREATE (a)-[r:TYPE
    // props]->(b)` (database.py:51-67) and the centroid update is a SET
    // (image_classification.py:499-503). Both clauses now compile from
    // the same Motif AST: CREATE → the new-edge rows for the
    // edges-append sink; SET → the recompute-overwrite relation.
    //
    // 7) CREATE roundtrip: co-supplier edges derived from a two-edge
    //    match are WRITTEN to parquet (a real sink write), read back,
    //    unioned with the base graph, and RE-READ BY A PATTERN QUERY —
    //    the oracle replays the created set as a CTE generated from the
    //    same CreateStmt AST and points the read pattern at the unioned
    //    edge view, so the write→read cycle is hash-matched end-to-end.
    {
      val createAst = Motif.parseStatement(
        "MATCH (a:Supplier)-[:SUPPLIES]->(p:Part {id: 1000001}), " +
          "(b:Supplier)-[:SUPPLIES]->(p) WHERE a.id < b.id " +
          "CREATE (a)-[:CO_SUPPLIER {weight: 2.0}]->(b)")
        .asInstanceOf[Motif.CreateStmt]
      val readAst = Motif.parse(
        "MATCH (x:Supplier)-[e:CO_SUPPLIER]->(y:Supplier) " +
          "RETURN x.id AS a_id, y.id AS b_id, e.weight AS w ORDER BY a_id, b_id")
      Q("graph_pattern_create",
        (s, d) => {
          val g = supplierPartGraph(s, d)
          // staging dir registered for shutdown cleanup (ADVICE r14); the
          // parquet write runs inside every timed bench pass by DESIGN —
          // the write→read roundtrip is the operator being measured
          val dir = graft.tools.Staging.dir("create", d)
          Motif.createDf(g, createAst).write.mode("overwrite").parquet(dir)
          val g2 = PropertyGraph(g.nodes,
            g.edges.unionByName(s.read.parquet(dir)))
          Motif.dataFrame(g2, readAst)
        },
        Some(s"""$motifCtes,
               |created AS (
               |${Motif.createSql(createAst)}),
               |edges2 AS (
               |  SELECT src, dst, rel_type, CAST(weight AS DOUBLE) AS weight FROM edges
               |  UNION ALL SELECT * FROM created)
               |${Motif.sql(readAst, nodesRel = "nodes", edgesRel = "edges2")}""".stripMargin))
    },
    // 8) SET on a node property: matched suppliers get a new name; the
    //    result is the FULL updated nodes relation (overwrite semantics,
    //    Q16's recompute-overwrite kernel), oracle = CASE WHEN over the
    //    matched-id set generated from the same SetStmt AST.
    {
      val ast = Motif.parseStatement(
        "MATCH (s:Supplier)-[:SUPPLIES]->(p:Part {id: 1000001}) " +
          "SET s.name = 'PREFERRED SUPPLIER'").asInstanceOf[Motif.SetStmt]
      Q("graph_pattern_set",
        (s, d) => Motif.setDf(supplierPartGraph(s, d), ast).orderBy("id"),
        Some(s"""$motifCtes
               |SELECT id, label, name FROM (
               |${Motif.setSql(ast)})
               |ORDER BY id""".stripMargin))
    },
    // 9) SET on an edge property (the reference's centroid-update shape
    //    generalized): matched SUPPLIES edges get weight 2.5; top-100 by
    //    weight shows the updated rows with a deterministic tiebreak.
    {
      val ast = Motif.parseStatement(
        "MATCH (a:Supplier)-[e:SUPPLIES]->(p:Part {id: 1000001}) " +
          "SET e.weight = 2.5").asInstanceOf[Motif.SetStmt]
      Q("graph_pattern_set_weight",
        (s, d) => Motif.setDf(supplierPartGraph(s, d), ast)
          .orderBy(col("weight").desc, col("src"), col("dst")).limit(100),
        Some(s"""$motifCtes
               |SELECT src, dst, rel_type, weight FROM (
               |${Motif.setSql(ast)})
               |ORDER BY weight DESC, src, dst LIMIT 100""".stripMargin))
    },
    // 10) DELETE roundtrip (VERDICT r13 task 6 — the last ad-hoc write
    //     form the reference uses live: `MATCH ()-[r]-() DELETE r` at
    //     image_classification.py:353-362): matched SUPPLIES edges are
    //     anti-joined away, the post-delete edge relation is WRITTEN to
    //     a parquet sink (the truncate-overwrite shape), read back, and
    //     RE-READ BY A PATTERN QUERY — deleted parts must vanish from
    //     the degree report while neighbors keep theirs. The oracle
    //     replays the delete as a CTE generated from the same
    //     DeleteStmt AST.
    {
      val delAst = Motif.parseStatement(
        "MATCH (a:Supplier)-[r:SUPPLIES]->(p:Part) WHERE p.id <= 1000010 " +
          "DELETE r").asInstanceOf[Motif.DeleteStmt]
      val readAst = Motif.parse(
        "MATCH (s:Supplier)-[:SUPPLIES]->(p:Part) WHERE p.id <= 1000020 " +
          "RETURN p.id AS part, count(s) AS degree ORDER BY part")
      Q("graph_pattern_delete",
        (s, d) => {
          val g = supplierPartGraph(s, d)
          val dir = graft.tools.Staging.dir("delete", d) // cleanup-registered; in-pass write is intentional
          val (n2, e2) = Motif.deleteDf(g, delAst)
          e2.write.mode("overwrite").parquet(dir)
          val g2 = PropertyGraph(n2, s.read.parquet(dir))
          Motif.dataFrame(g2, readAst)
        },
        Some(s"""$motifCtes,
               |edges2 AS (
               |${Motif.deleteEdgesSql(delAst)})
               |${Motif.sql(readAst, nodesRel = "nodes", edgesRel = "edges2")}""".stripMargin))
    },
    // 11) DETACH DELETE roundtrip (database.py:42-48, live at
    //     train.py:10): matched Part nodes AND every incident edge are
    //     deleted; both post-delete relations go through a parquet sink
    //     and the re-read pattern must see neither the nodes nor their
    //     edges (min surviving part id + edge count, hash-matched
    //     against the oracle's twin anti-join CTEs).
    {
      val delAst = Motif.parseStatement(
        "MATCH (p:Part) WHERE p.id <= 1000050 DETACH DELETE p")
        .asInstanceOf[Motif.DeleteStmt]
      val readAst = Motif.parse(
        "MATCH (s:Supplier)-[:SUPPLIES]->(p:Part) " +
          "RETURN count(*) AS edges_left, min(p.id) AS min_part")
      Q("graph_pattern_detach_delete",
        (s, d) => {
          val g = supplierPartGraph(s, d)
          val dir = graft.tools.Staging.dir("detach", d) // cleanup-registered; in-pass write is intentional
          val (n2, e2) = Motif.deleteDf(g, delAst)
          n2.write.mode("overwrite").parquet(s"$dir/nodes")
          e2.write.mode("overwrite").parquet(s"$dir/edges")
          val g2 = PropertyGraph(s.read.parquet(s"$dir/nodes"),
            s.read.parquet(s"$dir/edges"))
          Motif.dataFrame(g2, readAst)
        },
        Some(s"""$motifCtes,
               |nodes2 AS (
               |${Motif.deleteNodesSql(delAst)}),
               |edges2 AS (
               |${Motif.deleteEdgesSql(delAst)})
               |${Motif.sql(readAst, nodesRel = "nodes2", edgesRel = "edges2")}""".stripMargin))
    },

    // ── weighted degree over the cluster graph ─────────────────────────
    // Build the reference's actual graph — Image-[:CLOSEST_TO]->Centroid
    // with cosine weight — from the k-means assignment, then aggregate
    // edge weight per centroid (sum of member similarities). The sum is
    // a per-group sorted sequential fold (bit-identical to the oracle).
    Q(
      "graph_cluster_edge_weight",
      (s, d) => {
        val a = graft.cluster.KMeans.assign(
          embeddings(s, d), graft.cluster.KMeans.initCentroids(embeddings(s, d), 8))
        a.groupBy("cid")
          .agg(sort_array(collect_list(col("sim"))).as("sims"))
          .select(col("cid"),
            graft.ops.Vector.seqSum(col("sims")).as("total_weight"),
            size(col("sims")).as("members"))
          .orderBy("cid")
      },
      Some {
        import graft.ops.Vector._
        val k = 8
        val cents =
          s"""(SELECT vec_id AS cid, ${sqlVec("embedding")} AS cv FROM embeddings
             | ORDER BY ${detHashSql("vec_id")}, vec_id LIMIT $k)""".stripMargin
        val c = sqlCosine(sqlVec("e.embedding"), "c.cv")
        s"""WITH cents AS $cents,
           |scored AS (
           |  SELECT e.vec_id, c.cid, $c AS sim,
           |         row_number() OVER (PARTITION BY e.vec_id ORDER BY $c DESC, c.cid ASC) AS rk
           |  FROM embeddings e, cents c),
           |assigned AS (SELECT vec_id, cid, sim FROM scored WHERE rk = 1),
           |grouped AS (SELECT cid, list(sim ORDER BY sim) AS sims FROM assigned GROUP BY cid)
           |SELECT cid, ${sqlSeqSum("sims")} AS total_weight, len(sims) AS members
           |FROM grouped ORDER BY cid""".stripMargin
      }
    ),

    // ── GraphX connected components (min-id label propagation) ─────────
    // Deterministic (component label = min vertex id reachable over the
    // undirected structure — GraphX CC ignores direction), so the oracle
    // replays the same min-label propagation as a DuckDB recursive CTE:
    // tuples (id, label) grow monotonically and the UNION fixpoint
    // terminates at reachable-pairs.
    Q(
      "graph_connected_components",
      (s, d) => {
        val g = supplierPartGraph(s, d)
        val cc = g.toGraphX.connectedComponents().vertices
        val spark = s
        import spark.implicits._
        cc.toDF("id", "component")
          .groupBy("component").agg(count(lit(1)).as("size"))
          .orderBy("component")
      },
      Some(s"""WITH RECURSIVE
              |e AS (SELECT DISTINCT l_suppkey AS src, l_partkey + $PartIdOffset AS dst FROM lineitem),
              |ue AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
              |n AS (SELECT s_suppkey AS id FROM supplier
              |      UNION ALL SELECT p_partkey + $PartIdOffset FROM part),
              |lbl(id, lbl) AS (
              |  SELECT id, id FROM n
              |  UNION
              |  SELECT ue.dst, lbl.lbl FROM lbl JOIN ue ON ue.src = lbl.id),
              |comp AS (SELECT id, min(lbl) AS component FROM lbl GROUP BY id)
              |SELECT component, count(*) AS size FROM comp
              |GROUP BY component ORDER BY component""".stripMargin)
    ),

    // ── multi-source BFS shortest paths to landmark suppliers ──────────
    // Frontier BFS as a DataFrame loop over the cached undirected
    // adjacency — the same per-superstep shape as graph_pagerank_exact
    // (one equi-join + one distinct shuffle per hop, all whole-stage
    // codegen'd). This replaced GraphX ShortestPaths, which shipped
    // Map[landmark→dist] messages over a doubled edge RDD and ran 3×
    // slower; the DataFrame loop keeps per-hop state at (landmark, id)
    // integer rows. Each settled frontier is cached and the next hop
    // anti-joins against their union, so no vertex is revisited and the
    // loop terminates when the frontier drains (≤ diameter hops, far
    // below the SpMaxDepth bound shared with the oracle — a loud
    // `require` fires if the bound is ever hit, rather than silently
    // reporting unreachable).
    Q(
      "graph_shortest_paths",
      (s, d) => {
        val g = supplierPartGraph(s, d)
        val ue = undirectedEdges(s, d)
        val dist = Components.multiBfs(ue, SpLandmarks, SpMaxDepth)
        val d1 = dist.filter(col("lm") === SpLandmarks.head).select(col("id"), col("d").as("dd1"))
        val d2 = dist.filter(col("lm") === SpLandmarks(1)).select(col("id"), col("d").as("dd2"))
        val out = g.nodes.select(col("id"))
          .join(d1, Seq("id"), "left").join(d2, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("dd1"), lit(-1)).cast("int").as("dist_to_s1"),
            coalesce(col("dd2"), lit(-1)).cast("int").as("dist_to_s2"))
          .orderBy("id")
        out
      },
      Some(s"""WITH RECURSIVE
              |e AS (SELECT DISTINCT l_suppkey AS src, l_partkey + $PartIdOffset AS dst FROM lineitem),
              |ue AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
              |n AS (SELECT s_suppkey AS id FROM supplier
              |      UNION ALL SELECT p_partkey + $PartIdOffset FROM part),
              |bfs(lm, id, d) AS (
              |  SELECT * FROM (VALUES (${SpLandmarks.head}, ${SpLandmarks.head}, 0),
              |                        (${SpLandmarks(1)}, ${SpLandmarks(1)}, 0)) t(lm, id, d)
              |  UNION
              |  SELECT b.lm, ue.dst, b.d + 1 FROM bfs b JOIN ue ON ue.src = b.id
              |  WHERE b.d < $SpMaxDepth),
              |dist AS (SELECT lm, id, min(d) AS d FROM bfs GROUP BY lm, id)
              |SELECT n.id,
              |  CAST(coalesce(d1.d, -1) AS INT) AS dist_to_s1,
              |  CAST(coalesce(d2.d, -1) AS INT) AS dist_to_s2
              |FROM n
              |LEFT JOIN dist d1 ON d1.id = n.id AND d1.lm = ${SpLandmarks.head}
              |LEFT JOIN dist d2 ON d2.id = n.id AND d2.lm = ${SpLandmarks(1)}
              |ORDER BY n.id""".stripMargin)
    ),

    // ── shortest-path counting (Brandes forward pass) ──────────────────
    // σ(s, v) = number of distinct shortest s→v paths, level-synchronous:
    // a newly-settled vertex's σ is the SUM of its frontier
    // predecessors' σ — the forward half of Brandes' betweenness
    // algorithm, and exactly [[Components.multiBfsCounts]]'s one
    // equi-join + partial-agg sum + anti-join per hop for all seeds at
    // once. Counts are exact BIGINTs (overflow margin require'd at 2^40),
    // so the MATERIALIZED per-level unroll in DuckDB reproduces every σ
    // bit-for-bit; the Spark side require's the frontier drains within
    // the shared unroll depth.
    Q(
      "graph_path_counts",
      (s, d) => sigmaTower(s, d).orderBy("lm", "id"),
      Some(s"""WITH
              |$sqlSigmaCtes
              |SELECT lm, id, d, sigma FROM f
              |ORDER BY lm, id""".stripMargin)
    ),

    // ── betweenness centrality (full Brandes, hash-exact) ──────────────
    // The backward pass on top of graph_path_counts' forward σ tower:
    // dependency δ(v) = Σ over true successors w (d(w)=d(v)+1, edge
    // v–w) of (σv/σw)·(1+δw), swept from the deepest level down;
    // B(v) = Σ over sources of δ(v) (v ≠ source). The float fold per
    // vertex is made DETERMINISTIC — and therefore oracle-hashable,
    // which published distributed betweenness implementations don't
    // attempt — by folding each vertex's successor contributions in
    // sorted successor-id order on BOTH engines (Spark: sort_array +
    // aggregate; DuckDB: list(… ORDER BY) + list_reduce; a 0.0 init vs
    // first-element init is bit-identical because every contribution is
    // positive). Per backward level: one equi-join against the staged
    // adjacency + one partial-agg'd grouped fold — the same superstep
    // budget as the forward pass, all sources at once.
    Q(
      "graph_betweenness",
      (s, d) =>
        Components.betweenness(undirectedEdges(s, d), SpLandmarks, SigmaUnroll,
            tower = Some(sigmaTower(s, d)))
          .orderBy("id"),
      Some {
        val bc = SpLandmarks.map(lm =>
            s"coalesce(max(CASE WHEN lm = $lm THEN delta END), 0.0)")
          .mkString(" + ")
        s"""WITH
           |$sqlSigmaCtes,
           |$sqlBrandesBackCtes
           |SELECT id, $bc AS bc FROM (
           |$sqlBrandesLevelsUnion)
           |GROUP BY id ORDER BY id""".stripMargin
      }
    ),

    // ── sampled betweenness (Brandes–Pich / Eppstein–Wang estimator) ───
    // The honest 100 TB shape for betweenness: full Brandes is one BFS
    // + one backward sweep PER VERTEX — no budget runs that on 10^9
    // vertices. The pivot estimator runs the identical machinery over s
    // sampled sources and scales: B̂(v) = (n/s)·Σ_{seeds} δ(v) — an
    // unbiased estimator whose error decays as O(1/√s) (Eppstein–Wang
    // 2001; Brandes–Pich 2007 for the pivot form; s grows like
    // log n / ε², NOT like n). Seeds are the s smallest (detHash(id),
    // id) nodes — the repo's reproducible-sampling discipline — picked
    // by an s-row driver collect on the Spark side and by the same
    // ORDER BY ... LIMIT inside a CTE on the oracle side, so the gate
    // hash-proves the full estimator: seed choice, σ tower, backward
    // sweep, AND the n/s scaling. Per-seed δ sums fold ascending-lm on
    // both engines (missing-seed 0.0 terms are IEEE no-ops), keeping
    // the float total deterministic. GraphSpec additionally pins the
    // estimator arithmetic on a hand-computed path graph and proves
    // seeds = V recovers exact Brandes.
    Q(
      "graph_betweenness_sampled",
      (s, d) => {
        val nodes = supplierPartGraph(s, d).nodes.select(col("id"))
        val n = nodes.count()
        // s-row driver boundary: the estimator's pivot set (sorted
        // ascending so the Spark per-seed add chain matches the
        // oracle's ascending-lm fold order)
        val seeds = nodes
          .orderBy(graft.Tables.detHash(col("id")).asc, col("id").asc)
          .limit(BcSampleSeeds).collect().map(_.getLong(0)).toSeq.sorted
        // the pivot σ tower is a session artifact like the landmark one
        // (sigmaTower): at 100 TB both live as persisted tables the
        // centrality family reads, so the estimator shares one build
        // per (session, dir) instead of re-running the forward BFS
        val tower = sampledTowerMemo.getOrCompute(s, d) {
          Components.multiBfsCounts(undirectedEdges(s, d), seeds, SigmaUnroll)
            .transform(GenSnap.stage(_, Layout.Wide, hot = true))
        }
        Components.betweenness(undirectedEdges(s, d), seeds, SigmaUnroll,
            tower = Some(tower))
          .select(col("id"),
            (lit(n.toDouble / BcSampleSeeds) * col("bc")).as("bc_est"))
          .orderBy("id")
      },
      Some {
        val seedInit =
          s"""nn AS MATERIALIZED (SELECT CAST(s_suppkey AS BIGINT) AS id FROM supplier
             |      UNION ALL SELECT p_partkey + $PartIdOffset FROM part),
             |seeds AS MATERIALIZED (SELECT id FROM nn
             |  ORDER BY ${graft.Tables.detHashSql("id")}, id LIMIT $BcSampleSeeds),
             |l0 AS MATERIALIZED (SELECT id AS lm, id, CAST(0 AS INT) AS d,
             |  CAST(1 AS BIGINT) AS sigma FROM seeds)""".stripMargin
        s"""WITH
           |${sigmaCtesWithInit(seedInit)},
           |$sqlBrandesBackCtes,
           |raw AS MATERIALIZED (
           |  SELECT id, list_reduce(list_transform(
           |      list(struct_pack(l := lm, c := delta) ORDER BY lm), e -> e.c),
           |    (a, b) -> a + b) AS sdelta
           |  FROM (
           |$sqlBrandesLevelsUnion)
           |  GROUP BY id)
           |SELECT r.id, (CAST(t.n AS DOUBLE) / $BcSampleSeeds) * r.sdelta AS bc_est
           |FROM raw r, (SELECT count(*) AS n FROM nn) t
           |ORDER BY r.id""".stripMargin
      }
    ),

    // ── closeness + harmonic centrality from landmark seeds ────────────
    // The centrality-sampling shape (Eppstein–Wang): run S seed BFS in
    // ONE multi-source dataflow (frontier keyed (lm, id) — S sources
    // cost one superstep sequence, not S), then per seed: vertices
    // reached, Σ hop-distance, closeness = reached / Σd (one IEEE
    // division), and harmonic centrality Σ 1/d in EXACT fixed point
    // (floor(1e9/d) is integer division — order-free BIGINT sums, no
    // float-fold hazard; harmonic is the variant that stays meaningful
    // on disconnected graphs). At 100 TB the seed set is the sampled
    // landmark set and this is precisely the per-batch job shape.
    Q(
      "graph_closeness_centrality",
      (s, d) => {
        val dist = closenessDist(s, d) // shared with graph_eccentricity
        dist.filter(col("d") > 0)
          .groupBy("lm")
          .agg(count(lit(1)).as("reached"),
            sum(col("d").cast("long")).as("sum_dist"),
            sum(expr("1000000000 DIV d")).as("harmonic_fp"))
          .select(col("lm").as("seed"), col("reached"), col("sum_dist"),
            col("harmonic_fp"),
            (col("reached").cast("double") / col("sum_dist").cast("double"))
              .as("closeness"))
          .orderBy("seed")
      },
      Some(s"""WITH RECURSIVE
              |e AS (SELECT DISTINCT l_suppkey AS src, l_partkey + $PartIdOffset AS dst FROM lineitem),
              |ue AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
              |bfs(lm, id, d) AS (
              |  SELECT * FROM (VALUES ${ClosenessSeeds.map(x => s"($x, $x, 0)").mkString(", ")}) t(lm, id, d)
              |  UNION
              |  SELECT b.lm, ue.dst, b.d + 1 FROM bfs b JOIN ue ON ue.src = b.id
              |  WHERE b.d < $SpMaxDepth),
              |dist AS (SELECT lm, id, min(d) AS d FROM bfs GROUP BY lm, id)
              |SELECT lm AS seed,
              |  CAST(count(*) AS BIGINT) AS reached,
              |  CAST(sum(d) AS BIGINT) AS sum_dist,
              |  CAST(sum(1000000000 // d) AS BIGINT) AS harmonic_fp,
              |  CAST(count(*) AS DOUBLE) / CAST(sum(d) AS DOUBLE) AS closeness
              |FROM dist WHERE d > 0
              |GROUP BY lm ORDER BY seed""".stripMargin)
    ),

    // ── common neighbors: supplier pairs ranked by shared parts ────────
    // The link-prediction/co-occurrence primitive — `MATCH (a)-[:X]->(p)
    // <-[:X]-(b)`: self-join the edge list on the shared endpoint,
    // count per pair, top-k. Pair volume is Σ deg(part)² — bounded by
    // part-degree skew, which is exactly what the salting recipe
    // (rel_skew_salted_agg) handles when a mega-hub part appears; the
    // join itself stays an equi-join on dst at any scale.
    Q(
      "graph_common_neighbors",
      (s, d) => {
        val es = supplierPartGraph(s, d).edges.select(col("src"), col("dst"))
        val a = es.toDF("sa", "dst")
        val b = es.toDF("sb", "dst")
        a.join(b, "dst").filter(col("sa") < col("sb"))
          .groupBy("sa", "sb").agg(count(lit(1)).as("shared_parts"))
          .orderBy(col("shared_parts").desc, col("sa").asc, col("sb").asc)
          .limit(20)
      },
      Some("""WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem)
             |SELECT a.src AS sa, b.src AS sb, count(*) AS shared_parts
             |FROM e a JOIN e b ON a.dst = b.dst
             |WHERE a.src < b.src
             |GROUP BY a.src, b.src
             |ORDER BY shared_parts DESC, sa ASC, sb ASC LIMIT 20""".stripMargin)
    ),

    // ── common neighbors, salted for hub skew ──────────────────────────
    // Same result as graph_common_neighbors (same oracle), computed via
    // the two-stage salted aggregation in [[commonNeighborsSalted]]: the
    // variant a user runs when one mega-hub part makes a single pair's
    // count the straggling reducer. Counts sum losslessly across salts,
    // so the driver gate proves the rewrite exact.
    Q(
      "graph_common_neighbors_salted",
      (s, d) => {
        val es = supplierPartGraph(s, d).edges.select(col("src"), col("dst"))
        commonNeighborsSalted(es)
          .orderBy(col("shared_parts").desc, col("sa").asc, col("sb").asc)
          .limit(20)
      },
      Some("""WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem)
             |SELECT a.src AS sa, b.src AS sb, CAST(count(*) AS BIGINT) AS shared_parts
             |FROM e a JOIN e b ON a.dst = b.dst
             |WHERE a.src < b.src
             |GROUP BY a.src, b.src
             |ORDER BY shared_parts DESC, sa ASC, sb ASC LIMIT 20""".stripMargin)
    ),

    // ── GraphX PageRank over the bipartite graph ───────────────────────
    // Float accumulation order varies across partitions → rows-only
    // check; convergence properties asserted in GraphSpec.
    Q(
      "graph_pagerank_top",
      (s, d) => {
        val g = supplierPartGraph(s, d)
        val pr = g.toGraphX.staticPageRank(10).vertices
        val spark = s
        import spark.implicits._
        pr.toDF("id", "rank")
          .orderBy(col("rank").desc, col("id").asc)
          .limit(20)
      },
      None
    ),

    // ── exact fixed-point PageRank (oracle-checked) ────────────────────
    // The float PageRank above is rows-only because IEEE sums depend on
    // partition order. This variant makes the whole iteration
    // order-independent: ranks are BIGINT fixed-point (scaled 1e9), each
    // edge contribution is integer-truncated `(rank*85) div (deg*100)`
    // (≡ rank*0.85/deg), and integer sums are exact under any shuffle
    // order — so a DuckDB unrolled-CTE power iteration reproduces every
    // bit. Runs over the undirected supplier↔part view so mass flows
    // both ways and the ranks genuinely iterate. Per iteration the plan
    // is one equi-join (ranks are node-sized, edges are the big side)
    // plus one partial-agg shuffle on dst — the same shape per superstep
    // that GraphX/Pregel runs at 100 TB, minus the float nondeterminism.
    Q(
      "graph_pagerank_exact",
      (s, d) => {
        // both loop-invariant sides come from session memos: the
        // degree-annotated adjacency ([[degreeAdjacency]], shared with
        // graph_ppr_seed — at 100 TB this is the persisted adjacency
        // table every Pregel engine keeps) and the hash(id)-partitioned
        // node list ([[nodeIdsPartitioned]]) that makes the per-iteration
        // merge AND the next frontier join exchange-free — each
        // iteration pays only the contrib partial-agg shuffle.
        val nodeIds = nodeIdsPartitioned(s, d)
        val withDeg = degreeAdjacency(s, d)
        var ranks = nodeIds.select(col("id"), lit(Scale).as("rank"))
        for (_ <- 1 to PrIters) {
          val contribs = withDeg
            .join(ranks.withColumnRenamed("id", "src"), "src")
            .select(col("dst"),
              expr("(rank * 85L) div (deg * 100L)").as("contrib"))
            .groupBy("dst").agg(sum("contrib").as("inflow"))
          ranks = nodeIds
            .join(contribs, col("id") === col("dst"), "left")
            .select(col("id"),
              (lit(Reset) + coalesce(col("inflow"), lit(0L))).as("rank"))
        }
        ranks.orderBy(col("rank").desc, col("id").asc).limit(20)
      },
      Some {
        val iters = (1 to PrIters).map { i =>
          s"""c$i AS (
             |  SELECT ue.dst, CAST(sum((r.rank * 85) // (deg.deg * 100)) AS BIGINT) AS inflow
             |  FROM ue JOIN deg USING (src) JOIN r${i - 1} r ON r.id = ue.src
             |  GROUP BY ue.dst),
             |r$i AS (
             |  SELECT n.id, $Reset + coalesce(c$i.inflow, 0) AS rank
             |  FROM n LEFT JOIN c$i ON c$i.dst = n.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH
           |e AS (SELECT DISTINCT l_suppkey AS src, l_partkey + $PartIdOffset AS dst FROM lineitem),
           |ue AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
           |deg AS (SELECT src, count(*) AS deg FROM ue GROUP BY src),
           |n AS (SELECT s_suppkey AS id FROM supplier
           |      UNION ALL SELECT p_partkey + $PartIdOffset FROM part),
           |r0 AS (SELECT id, CAST($Scale AS BIGINT) AS rank FROM n),
           |$iters
           |SELECT id, rank FROM r$PrIters ORDER BY rank DESC, id LIMIT 20""".stripMargin
      }
    ),

    // ── Katz centrality (attenuated path counting) ─────────────────────
    // The remaining classical centrality: x_{i+1}(v) = 1 + α·Σ_{u→v}
    // x_i(u) — every walk into v counts, attenuated α per hop (Katz
    // 1953), unlike PageRank's degree-normalized mass. α = 1/64 as a
    // pure integer shift-division keeps the truncated 5-term series in
    // exact BIGINT fixed point (Scale 1e9): contributions are
    // `x div 64` summed order-free, so the unrolled DuckDB CTE replays
    // every bit. α must sit below 1/λ_max for the infinite series; for
    // the TRUNCATED series it only bounds growth — the loud driver
    // check pins max(x) ≪ BIGINT so Spark can never wrap where the
    // oracle raises. Same per-iteration plan as pagerank_exact (one
    // equi-join against the memoized adjacency + one partial-agg
    // shuffle), same 100 TB shape.
    Q(
      "graph_katz_centrality",
      (s, d) => {
        val nodeIds = nodeIdsPartitioned(s, d)
        val adj = degreeAdjacency(s, d)
        var x = nodeIds.select(col("id"), lit(Scale).as("x"))
        for (_ <- 1 to PrIters) {
          val contribs = adj
            .join(x.withColumnRenamed("id", "src"), "src")
            .select(col("dst"), expr("x div 64").as("contrib"))
            .groupBy("dst").agg(sum("contrib").as("inflow"))
          x = nodeIds
            .join(contribs, col("id") === col("dst"), "left")
            .select(col("id"),
              (lit(Scale) + coalesce(col("inflow"), lit(0L))).as("x"))
        }
        val ranked = x.orderBy(col("x").desc, col("id").asc).limit(20)
          .select(col("id"), col("x").as("katz_fp"))
          .transform(GenSnap.snap) // the margin check + the caller read ONE materialization
        // overflow margin: the oracle's BIGINT sum RAISES where a Scala
        // Long silently wraps — abort loudly while ~256x headroom remains
        val maxX = ranked.agg(max("katz_fp")).head().getLong(0)
        require(maxX < (1L << 55),
          s"max Katz $maxX approaches BIGINT wrap — lower alpha or rescale")
        ranked
      },
      Some {
        val iters = (1 to PrIters).map { i =>
          s"""c$i AS (
             |  SELECT ue.dst, CAST(sum(r.x // 64) AS BIGINT) AS inflow
             |  FROM ue JOIN r${i - 1} r ON r.id = ue.src
             |  GROUP BY ue.dst),
             |r$i AS (
             |  SELECT n.id, $Scale + coalesce(c$i.inflow, 0) AS x
             |  FROM n LEFT JOIN c$i ON c$i.dst = n.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH
           |e AS (SELECT DISTINCT l_suppkey AS src, l_partkey + $PartIdOffset AS dst FROM lineitem),
           |ue AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
           |n AS (SELECT s_suppkey AS id FROM supplier
           |      UNION ALL SELECT p_partkey + $PartIdOffset FROM part),
           |r0 AS (SELECT id, CAST($Scale AS BIGINT) AS x FROM n),
           |$iters
           |SELECT id, x AS katz_fp FROM r$PrIters
           |ORDER BY katz_fp DESC, id LIMIT 20""".stripMargin
      }
    ),

    // ── personalized PageRank (seeded reset — the recommender variant) ─
    // Same BIGINT fixed-point power iteration as graph_pagerank_exact,
    // but the reset mass re-injects at ONE seed vertex instead of
    // uniformly: r_{i+1}(v) = [v = seed]·0.15·S + 0.85·Σ inflow. The
    // result ranks vertices by proximity to the seed — the
    // similar-items/recommendation primitive. Identical per-iteration
    // plan (one equi-join + one integer partial-agg shuffle against the
    // checkpointed adjacency); identical unrolled-CTE oracle shape, so
    // the order-free integer arithmetic stays hash-exact.
    Q(
      "graph_ppr_seed",
      (s, d) => {
        val nodeIds = nodeIdsPartitioned(s, d)
        val withDeg = degreeAdjacency(s, d)
        val seed = SpLandmarks.head
        def resetAt(idCol: Column): Column =
          when(idCol === seed, lit(Reset)).otherwise(lit(0L))
        var ranks = nodeIds.select(col("id"),
          when(col("id") === seed, lit(Scale)).otherwise(lit(0L)).as("rank"))
        for (_ <- 1 to PrIters) {
          val contribs = withDeg
            .join(ranks.withColumnRenamed("id", "src"), "src")
            .select(col("dst"),
              expr("(rank * 85L) div (deg * 100L)").as("contrib"))
            .groupBy("dst").agg(sum("contrib").as("inflow"))
          ranks = nodeIds
            .join(contribs, col("id") === col("dst"), "left")
            .select(col("id"),
              (resetAt(col("id")) + coalesce(col("inflow"), lit(0L))).as("rank"))
        }
        ranks.orderBy(col("rank").desc, col("id").asc).limit(20)
      },
      Some {
        val seed = SpLandmarks.head
        val iters = (1 to PrIters).map { i =>
          s"""c$i AS (
             |  SELECT ue.dst, CAST(sum((r.rank * 85) // (deg.deg * 100)) AS BIGINT) AS inflow
             |  FROM ue JOIN deg USING (src) JOIN r${i - 1} r ON r.id = ue.src
             |  GROUP BY ue.dst),
             |r$i AS (
             |  SELECT n.id,
             |         CASE WHEN n.id = $seed THEN $Reset ELSE 0 END
             |           + coalesce(c$i.inflow, 0) AS rank
             |  FROM n LEFT JOIN c$i ON c$i.dst = n.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH
           |e AS (SELECT DISTINCT l_suppkey AS src, l_partkey + $PartIdOffset AS dst FROM lineitem),
           |ue AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
           |deg AS (SELECT src, count(*) AS deg FROM ue GROUP BY src),
           |n AS (SELECT s_suppkey AS id FROM supplier
           |      UNION ALL SELECT p_partkey + $PartIdOffset FROM part),
           |r0 AS (SELECT id, CAST(CASE WHEN id = $seed THEN $Scale ELSE 0 END AS BIGINT) AS rank FROM n),
           |$iters
           |SELECT id, rank FROM r$PrIters ORDER BY rank DESC, id LIMIT 20""".stripMargin
      }
    ),

    // ── weighted single-source shortest paths (min-plus relaxation) ────
    // The weighted generalization of graph_shortest_paths — GraphX's
    // ShortestPaths is hop-count only, so this runs the shared
    // Components.minDist kernel: Bellman-Ford frontier rounds over
    // edges weighted by min l_quantity (exact integers 1..50), one
    // equi-join + one partial min-agg per round, lazily checkpointed.
    // CONVERGENCE is what the Spark side proves (the loop runs until no
    // distance improves); the oracle is the pagerank-style UNROLLED CTE
    // — $WSsspUnroll relaxation layers — and a loud `require` pins
    // rounds ≤ the unroll depth, so the oracle can never silently
    // under-relax. A weighted-optimal path may use MORE hops than the
    // unweighted diameter (a cheap long detour beats an expensive short
    // edge), hence the generous margin over BFS's observed ~12.
    Q(
      "graph_weighted_sssp",
      (s, d) => {
        val ue = weightedUndirectedEdges(s, d)
        val dist = Components.minDist(ue, SpLandmarks.head, WSsspUnroll)
        supplierPartGraph(s, d).nodes.select(col("id"))
          .join(dist, Seq("id"), "left")
          .select(col("id"), coalesce(col("d"), lit(-1L)).as("dist_w"))
          .orderBy("id")
      },
      Some {
        // AS MATERIALIZED on every layer: each references its
        // predecessor TWICE (carry ∪ relax), and DuckDB inlines plain
        // CTEs — 2^20 plan copies (and a fd explosion on the parquet
        // scan) without it.
        val layers = (1 to WSsspUnroll).map { k =>
          s"""d$k AS MATERIALIZED (SELECT id, min(d) AS d FROM (
             |  SELECT id, d FROM d${k - 1}
             |  UNION ALL
             |  SELECT ue.dst AS id, p.d + ue.w AS d
             |  FROM d${k - 1} p JOIN ue ON ue.src = p.id) GROUP BY id)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS MATERIALIZED (
           |  SELECT l_suppkey AS a, l_partkey + $PartIdOffset AS b,
           |         CAST(min(l_quantity) AS BIGINT) AS w
           |  FROM lineitem GROUP BY 1, 2),
           |ue AS MATERIALIZED (
           |  SELECT a AS src, b AS dst, w FROM e0
           |  UNION ALL SELECT b, a, w FROM e0),
           |n AS (SELECT s_suppkey AS id FROM supplier
           |      UNION ALL SELECT p_partkey + $PartIdOffset FROM part),
           |d0 AS (SELECT CAST(${SpLandmarks.head} AS BIGINT) AS id, CAST(0 AS BIGINT) AS d),
           |$layers
           |SELECT n.id, coalesce(dd.d, -1) AS dist_w
           |FROM n LEFT JOIN d$WSsspUnroll dd ON dd.id = n.id
           |ORDER BY n.id""".stripMargin
      }
    ),

    // ── label-propagation community detection (synchronous, 4 rounds) ──
    // Classic LPA (Raghavan et al. 2007) made fully deterministic so the
    // oracle can check it: every vertex starts as its own community and
    // each round adopts the most frequent label among its neighbors,
    // ties broken toward the SMALLEST label (max of a (cnt, -label)
    // struct — lexicographic, exactly row_number ORDER BY cnt DESC,
    // label ASC). A FIXED 4 supersteps (not convergence-tested) keeps
    // the oracle an exact 4-layer unroll; synchronous LPA on a bipartite
    // graph can oscillate, which a fixed depth also sidesteps. Per
    // superstep: one equi-join (edges × labels) + two hash aggregations,
    // all partial-agg'd map-side; the label frontier is lazily
    // localCheckpoint'd per layer so plan depth stays O(1). At 100 TB
    // this is the same superstep shape as PageRank-exact: shuffle on
    // vertex id, nothing driver-side.
    Q(
      "graph_label_propagation",
      (s, d) => lpaLabels(s, d).orderBy("id"),
      Some(sqlLpaOracle)
    ),

    // ── Louvain level-1 (synchronous modularity-ascent sweeps) ─────────
    // The community-detection workhorse (Blondel et al. 2008), in its
    // deterministic SEMI-SYNCHRONOUS form: per half-step every node of
    // ONE bipartite side simultaneously evaluates moving to each
    // NEIGHBORING community and takes the move with the largest
    // modularity gain, strictly positive over staying; sides alternate
    // (part half-step, then supplier half-step, twice). Classic Louvain
    // sweeps nodes sequentially — inherently serial; the FULLY
    // synchronous variant measurably DEGRADES modularity here (both
    // sides chase each other and the partition fragments — the same
    // bipartite oscillation graph_lpa_converged half-steps around,
    // verified by the Round14Spec ascent pin failing on it), while
    // same-side movers share no edges, so their simultaneous moves are
    // independent given the fixed other side — the distributed-Louvain
    // coloring trick with the bipartition as the free 2-coloring.
    // All gain comparisons are EXACT BIGINTs: the float gain
    // w_vc/m − k_v·Σtot_c/(2m²) is scaled by 2m² into
    // gain_fp = 2m·w_vc − k_v·Σtot'_c (Σtot' with v removed from its
    // own community), so the argmax and the move test carry no float
    // anywhere; ties break toward the smaller community id, equality
    // stays. SCALE: per sweep one (edges ⋈ communities) equi-join +
    // three hash aggregations — node/community-sized state, the same
    // superstep budget as LPA/PageRank; the 1-row 2m aggregate
    // broadcasts. Scope: nodes with ≥1 edge (isolated nodes are their
    // own community trivially).
    Q(
      "graph_louvain_one_level",
      (s, d) => louvainLevel1(s, d)._2
        .select(col("id"), col("c").as("community")).orderBy("id"),
      Some(s"""WITH ${sqlLouvainL1Ctes}
              |SELECT id, c AS community FROM c4 ORDER BY id""".stripMargin)
    ),

    // ── Louvain level-2 (contract and sweep again) ─────────────────────
    // VERDICT-r14 task 2 — the step that makes Louvain HIERARCHICAL
    // (Blondel et al. 2008 §2): aggregate the level-1 communities into a
    // weighted quotient graph — community nodes, summed edge weights,
    // self-loops carrying the intra-community mass (each undirected
    // intra edge contributes both directions, so the self-loop weight is
    // 2·w_in and quotient degrees/2m are EXACTLY preserved) — then run
    // the same exact-BIGINT half-step machinery one level up. The
    // bipartition is gone after contraction, so the conflict-free mover
    // class becomes community-id PARITY (sweeps alternate odd/even ids,
    // two opportunities per side — the general distributed-Louvain
    // coloring heuristic; Round15Spec pins the resulting modularity
    // strictly above level-1's, the ascent-pin convention). Self-loops
    // are excluded from w_vc inside the sweep (a community's internal
    // mass moves WITH it); the overflow guard re-checks at quotient
    // degrees, which are strictly larger. Output maps every ORIGINAL
    // node through both levels. SCALE: the quotient graph is
    // community-sized — strictly smaller than level 1's input — and the
    // contraction itself is one (edges ⋈ labels ⋈ labels) equi-join +
    // one hash aggregation, the graph_scc_condensation shape.
    Q(
      "graph_louvain_two_level",
      (s, d) => {
        val (_, c1) = louvainLevel1(s, d)
        val (_, comm) = louvainLevel2(s, d)
        c1.join(comm.select(col("id").as("c"), col("c").as("community")), "c")
          .select(col("id"), col("community")).orderBy("id")
      },
      Some {
        val sweeps = (1 to 4).map { k =>
          val parity = k % 2
          sqlLouvainSweep(s"d${k - 1}", s"d$k",
            id => s"$id % 2 = $parity", "qe", "qdeg")
        }.mkString(",\n")
        s"""WITH ${sqlLouvainL1Ctes},
           |qe AS MATERIALIZED (
           |  SELECT cs.c AS src, cd.c AS dst, CAST(sum(ue.w) AS BIGINT) AS w
           |  FROM ue JOIN c4 cs ON cs.id = ue.src JOIN c4 cd ON cd.id = ue.dst
           |  GROUP BY 1, 2),
           |qdeg AS (SELECT src AS id, CAST(sum(w) AS BIGINT) AS k FROM qe GROUP BY src),
           |d0 AS (SELECT id, id AS c FROM qdeg),
           |$sweeps
           |SELECT c4.id, d4.c AS community FROM c4 JOIN d4 ON d4.id = c4.c
           |ORDER BY c4.id""".stripMargin
      }
    ),

    // ── Louvain full hierarchy (contract until no ascent) ──────────────
    // VERDICT-r15 task 5 — real Louvain (Blondel et al. 2008 §2)
    // iterates contraction until a level's sweeps move NOTHING. Levels
    // 2..LouvainMaxLevels re-run the shared quotient machinery, each
    // level contracting the PREVIOUS quotient (community-sized work —
    // never re-touching |E| after level 2); the driver counts movers
    // per level (1-row boundary, ≤ LouvainMaxLevels of them, the
    // kmeans-loop convention), stops at the first no-move level, probes
    // the level count (BoundProbe + require — the temporal-reach
    // exact-unroll convention), and emits every ORIGINAL node's final
    // community plus levels_used. The ORACLE replays ALL
    // LouvainMaxLevels levels: a converged level contracts to the
    // IDENTICAL quotient, whose deterministic sweeps move nothing
    // again, so trailing levels are no-ops and the fixed unroll matches
    // the early-stopping driver bit-for-bit; its levels_used is the
    // same count computed in SQL (1 + levels with any mover). SCALE:
    // level ℓ's state is community-sized and shrinks monotonically; the
    // one |E|-sized join is the level-2 contraction, shared with
    // graph_louvain_two_level's plan shape.
    Q(
      "graph_louvain_hierarchy",
      (s, d) => {
        val (labels, levels) = louvainHierarchyFinal(s, d)
        // re-record on every call (not only inside the memoized build),
        // so Sf01BoundsSpec's clear-then-probe sweep sees the usage even
        // when another suite already built the labels for this session
        graft.tools.BoundProbe.record("louvain_levels", levels, LouvainMaxLevels)
        labels.select(col("id"), col("c").as("community"),
          lit(levels).as("levels_used")).orderBy("id")
      },
      Some {
        val levels = (2 to LouvainMaxLevels).map { l =>
          val prevQe = if (l == 2) "ue" else s"qe${l - 1}"
          // the contraction labels live on the PREVIOUS QUOTIENT's nodes
          // (h{l-1}_4: level-(l-2) community → level-(l-1) community);
          // lab{l-1} maps ORIGINAL nodes and only composes the output
          val prevLab = if (l == 2) "c4" else s"h${l - 1}_4"
          val sweeps = (1 to 4).map { k =>
            val parity = k % 2
            sqlLouvainSweep(s"h${l}_${k - 1}", s"h${l}_$k",
              id => s"$id % 2 = $parity", s"qe$l", s"qdeg$l")
          }.mkString(",\n")
          s"""qe$l AS MATERIALIZED (
             |  SELECT ls.c AS src, ld.c AS dst, CAST(sum(p.w) AS BIGINT) AS w
             |  FROM $prevQe p JOIN $prevLab ls ON ls.id = p.src
             |  JOIN $prevLab ld ON ld.id = p.dst
             |  GROUP BY 1, 2),
             |qdeg$l AS (SELECT src AS id, CAST(sum(w) AS BIGINT) AS k
             |           FROM qe$l GROUP BY src),
             |h${l}_0 AS (SELECT id, id AS c FROM qdeg$l),
             |$sweeps,
             |lab$l AS MATERIALIZED (
             |  SELECT l.id, s.c FROM ${if (l == 2) "c4" else s"lab${l - 1}"} l
             |  JOIN h${l}_4 s ON s.id = l.c)""".stripMargin
        }.mkString(",\n")
        val changed = (2 to LouvainMaxLevels).map(l =>
          s"CASE WHEN (SELECT count(*) FROM h${l}_4 WHERE id <> c) > 0 " +
            "THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH ${sqlLouvainL1Ctes},
           |$levels,
           |lvl AS (SELECT CAST(1 + $changed AS INT) AS levels_used)
           |SELECT lab$LouvainMaxLevels.id, lab$LouvainMaxLevels.c AS community,
           |  lvl.levels_used
           |FROM lab$LouvainMaxLevels CROSS JOIN lvl
           |ORDER BY id""".stripMargin
      }
    ),

    // ── modularity of the LPA communities (exact fixed point) ──────────
    // Newman's Q = Σ_c [in_c/(2m) − (tot_c/(2m))²], the standard quality
    // score for a community assignment — scored here for the driver-
    // proven 4-step LPA labels. Everything is scaled by (2m)²:
    // contrib_fp = in_c·2m − tot_c² is an exact BIGINT per community
    // (no float until a consumer divides once by (2m)²), so the oracle
    // — which EMBEDS the LPA unroll as a derived table and recomputes
    // the score from scratch — hash-matches bit-for-bit. Shape: the
    // label frame joins the staged adjacency twice (one shuffle each),
    // two partial-agg'd groupBys; the 1-row 2m aggregate broadcasts.
    Q(
      "graph_modularity",
      (s, d) => {
        val ue = undirectedEdges(s, d)
        val lbl = lpaLabels(s, d) // memoized + cached; read three times below
        val m2 = ue.agg(count(lit(1)).as("m2"))
        val deg = ue.groupBy("src").agg(count(lit(1)).as("deg"))
          .select(col("src").as("id"), col("deg"))
        val led = ue
          .join(lbl.select(col("id").as("src"), col("community").as("lc")), "src")
          .join(lbl.select(col("id").as("dst"), col("community").as("dc")), "dst")
        val inc = led.filter(col("lc") === col("dc"))
          .groupBy("lc").agg(count(lit(1)).as("in2"))
          .select(col("lc").as("community"), col("in2"))
        val tot = lbl.join(deg, "id")
          .groupBy("community").agg(sum("deg").as("tot"))
        tot.join(inc, Seq("community"), "left")
          .crossJoin(broadcast(m2))
          .select(col("community"),
            coalesce(col("in2"), lit(0L)).as("in2"), col("tot"),
            (coalesce(col("in2"), lit(0L)) * col("m2") - col("tot") * col("tot"))
              .as("contrib_fp"))
          .orderBy("community")
      },
      Some(s"""WITH lbl AS MATERIALIZED (SELECT id, community FROM (
              |$sqlLpaOracle
              |)),
              |e2 AS MATERIALIZED (SELECT DISTINCT l_suppkey AS src,
              |  l_partkey + $PartIdOffset AS dst FROM lineitem),
              |ue2 AS MATERIALIZED (SELECT src, dst FROM e2
              |  UNION ALL SELECT dst, src FROM e2),
              |m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM ue2),
              |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
              |        FROM ue2 GROUP BY src),
              |led AS (SELECT ls.community AS lc, ld.community AS dc
              |        FROM ue2 JOIN lbl ls ON ls.id = ue2.src
              |        JOIN lbl ld ON ld.id = ue2.dst),
              |inc AS (SELECT lc AS community, CAST(count(*) AS BIGINT) AS in2
              |        FROM led WHERE lc = dc GROUP BY lc),
              |tot AS (SELECT l.community, CAST(sum(d.deg) AS BIGINT) AS tot
              |        FROM lbl l JOIN deg d ON d.id = l.id GROUP BY l.community)
              |SELECT t.community, coalesce(i.in2, 0) AS in2, t.tot,
              |  CAST(coalesce(i.in2, 0) * m2.m2 - t.tot * t.tot AS BIGINT) AS contrib_fp
              |FROM tot t LEFT JOIN inc i USING (community), m2
              |ORDER BY t.community""".stripMargin)
    ),

    // ── temporal reachability (time-respecting earliest arrival) ───────
    // Edges carry timestamps (first shipment day per supplier-part
    // link); a path is valid only if edge times are non-decreasing —
    // the temporal-graph semantics behind "when could influence /
    // goods / information actually have flowed", which plain BFS
    // over-approximates. Earliest-arrival fixpoint: arr(w) = min over
    // edges (v,w,t) with t ≥ arr(v); same frontier-relaxation shape as
    // weighted SSSP in the (min, time-filter) semiring — one equi-join
    // + one partial min-agg per round, driver-counted, rounds
    // require'd ≤ the oracle's per-level unroll. Arrival days are
    // exact BIGINTs.
    Q(
      "graph_temporal_reach",
      (s, d) => temporalReach(s, temporalEdges(s, d)).orderBy("id"),
      Some {
        val levels = (1 to TemporalUnroll).map { k =>
          s"""a$k AS MATERIALIZED (
             |  SELECT id, min(arr) AS arr FROM (
             |    SELECT a.id, a.arr FROM a${k - 1} a
             |    UNION ALL
             |    SELECT et.dst AS id, min(et.t) AS arr
             |    FROM et JOIN a${k - 1} p ON et.src = p.id AND et.t >= p.arr
             |    GROUP BY et.dst)
             |  GROUP BY id)""".stripMargin
        }.mkString(",\n")
        s"""WITH et AS MATERIALIZED (
           |  SELECT src, dst, t FROM (
           |    SELECT l_suppkey AS src, l_partkey + $PartIdOffset AS dst,
           |      CAST(min(epoch(l_shipdate) // 86400) AS BIGINT) AS t
           |    FROM lineitem GROUP BY l_suppkey, l_partkey)
           |  UNION ALL
           |  SELECT dst, src, t FROM (
           |    SELECT l_suppkey AS src, l_partkey + $PartIdOffset AS dst,
           |      CAST(min(epoch(l_shipdate) // 86400) AS BIGINT) AS t
           |    FROM lineitem GROUP BY l_suppkey, l_partkey)),
           |a0 AS (SELECT CAST($TemporalSeed AS BIGINT) AS id, CAST(0 AS BIGINT) AS arr),
           |$levels
           |SELECT id, arr FROM a$TemporalUnroll
           |ORDER BY id""".stripMargin
      }
    ),

    // ── skip-gram pairs from the walk corpus ───────────────────────────
    // The actual TRAINING DATA DeepWalk feeds word2vec: (center,
    // context) pairs within a ±2 window along each walk. One self-join
    // of the walk table on (walker, |Δstep| ≤ 2) — walks are 9 rows
    // each, so the join is per-walker-bounded at any graph size —
    // aggregated to pair counts. Composes the memoized walk corpus; at
    // 100 TB this is the map from a materialized walk table to the
    // embedding trainer's input.
    Q(
      "graph_walk_skipgrams",
      (s, d) => {
        val w = walkCorpus(s, d)
        val a = w.toDF("walker", "center", "sa")
        val b = w.toDF("walker", "context", "sb")
        // broadcast the context side: the walk corpus is |suppliers|·(L+1)
        // rows (bounded by design — walks are the SAMPLE, not the graph),
        // and without the hint the checkpoint-RDD union carries no stats,
        // so the planner fell back to a SortMergeJoin with two exchanges
        // (the r10 bench regression: 0.91 → 1.18 s of pure shuffle
        // latency on a 9k-row join). At a scale where the walk table
        // outgrows broadcast, drop the hint and the SMJ shape is correct.
        a.join(broadcast(b), "walker")
          .filter(col("sa") =!= col("sb") &&
            abs(col("sa") - col("sb")) <= 2)
          .groupBy(col("center"), col("context"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy("center", "context")
      },
      Some(s"""WITH wk AS MATERIALIZED (SELECT walker, node, step FROM (
              |$sqlWalkOracle
              |))
              |SELECT a.node AS center, b.node AS context,
              |  CAST(count(*) AS BIGINT) AS cnt
              |FROM wk a JOIN wk b
              |  ON a.walker = b.walker AND a.step <> b.step
              |  AND abs(a.step - b.step) <= 2
              |GROUP BY a.node, b.node
              |ORDER BY center, context""".stripMargin)
    ),

    // ── node2vec biased walks (second-order, deterministic) ────────────
    // The p/q-biased walk (Grover & Leskovec): from (prev → cur), a
    // neighbor x is weighted 1/p if x = prev (return), 1 if x is also
    // adjacent to prev (BFS-ish), 1/q otherwise (DFS-ish). p = ½, q = 2
    // gives INTEGER weights 4/2/1, so the cumulative-weight intervals
    // are exact BIGINTs and the pick — r = hash(cur, prev, t) mod
    // total landing in x's interval — is reproducible and
    // oracle-replayable, like graph_random_walks but second-order. The
    // prev-adjacency test is one (prev, x) equi-join against the staged
    // edge set; the interval scan is a per-(walker, step) window over
    // each node's neighbor list. 6 steps from every supplier.
    Q(
      "graph_node2vec_walks",
      (s, d) => {
        val ranked = rankedNeighbors(s, d)
        val nbr = ranked.select("src", "dst")
        val adj = ranked.select(col("src").as("pa"), col("dst").as("xa"))
        var cur = supplier(s, d)
          .select(col("s_suppkey").as("walker"), col("s_suppkey").as("node"))
        var walk = List(cur.withColumn("step", lit(0)))
        cur = cur.select(col("walker"), col("node").as("src"))
          .join(ranked, "src")
          .filter(col("rn") ===
            (expr(s"((src * 2654435761) + 1000003) % 4294967296") % col("deg")) + 1)
          .select(col("walker"), col("src").as("prev"), col("dst").as("node"))
          .transform(GenSnap.snap)
        walk ::= cur.select(col("walker"), col("node"), lit(1).as("step"))
        for (t <- 2 to N2vLen) {
          val w = Window.partitionBy("walker").orderBy("x")
          val stepped = cur.select(col("walker"), col("prev"), col("node").as("src"))
            .join(nbr, "src")
            .select(col("walker"), col("prev"), col("src"), col("dst").as("x"))
            .join(adj, col("pa") === col("prev") && col("xa") === col("x"), "left")
            .select(col("walker"), col("prev"), col("src"), col("x"),
              when(col("x") === col("prev"), lit(4L))
                .when(col("xa").isNotNull, lit(2L))
                .otherwise(lit(1L)).as("wt"))
            .withColumn("cum", sum("wt").over(w))
            .withColumn("tot", sum("wt").over(Window.partitionBy("walker")))
            .withColumn("r",
              expr(s"((src * 2654435761) + prev * 40503 + $t * 1000003) % 4294967296")
                % col("tot"))
          cur = stepped
            .filter(col("cum") - col("wt") <= col("r") && col("r") < col("cum"))
            .select(col("walker"), col("src").as("prev"), col("x").as("node"))
            .transform(GenSnap.snap)
          walk ::= cur.select(col("walker"), col("node"), lit(t).as("step"))
        }
        walk.reduce(_ unionByName _).orderBy("walker", "step")
      },
      Some {
        val steps = (2 to N2vLen).map { t =>
          s"""st$t AS MATERIALIZED (
             |  SELECT c.walker, c.node AS src, u.dst AS x,
             |    CASE WHEN u.dst = c.prev THEN 4
             |         WHEN ad.xa IS NOT NULL THEN 2 ELSE 1 END AS wt,
             |    c.prev
             |  FROM w${t - 1} c
             |  JOIN ue u ON u.src = c.node
             |  LEFT JOIN adj ad ON ad.pa = c.prev AND ad.xa = u.dst),
             |cw$t AS MATERIALIZED (
             |  SELECT walker, src, x, wt, prev,
             |    CAST(sum(wt) OVER (PARTITION BY walker ORDER BY x) AS BIGINT) AS cum,
             |    CAST(sum(wt) OVER (PARTITION BY walker) AS BIGINT) AS tot
             |  FROM st$t),
             |w$t AS MATERIALIZED (
             |  SELECT walker, src AS prev, x AS node, $t AS step
             |  FROM cw$t
             |  WHERE cum - wt <= ((src * 2654435761) + prev * 40503 + $t * 1000003) % 4294967296 % tot
             |    AND ((src * 2654435761) + prev * 40503 + $t * 1000003) % 4294967296 % tot < cum)"""
            .stripMargin
        }.mkString(",\n")
        val unionAll = (s"SELECT walker, node, 0 AS step FROM w0" +:
          (1 to N2vLen).map(t => s"SELECT walker, node, step FROM w$t"))
          .mkString("\nUNION ALL\n")
        s"""WITH e AS MATERIALIZED (
           |  SELECT DISTINCT l_suppkey AS src, l_partkey + $PartIdOffset AS dst
           |  FROM lineitem),
           |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
           |adj AS MATERIALIZED (SELECT src AS pa, dst AS xa FROM ue),
           |nbr AS MATERIALIZED (
           |  SELECT src, dst,
           |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rn,
           |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
           |  FROM ue),
           |w0 AS (SELECT s_suppkey AS walker, s_suppkey AS node FROM supplier),
           |w1 AS MATERIALIZED (
           |  SELECT w.walker, n.src AS prev, n.dst AS node, 1 AS step
           |  FROM w0 w JOIN nbr n ON n.src = w.node
           |   AND n.rn = (((w.node * 2654435761) + 1000003) % 4294967296) % n.deg + 1),
           |$steps
           |SELECT walker, node, step FROM (
           |$unionAll)
           |ORDER BY walker, step""".stripMargin
      }
    ),

    // ── maximal independent set (derandomized Luby) ────────────────────
    // The classic O(log n)-round distributed MIS: each round a vertex
    // joins iff its priority beats every remaining neighbor's, then MIS
    // + neighborhoods leave the graph. Luby's coin flips are replaced
    // by a deterministic unique hash priority (see Components.misLuby),
    // so the per-round MATERIALIZED unroll in DuckDB replays the exact
    // round-by-round selection. MIS is the scheduling/locking primitive
    // (conflict-free update sets over a conflict graph); GraphSpec
    // asserts independence AND maximality on the live graph.
    Q(
      "graph_mis_luby",
      (s, d) => {
        val g = supplierPartGraph(s, d)
        val (mis, _) = Components.misLuby(g.nodes.select(col("id")),
          undirectedEdges(s, d), MisUnroll)
        mis.orderBy("id")
      },
      Some {
        val rounds = (1 to MisUnroll).map { r =>
          s"""p$r AS MATERIALIZED (
             |  SELECT id, ((id * 2654435761 + ${r.toLong * 40503L}) % 4294967296) * 2097152 + id AS p
             |  FROM n${r - 1}),
             |nm$r AS MATERIALIZED (
             |  SELECT u.dst AS id, min(ps.p) AS np
             |  FROM u${r - 1} u JOIN p$r ps ON ps.id = u.src GROUP BY u.dst),
             |m$r AS MATERIALIZED (
             |  SELECT p.id FROM p$r p LEFT JOIN nm$r nm ON nm.id = p.id
             |  WHERE nm.np IS NULL OR p.p < nm.np),
             |rm$r AS MATERIALIZED (
             |  SELECT id FROM m$r
             |  UNION SELECT u.dst FROM u${r - 1} u JOIN m$r m ON m.id = u.src),
             |n$r AS MATERIALIZED (
             |  SELECT n.id FROM n${r - 1} n LEFT JOIN rm$r r ON r.id = n.id
             |  WHERE r.id IS NULL),
             |u$r AS MATERIALIZED (
             |  SELECT u.src, u.dst FROM u${r - 1} u
             |  LEFT JOIN rm$r a ON a.id = u.src
             |  LEFT JOIN rm$r b ON b.id = u.dst
             |  WHERE a.id IS NULL AND b.id IS NULL)""".stripMargin
        }.mkString(",\n")
        val unionAll = (1 to MisUnroll).map(r => s"SELECT id FROM m$r")
          .mkString("\nUNION ALL\n")
        s"""WITH e AS MATERIALIZED (
           |  SELECT DISTINCT l_suppkey AS src, l_partkey + $PartIdOffset AS dst
           |  FROM lineitem),
           |u0 AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
           |n0 AS MATERIALIZED (SELECT s_suppkey AS id FROM supplier
           |       UNION ALL SELECT p_partkey + $PartIdOffset FROM part),
           |$rounds
           |SELECT id FROM (
           |$unionAll)
           |ORDER BY id""".stripMargin
      }
    ),

    // ── deterministic random walks (DeepWalk corpus generation) ────────
    // The walk-corpus generator graph-embedding training runs at scale
    // (DeepWalk/node2vec p=q=1): an 8-step walk from every supplier,
    // where step t from node v moves to the (hash(v,t) mod deg(v))-th
    // neighbor in sorted-dst order — a DETERMINISTIC hash in place of a
    // PRNG, so the corpus is reproducible under retries/stragglers (the
    // rel_sample_hash principle applied to walks) and the oracle replays
    // every step exactly. Per step: one equi-join of the (tiny) walker
    // frontier against the rank-annotated adjacency; walkers at
    // isolated nodes drop out via inner-join semantics on both engines.
    Q(
      "graph_random_walks",
      (s, d) => walkCorpus(s, d).orderBy("walker", "step"),
      Some(sqlWalkOracle)
    ),

    // ── HITS hubs & authorities (exact fixed point) ────────────────────
    // Kleinberg's HITS is the natural centrality for this BIPARTITE
    // graph: suppliers are pure hubs, parts pure authorities —
    // a(p) = Σ h(s) over s→p, h(s) = Σ a(p), each half-step sum-
    // normalized. All integer: scores live in [0, 1e6] fixed point,
    // the normalization floor(raw·1e6/total) is one exact BIGINT floor
    // division (raw ≤ total ≤ ~2e9 keeps raw·1e6 < 2^63 — the reason
    // Scale is 1e6, not PageRank's 1e9), sums are order-free — so the
    // 5-iteration unroll oracle reproduces every score bit-for-bit.
    // Per half-step: one equi-join + one partial agg + a 1-row total
    // broadcast. Suppliers with no edges drop out after the first
    // iteration on both engines (inner-join semantics).
    Q(
      "graph_hits",
      (s, d) => {
        // r18: the per-invocation snap dropped — the edge view is now a
        // projection of the HOT master leaf (columnar-cached), so the 10
        // half-step joins already read a materialization; the snap only
        // added a 1.3 M-row checkpoint write per invocation
        val es = supplierPartGraph(s, d).edges.select(col("src"), col("dst"))
        def normalized(raw: DataFrame): DataFrame = {
          val tot = raw.agg(sum("raw").as("tot"))
          raw.crossJoin(broadcast(tot))
            .select(col("id"), expr(s"(raw * $HitsScale) DIV tot").as("x"))
        }
        var h = supplier(s, d)
          .select(col("s_suppkey").as("id"), lit(HitsScale).as("x"))
          .transform(GenSnap.snap)
        var a = h // replaced in the first half-step
        for (_ <- 1 to HitsIters) {
          a = normalized(
            es.join(h.select(col("id").as("src"), col("x")), "src")
              .groupBy(col("dst").as("id")).agg(sum("x").as("raw")))
            .transform(GenSnap.snap)
          h = normalized(
            es.join(a.select(col("id").as("dst"), col("x")), "dst")
              .groupBy(col("src").as("id")).agg(sum("x").as("raw")))
            .transform(GenSnap.snap)
        }
        h.select(col("id"), lit("hub").as("kind"), col("x").as("score"))
          .unionByName(a.select(col("id"), lit("authority").as("kind"),
            col("x").as("score")))
          .orderBy("kind", "id")
      },
      Some {
        val iters = (1 to HitsIters).map { k =>
          s"""ar$k AS MATERIALIZED (
             |  SELECT e.dst AS id, CAST(sum(h.x) AS BIGINT) AS raw
             |  FROM e JOIN hn${k - 1} h ON h.id = e.src GROUP BY e.dst),
             |at$k AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM ar$k),
             |an$k AS MATERIALIZED (
             |  SELECT id, (raw * $HitsScale) // tot AS x FROM ar$k, at$k),
             |hr$k AS MATERIALIZED (
             |  SELECT e.src AS id, CAST(sum(a.x) AS BIGINT) AS raw
             |  FROM e JOIN an$k a ON a.id = e.dst GROUP BY e.src),
             |ht$k AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM hr$k),
             |hn$k AS MATERIALIZED (
             |  SELECT id, (raw * $HitsScale) // tot AS x FROM hr$k, ht$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS MATERIALIZED (
           |  SELECT DISTINCT l_suppkey AS src, l_partkey + $PartIdOffset AS dst
           |  FROM lineitem),
           |hn0 AS (SELECT s_suppkey AS id, CAST($HitsScale AS BIGINT) AS x FROM supplier),
           |$iters
           |SELECT id, kind, score FROM (
           |  SELECT id, 'hub' AS kind, x AS score FROM hn$HitsIters
           |  UNION ALL
           |  SELECT id, 'authority' AS kind, x AS score FROM an$HitsIters)
           |ORDER BY kind, id""".stripMargin
      }
    ),

    // ── degree assortativity (Newman's r over the edge list) ───────────
    // Pearson correlation of (deg(src), deg(dst)) over every directed
    // edge row — do hubs link hubs? All six sufficient statistics are
    // exact BIGINT sums (one partial-agg'd pass over the
    // degree-annotated edges); the big cross terms n·Σxx go through
    // DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — both exact, both cast
    // to double with the same correct rounding — so r's two sqrts and
    // one division see identical operands. At a 100 TB edge list the
    // sums themselves would also ride decimals; the shape (annotate,
    // one aggregation, scalar math) is unchanged.
    Q(
      "graph_degree_assortativity",
      (s, d) => {
        val ue = undirectedEdges(s, d)
        val deg = ue.groupBy("src").agg(count(lit(1)).as("deg"))
          .select(col("src").as("v"), col("deg"))
        val pairs = ue
          .join(deg.select(col("v").as("src"), col("deg").as("dx")), "src")
          .join(deg.select(col("v").as("dst"), col("deg").as("dy")), "dst")
        val sums = pairs.agg(
          count(lit(1)).as("n"),
          sum("dx").as("sx"), sum("dy").as("sy"),
          sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"))
        def dec38(c: org.apache.spark.sql.Column) =
          c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
        sums.select(col("n"), col("sx"), col("sxy"), col("sxx"),
          ((dec38(col("n")) * dec38(col("sxy")) - dec38(col("sx")) * dec38(col("sy")))
            .cast("double") /
            (sqrt((dec38(col("n")) * dec38(col("sxx")) - dec38(col("sx")) * dec38(col("sx")))
              .cast("double")) *
             sqrt((dec38(col("n")) * dec38(col("syy")) - dec38(col("sy")) * dec38(col("sy")))
              .cast("double")))).as("r"))
      },
      Some(s"""WITH e AS MATERIALIZED (SELECT DISTINCT l_suppkey AS src,
              |  l_partkey + $PartIdOffset AS dst FROM lineitem),
              |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
              |deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg FROM ue GROUP BY src),
              |pairs AS (SELECT dx.deg AS dx, dy.deg AS dy
              |          FROM ue JOIN deg dx ON dx.v = ue.src
              |          JOIN deg dy ON dy.v = ue.dst),
              |sums AS (SELECT CAST(count(*) AS BIGINT) AS n,
              |  CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
              |  CAST(sum(dx * dy) AS BIGINT) AS sxy,
              |  CAST(sum(dx * dx) AS BIGINT) AS sxx,
              |  CAST(sum(dy * dy) AS BIGINT) AS syy FROM pairs)
              |SELECT n, sx, sxy, sxx,
              |  CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
              |  (sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
              |   sqrt(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))) AS r
              |FROM sums""".stripMargin)
    ),

    // ── rich-club coefficient φ(k) (Zhou & Mondragón 2004) ─────────────
    // Do high-degree nodes preferentially link each other? For each
    // degree threshold k: N_k = nodes with deg > k, φ(k) = fraction of
    // the N_k(N_k−1) possible ordered pairs that are edges. The
    // assortativity companion as a CURVE — a rising φ(k) is the "rich
    // club" signature. Both directions of every edge are already rows in
    // the staged undirected view, so the ordered-pair edge count is one
    // CONDITIONAL aggregation over the degree-annotated pairs (sum of
    // CASE per k — one edge pass for all four thresholds, map-side
    // combined; never a per-k rescan or a threshold×edge explode) plus a
    // 4-column degree-table agg, stacked to rows at the end (constant
    // 1-row reshape). All counts exact BIGINTs; φ is one final division.
    Q(
      "graph_rich_club",
      (s, d) => {
        val ks = Seq(2, 4, 8, 16)
        val ue = undirectedEdges(s, d)
        val deg = ue.groupBy("src").agg(count(lit(1)).as("deg"))
          .select(col("src").as("v"), col("deg"))
        val pairs = ue
          .join(deg.select(col("v").as("src"), col("deg").as("dx")), "src")
          .join(deg.select(col("v").as("dst"), col("deg").as("dy")), "dst")
        val eCols = ks.map(k =>
          sum(((col("dx") > k) && (col("dy") > k)).cast("long")).as(s"e$k"))
        val nCols = ks.map(k => sum((col("deg") > k).cast("long")).as(s"n$k"))
        val eAgg = pairs.agg(eCols.head, eCols.tail: _*)
        val nAgg = deg.agg(nCols.head, nCols.tail: _*)
        val stacked = ks.map(k => s"$k, n$k, e$k").mkString(", ")
        eAgg.crossJoin(nAgg)
          .select(expr(s"stack(${ks.size}, $stacked) AS (k, n_nodes, dir_rows)"))
          .select(col("k"), col("n_nodes"),
            expr("dir_rows DIV 2").as("n_edges"),
            when(col("n_nodes") >= 2,
              col("dir_rows").cast("double") /
                (col("n_nodes") * (col("n_nodes") - 1)).cast("double")).as("phi"))
          .orderBy("k")
      },
      Some(s"""WITH e AS MATERIALIZED (SELECT DISTINCT l_suppkey AS src,
              |  l_partkey + $PartIdOffset AS dst FROM lineitem),
              |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
              |deg AS MATERIALIZED (
              |  SELECT src AS v, CAST(count(*) AS BIGINT) AS deg FROM ue GROUP BY src),
              |pairs AS (SELECT dx.deg AS dx, dy.deg AS dy
              |          FROM ue JOIN deg dx ON dx.v = ue.src
              |          JOIN deg dy ON dy.v = ue.dst),
              |ks AS (SELECT unnest([2, 4, 8, 16]) AS k),
              |nn AS (SELECT k, CAST(sum(CASE WHEN deg > k THEN 1 ELSE 0 END) AS BIGINT) AS n_nodes
              |       FROM ks CROSS JOIN deg GROUP BY k),
              |ee AS (SELECT k, CAST(sum(CASE WHEN dx > k AND dy > k THEN 1 ELSE 0 END) AS BIGINT) AS dir_rows
              |       FROM ks CROSS JOIN pairs GROUP BY k)
              |SELECT k, n_nodes, dir_rows // 2 AS n_edges,
              |  CASE WHEN n_nodes >= 2 THEN CAST(dir_rows AS DOUBLE) /
              |    CAST(n_nodes * (n_nodes - 1) AS DOUBLE) END AS phi
              |FROM nn JOIN ee USING (k) ORDER BY k""".stripMargin)
    ),

    // ── convergence-mode LPA (semi-synchronous, change fixpoint) ───────
    // The usable community detector next to the fixed-4-step oracle form
    // above: Components.lpaConverged runs half-step updates colored by
    // the BIPARTITION side (suppliers then parts — a PROPER 2-coloring
    // of this graph, so no vertex ever votes over a stale neighbor label
    // and the synchronous 2-cycle oscillation cannot occur), to a
    // driver-counted zero-change fixpoint with an oscillation cap.
    // Iteration depth is data-dependent → not SQL-expressible → rows-only
    // (the kmeans_full convention); the determinism, refinement-vs-4-step
    // and monotone-change-trace invariants are pinned in GraphSpec.
    // Same per-superstep scale shape as the oracle form: each edge
    // scanned once per superstep from the session-staged adjacency,
    // frontier-only shuffles, O(1) plan depth.
    Q(
      "graph_lpa_converged",
      (s, d) => {
        val g = supplierPartGraph(s, d)
        val run = Components.lpaConverged(
          g.nodes.select(col("id")), undirectedEdges(s, d),
          maxIters = 30,
          color = id => (id >= PartIdOffset).cast("int"),
          stageEdges = false)
        run.labels.select(col("id"), col("l").as("community")).orderBy("id")
      },
      None
    ),

    // ── Jaccard-coefficient link prediction over supplier pairs ────────
    // The classic neighborhood link predictor: for supplier pairs that
    // share at least one part, jaccard = |N(a)∩N(b)| / |N(a)∪N(b)|
    // computed as common / (deg(a) + deg(b) − common) — all BIGINT
    // counts until one final IEEE-exact double division, so the score is
    // bit-stable across engines. Candidates come from the oriented
    // wedge equi-join (same no-product shape as common-neighbors: only
    // pairs that actually co-occur on a part are ever materialized —
    // never |S|² pairs); degrees join back on the pair keys. The degree
    // table is O(|V|), so it is NOT broadcast-hinted — at 100 TB these
    // are shuffle hash joins on supplier id, which AQE may still demote
    // to broadcast when the dimension fits.
    Q(
      "graph_jaccard_linkpred",
      (s, d) => {
        val es = supplierPartGraph(s, d).edges.select(col("src"), col("dst"))
        val deg = es.groupBy(col("src").as("sid")).agg(count(lit(1)).as("deg"))
        val common = es.toDF("sa", "dst").join(es.toDF("sb", "dst"), "dst")
          .filter(col("sa") < col("sb"))
          .groupBy("sa", "sb").agg(count(lit(1)).as("common"))
        common
          .join(deg.select(col("sid").as("sa"), col("deg").as("da")), "sa")
          .join(deg.select(col("sid").as("sb"), col("deg").as("db")), "sb")
          .select(col("sa"), col("sb"), col("common"),
            (col("common").cast("double") /
              (col("da") + col("db") - col("common"))).as("jaccard"))
          .orderBy(col("jaccard").desc, col("sa").asc, col("sb").asc)
          .limit(30)
      },
      Some("""WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
             |deg AS (SELECT src AS sid, count(*) AS deg FROM e GROUP BY src),
             |c AS (SELECT a.src AS sa, b.src AS sb, count(*) AS common
             |      FROM e a JOIN e b ON a.dst = b.dst
             |      WHERE a.src < b.src GROUP BY 1, 2)
             |SELECT c.sa, c.sb, c.common,
             |  CAST(c.common AS DOUBLE) / (da.deg + db.deg - c.common) AS jaccard
             |FROM c JOIN deg da ON da.sid = c.sa JOIN deg db ON db.sid = c.sb
             |ORDER BY jaccard DESC, sa ASC, sb ASC LIMIT 30""".stripMargin)
    ),

    // ── degree-weighted link predictors: resource allocation + Adamic–Adar
    // The two standard refinements of raw common-neighbor counting
    // (Zhou/Lü/Zhang 2009; Adamic & Adar 2003): each shared part w
    // contributes 1/deg(w) (RA) or 1/ln(deg(w)) (AA), so promiscuous
    // hub parts count for less. Both sums are made order-free the
    // repo's fixed-point way: RA terms are exact BIGINT `1e12 div deg`,
    // AA terms are `floor(1e7 / ln(deg))` — a swept constant (no
    // integer d ≤ 100,000 puts 1e7/ln(d) within 1e-6 of a floor
    // boundary, and cross-engine ln differs by ulps ≈ 1e-9 at this
    // magnitude, so Spark and DuckDB floor identically; Round10Spec
    // re-sweeps the observed degree domain). deg(w) ≥ 2 for any common
    // neighbor, so ln never sees 1. Same no-product wedge equi-join as
    // the Jaccard/common-neighbor family — pair volume is Σ deg(w)²
    // over parts, the quantity LSH banding bounds at corpus scale.
    Q(
      "graph_link_scores",
      (s, d) => {
        val es = supplierPartGraph(s, d).edges.select(col("src"), col("dst"))
        val dp = es.groupBy("dst").agg(count(lit(1)).as("pdeg"))
        val wedges = es.toDF("sa", "dst").join(es.toDF("sb", "dst"), "dst")
          .filter(col("sa") < col("sb"))
          .join(dp, "dst")
        wedges.groupBy("sa", "sb")
          .agg(count(lit(1)).as("common"),
            sum(expr("1000000000000L div pdeg")).as("ra_scaled"),
            sum(floor(lit(1.0e7) / log(col("pdeg").cast("double")))
              .cast("long")).as("aa_scaled"))
          .orderBy(col("ra_scaled").desc, col("sa").asc, col("sb").asc)
          .limit(30)
      },
      Some("""WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
             |dp AS (SELECT dst, count(*) AS pdeg FROM e GROUP BY dst)
             |SELECT a.src AS sa, b.src AS sb, count(*) AS common,
             |  CAST(sum(1000000000000 // pdeg) AS BIGINT) AS ra_scaled,
             |  CAST(sum(CAST(floor(10000000.0 / ln(CAST(pdeg AS DOUBLE))) AS BIGINT)) AS BIGINT) AS aa_scaled
             |FROM e a JOIN e b ON a.dst = b.dst JOIN dp ON dp.dst = a.dst
             |WHERE a.src < b.src
             |GROUP BY a.src, b.src
             |ORDER BY ra_scaled DESC, sa ASC, sb ASC LIMIT 30""".stripMargin)
    ),

    // ── GraphSAGE-style 2-hop neighbor sampling ────────────────────────
    // The GNN minibatch-preparation primitive (Hamilton et al. 2017):
    // for each seed, sample k₁ = 3 first-hop neighbors, then k₂ = 2
    // second-hop neighbors of each, giving the fixed-fanout computation
    // tree a trainer consumes. "Sampling" is the repo's reproducible
    // discipline — per-neighbor priority detHash(src·2000003 + dst)
    // (2000003 > any id gap keeps the combined key collision-free;
    // ties by dst), so the picked tree is identical on both engines and
    // across reruns, which real pipelines want for debuggability. The
    // hop-2 sample excludes the seed (no trivial backtrack). PLAN: two
    // equi-joins seed-side-small against the edge list, each followed
    // by a per-parent window over ≤ deg rows — per-seed cost is
    // k₁·(max deg), independent of graph size; at 100 TB seeds are the
    // minibatch and the edge table is the hash-partitioned adjacency
    // every other kernel here reads.
    Q(
      "graph_neighbor_sampling",
      (s, d) => {
        val es = supplierPartGraph(s, d).edges.select(col("src"), col("dst"))
        val pri = graft.Tables.detHash(col("src") * lit(2000003L) + col("dst"))
        val h1 = es.filter(col("src") <= 4L)
          .withColumn("r1", row_number().over(
            Window.partitionBy("src").orderBy(pri.asc, col("dst").asc)))
          .filter(col("r1") <= 3)
          .select(col("src").as("seed"), col("dst").as("part"), col("r1"))
        val back = es.select(col("dst").as("part"), col("src").as("s2"))
        val h2 = h1.join(back, "part")
          .filter(col("s2") =!= col("seed"))
          .withColumn("r2", row_number().over(
            Window.partitionBy("seed", "part").orderBy(
              graft.Tables.detHash(col("part") * lit(2000003L) + col("s2")).asc,
              col("s2").asc)))
          .filter(col("r2") <= 2)
        h2.select(col("seed"), col("r1"), col("part"), col("r2"), col("s2"))
          .orderBy("seed", "r1", "r2")
      },
      Some {
        val pri1 = graft.Tables.detHashSql("src * 2000003 + dst")
        val pri2 = graft.Tables.detHashSql("part * 2000003 + s2")
        s"""WITH e AS (SELECT DISTINCT l_suppkey AS src,
           |             l_partkey + $PartIdOffset AS dst FROM lineitem),
           |h1 AS (
           |  SELECT src AS seed, dst AS part, r1 FROM (
           |    SELECT src, dst,
           |      row_number() OVER (PARTITION BY src ORDER BY $pri1 ASC, dst ASC) AS r1
           |    FROM e WHERE src <= 4)
           |  WHERE r1 <= 3),
           |h2 AS (
           |  SELECT seed, r1, part, s2,
           |    row_number() OVER (PARTITION BY seed, part ORDER BY $pri2 ASC, s2 ASC) AS r2
           |  FROM (SELECT h1.seed, h1.r1, h1.part, e2.src AS s2
           |        FROM h1 JOIN e e2 ON e2.dst = h1.part
           |        WHERE e2.src <> h1.seed))
           |SELECT seed, CAST(r1 AS INT) AS r1, part, CAST(r2 AS INT) AS r2, s2
           |FROM h2 WHERE r2 <= 2
           |ORDER BY seed, r1, r2""".stripMargin
      }
    ),

    // ── butterfly counting: the bipartite clustering motif ─────────────
    // The bipartite analogue of triangle counting (Sanei-Mehri et al.,
    // "Butterfly Counting in Bipartite Networks", KDD'18): a butterfly
    // is a (2 suppliers × 2 parts) complete biclique — the smallest unit
    // of bipartite cohesion, and the quantity k-wing/bitruss dedup
    // decompositions peel on. Identity: for a supplier pair with c
    // common parts, the pair closes C(c,2) butterflies; a supplier's
    // count is the sum over its pairs. Plan: the SAME wedge equi-join as
    // graph_common_neighbors (pair volume Σ deg(part)², hub-salted when
    // skewed — never all-pairs), one pair agg, one per-supplier agg; the
    // global total divides by 2 exactly (each butterfly has 2 supplier
    // ends) as integer arithmetic since Σ C(c,2) over both ends is even.
    // Emits the 25 heaviest butterfly ends plus each one's share of the
    // global count — the report a curation pipeline reads to find
    // suspiciously co-purchased catalog blocks.
    Q(
      "graph_butterflies",
      (s, d) => {
        val es = supplierPartGraph(s, d).edges.select(col("src"), col("dst"))
        val pairs = es.toDF("sa", "dst").join(es.toDF("sb", "dst"), "dst")
          .filter(col("sa") < col("sb"))
          .groupBy("sa", "sb").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2L)
          .select(col("sa"), col("sb"),
            expr("c * (c - 1) div 2").as("bf"))
        val perEnd = pairs.select(explode(array(col("sa"), col("sb"))).as("supplier"),
            col("bf"))
          .groupBy("supplier").agg(sum("bf").as("butterflies"))
        val total = perEnd.agg(expr("sum(butterflies) div 2").as("total_bf"))
        perEnd.crossJoin(broadcast(total))
          .select(col("supplier"), col("butterflies"), col("total_bf"),
            (col("butterflies").cast("double") / col("total_bf").cast("double"))
              .as("share"))
          .orderBy(col("butterflies").desc, col("supplier").asc)
          .limit(25)
      },
      Some("""WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
             |pairs AS (
             |  SELECT a.src AS sa, b.src AS sb,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM e a JOIN e b ON a.dst = b.dst
             |  WHERE a.src < b.src
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |bf AS (SELECT sa, sb, c * (c - 1) // 2 AS bf FROM pairs),
             |per_end AS (
             |  SELECT supplier, CAST(sum(bf) AS BIGINT) AS butterflies
             |  FROM (SELECT sa AS supplier, bf FROM bf
             |        UNION ALL SELECT sb, bf FROM bf)
             |  GROUP BY 1),
             |tot AS (SELECT CAST(sum(butterflies) // 2 AS BIGINT) AS total_bf FROM per_end)
             |SELECT supplier, butterflies, total_bf,
             |  CAST(butterflies AS DOUBLE) / CAST(total_bf AS DOUBLE) AS share
             |FROM per_end CROSS JOIN tot
             |ORDER BY butterflies DESC, supplier ASC LIMIT 25""".stripMargin)
    ),

    // ── landmark eccentricity + effective diameter (90th pct distance) ─
    // The diameter-estimation report (the exact-BFS core of HyperANF /
    // Palmer's ANF — at 100 TB the per-level reach COUNTS swap to HLL
    // registers per node, same dataflow): for each closeness landmark,
    // its eccentricity (max BFS distance), reached count, and effective
    // eccentricity d90 = the smallest d covering ≥ 90% of reached nodes.
    // The 90% cut is the pure-integer test 10·cum ≥ 9·n (no float
    // percentile anywhere), computed on per-(seed, d) level counts — a
    // seeds×depth-sized frame, so the cumulative window is tiny. Reuses
    // the SAME multiBfs kernel (one equi-join + min-agg per superstep,
    // all seeds in one dataflow) and the oracle reuses the SAME
    // recursive-CTE dist table as graph_closeness_centrality — the two
    // reports can never drift.
    Q(
      "graph_eccentricity",
      (s, d) => {
        val per = closenessDist(s, d) // shared with graph_closeness_centrality
          .filter(col("d") > 0)
          .groupBy("lm", "d").agg(count(lit(1)).as("c"))
        val tot = per.groupBy("lm").agg(sum("c").as("n"),
          max(col("d")).cast("int").as("ecc"))
        val cum = per.withColumn("cum", sum("c").over(
          Window.partitionBy("lm").orderBy(col("d").asc)))
        val d90 = cum.join(tot, "lm")
          .filter(lit(10L) * col("cum") >= lit(9L) * col("n"))
          .groupBy("lm").agg(min(col("d")).cast("int").as("d90"))
        tot.join(d90, "lm")
          .select(col("lm").as("seed"), col("n").as("reached"),
            col("ecc"), col("d90"))
          .orderBy("seed")
      },
      Some {
        val seedRows = ClosenessSeeds.map(x => s"($x, $x, 0)").mkString(", ")
        s"""WITH RECURSIVE
           |e AS (SELECT DISTINCT l_suppkey AS src, l_partkey + $PartIdOffset AS dst FROM lineitem),
           |ue AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
           |bfs(lm, id, d) AS (
           |  SELECT * FROM (VALUES $seedRows) t(lm, id, d)
           |  UNION
           |  SELECT b.lm, ue.dst, b.d + 1 FROM bfs b JOIN ue ON ue.src = b.id
           |  WHERE b.d < $SpMaxDepth),
           |dist AS (SELECT lm, id, min(d) AS d FROM bfs GROUP BY lm, id),
           |per AS (SELECT lm, d, CAST(count(*) AS BIGINT) AS c
           |        FROM dist WHERE d > 0 GROUP BY lm, d),
           |tot AS (SELECT lm, CAST(sum(c) AS BIGINT) AS n,
           |          CAST(max(d) AS INT) AS ecc FROM per GROUP BY lm),
           |cum AS (SELECT lm, d,
           |          sum(c) OVER (PARTITION BY lm ORDER BY d) AS cum FROM per),
           |d90 AS (SELECT cum.lm, CAST(min(d) AS INT) AS d90
           |        FROM cum JOIN tot ON tot.lm = cum.lm
           |        WHERE 10 * cum >= 9 * n GROUP BY cum.lm)
           |SELECT t.lm AS seed, t.n AS reached, t.ecc, d90.d90
           |FROM tot t JOIN d90 ON d90.lm = t.lm
           |ORDER BY seed""".stripMargin
      }
    ),

    // ── Borůvka minimum spanning forest (oracle-replayed per round) ────
    // MST over the min-quantity-weighted supplier↔part graph via
    // [[Components.boruvkaMst]] — the parallel-native MST. The edge
    // total order (w, lo, hi) makes every per-component argmin unique,
    // so the whole forest (including which ROUND picked each edge) is
    // deterministic, and the oracle replays the identical rounds: per
    // unrolled round a candidate join, a row_number argmin, and a
    // WITH-RECURSIVE min-reach contraction of the picked component
    // graph (the graph_connected_components closure, but on the
    // component-count-sized pick graph, not the vertex set). Unroll
    // depth $MstUnroll ≫ ⌈log₂ n⌉ rounds Borůvka can need; the Spark
    // side `require`s it drained — a loud failure, never a silent
    // truncation. Rounds past convergence contribute zero rows on both
    // engines.
    Q(
      "graph_mst_boruvka",
      (s, d) => {
        // uniquePairs: the substrate IS the groupBy(pair).min aggregation
        // (masterEdges) — round 1's re-canonicalization would be a no-op
        val (mst, _) = Components.boruvkaMst(weightedUndirectedEdges(s, d),
          MstUnroll, uniquePairs = true)
        mst.orderBy("lo", "hi")
      },
      Some {
        val roundCtes = (1 to MstUnroll).map { k =>
          s"""cand$k AS MATERIALIZED (
             |  SELECT ls.c AS cs, ue.w, least(ue.src, ue.dst) AS lo,
             |    greatest(ue.src, ue.dst) AS hi, ld.c AS cd
             |  FROM ue JOIN comp${k - 1} ls ON ls.id = ue.src
             |  JOIN comp${k - 1} ld ON ld.id = ue.dst
             |  WHERE ls.c <> ld.c),
             |pick$k AS MATERIALIZED (
             |  SELECT cs, w, lo, hi, cd FROM (
             |    SELECT cs, w, lo, hi, cd,
             |      row_number() OVER (PARTITION BY cs ORDER BY w, lo, hi) AS rn
             |    FROM cand$k) WHERE rn = 1),
             |eg$k AS MATERIALIZED (
             |  SELECT cs AS src, cd AS dst FROM pick$k
             |  UNION SELECT cd, cs FROM pick$k),
             |lblx$k(c, l) AS (
             |  SELECT src, src FROM eg$k
             |  UNION
             |  SELECT eg.dst, x.l FROM lblx$k x JOIN eg$k eg ON eg.src = x.c),
             |relab$k AS MATERIALIZED (SELECT c, min(l) AS l FROM lblx$k GROUP BY c),
             |comp$k AS MATERIALIZED (
             |  SELECT p.id, coalesce(r.l, p.c) AS c
             |  FROM comp${k - 1} p LEFT JOIN relab$k r ON r.c = p.c)"""
            .stripMargin
        }.mkString(",\n")
        val chosen = (1 to MstUnroll).map(k =>
          s"SELECT $k AS round, lo, hi, w FROM (SELECT DISTINCT lo, hi, w FROM pick$k)")
          .mkString("\nUNION ALL\n")
        s"""WITH RECURSIVE
           |e0 AS MATERIALIZED (
           |  SELECT l_suppkey AS a, l_partkey + $PartIdOffset AS b,
           |         CAST(min(l_quantity) AS BIGINT) AS w
           |  FROM lineitem GROUP BY 1, 2),
           |ue AS MATERIALIZED (
           |  SELECT a AS src, b AS dst, w FROM e0
           |  UNION ALL SELECT b, a, w FROM e0),
           |comp0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS c FROM ue),
           |$roundCtes
           |SELECT CAST(round AS INT) AS round, lo, hi, w FROM (
           |$chosen)
           |ORDER BY lo, hi""".stripMargin
      }
    ),

    // ── single-linkage clustering at threshold τ (MST's read side) ─────
    // Cut every edge heavier than τ and take connected components — the
    // classic single-linkage flat clustering, and the reason pipelines
    // bother building an MST at all: CC(edges ≤ τ) ≡ CC(MST edges ≤ τ)
    // for EVERY τ (the single-linkage/MST identity, asserted against
    // [[Components.boruvkaMst]] in Round10Spec), so once the O(E)
    // forest exists, any threshold sweep touches only n−1 edges. This
    // query computes the τ = 3 clustering directly on the thresholded
    // graph (GraphX CC over the sparse subgraph — the same kernel as
    // graph_connected_components), with untouched vertices kept as
    // singletons; the oracle is the same recursive min-reach closure.
    Q(
      "graph_single_linkage",
      (s, d) => {
        val tau = 3L
        val sub = weightedUndirectedEdges(s, d).filter(col("w") <= tau)
        val lab = Components.minLabel(sub.select(col("src"), col("dst")))
        supplierPartGraph(s, d).nodes.select(col("id"))
          .join(lab, Seq("id"), "left")
          .select(col("id"), coalesce(col("l"), col("id")).as("component"))
          .groupBy("component").agg(count(lit(1)).as("size"))
          .orderBy("component")
      },
      Some(s"""WITH RECURSIVE
              |e AS (SELECT l_suppkey AS src, l_partkey + $PartIdOffset AS dst
              |      FROM lineitem GROUP BY 1, 2
              |      HAVING CAST(min(l_quantity) AS BIGINT) <= 3),
              |ue AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
              |n AS (SELECT s_suppkey AS id FROM supplier
              |      UNION ALL SELECT p_partkey + $PartIdOffset FROM part),
              |lbl(id, l) AS (
              |  SELECT id, id FROM n
              |  UNION
              |  SELECT ue.dst, lbl.l FROM lbl JOIN ue ON ue.src = lbl.id),
              |comp AS (SELECT id, min(l) AS component FROM lbl GROUP BY id)
              |SELECT component, count(*) AS size FROM comp
              |GROUP BY component ORDER BY component""".stripMargin)
    ),

    // ── strongly connected components (directed reachability classes) ──
    // The classic directed-graph decomposition a graph engine owes its
    // users: SCC by deterministic forward-backward coloring
    // ([[Components.sccColoring]] — min-id forward colors, per-color
    // backward BFS, peel; the parallel-native shape, since Tarjan's DFS
    // is inherently sequential). The oracle is DEFINITIONAL — scc(v) =
    // min of v's mutually-reachable set via one reachability closure —
    // so the round structure needs no replay and any correct SCC
    // algorithm must hash-match it.
    Q(
      "graph_scc",
      (s, d) =>
        sccLabels(s, d)
          .groupBy("scc").agg(count(lit(1)).as("size"))
          .orderBy("scc"),
      Some(s"""WITH RECURSIVE
              |$sqlSccCtes
              |SELECT scc, count(*) AS size FROM lbl
              |GROUP BY scc ORDER BY scc""".stripMargin)
    ),

    // ── condensation DAG (SCC quotient graph) ──────────────────────────
    // Contract every SCC to one vertex and keep the cross-component
    // edges with multiplicity — the acyclic quotient every directed
    // reachability question reduces to (reachability between SCCs ≡
    // reachability between vertices; GraphSpec runs [[Components
    // .multiBfs]] over exactly this edge list and asserts acyclicity).
    // Two broadcast-size label joins + one partial-agg count on top of
    // the memoized decomposition.
    Q(
      "graph_scc_condensation",
      (s, d) => {
        val lbl = sccLabels(s, d)
        partChainEdges(s, d)
          .join(lbl.select(col("id").as("src"), col("scc").as("scc_src")), "src")
          .join(lbl.select(col("id").as("dst"), col("scc").as("scc_dst")), "dst")
          .filter(col("scc_src") =!= col("scc_dst"))
          .groupBy("scc_src", "scc_dst").agg(count(lit(1)).as("cross_edges"))
          .orderBy("scc_src", "scc_dst")
      },
      Some(s"""WITH RECURSIVE
              |$sqlSccCtes
              |SELECT ls.scc AS scc_src, ld.scc AS scc_dst,
              |  count(*) AS cross_edges
              |FROM de
              |JOIN lbl ls ON ls.id = de.src
              |JOIN lbl ld ON ld.id = de.dst
              |WHERE ls.scc <> ld.scc
              |GROUP BY scc_src, scc_dst
              |ORDER BY scc_src, scc_dst""".stripMargin)
    ),

    // ── condensation DAG layering (topological level structure) ────────
    // The schedule view of the quotient graph: layer(C) = longest
    // chain of SCCs feeding C — what a staged computation over the
    // dependency structure executes level by level. Spark runs
    // [[Components.dagLayers]] ((max, +1) relaxation whose round bound
    // IS the acyclicity proof of the contraction) over the memoized
    // decomposition; the oracle enumerates path lengths in the
    // (finite, acyclic) condensation via one recursive CTE and takes
    // the per-node max. Reported as the layer histogram weighted by
    // both SCC count and member count.
    Q(
      "graph_scc_layers",
      (s, d) => {
        // the layering is a decomposition ARTIFACT (like the labels):
        // one relaxation fixpoint per (session, dir), not per read
        val layers = sccLayersMemo.getOrCompute(s, d) {
          val lbl = sccLabels(s, d)
          val cond = partChainEdges(s, d)
            .join(lbl.select(col("id").as("src"), col("scc").as("cs")), "src")
            .join(lbl.select(col("id").as("dst"), col("scc").as("cd")), "dst")
            .filter(col("cs") =!= col("cd"))
            .select(col("cs").as("src"), col("cd").as("dst")).distinct()
            .transform(GenSnap.snap)
          val cnodes = lbl.select(col("scc").as("id")).distinct()
          Components.dagLayers(cnodes, cond, SccMaxRounds * 4).transform(GenSnap.stage(_))
        }
        val sizes = sccLabels(s, d).groupBy("scc").agg(count(lit(1)).as("size"))
        layers.join(sizes, col("id") === col("scc"))
          .groupBy("layer")
          .agg(count(lit(1)).as("n_sccs"), sum("size").as("n_vertices"))
          .orderBy("layer")
      },
      Some(s"""WITH RECURSIVE
              |$sqlSccCtes,
              |cnodes AS (SELECT DISTINCT scc AS id FROM lbl),
              |cedges AS (
              |  SELECT DISTINCT ls.scc AS src, ld.scc AS dst
              |  FROM de JOIN lbl ls ON ls.id = de.src
              |  JOIN lbl ld ON ld.id = de.dst
              |  WHERE ls.scc <> ld.scc),
              |paths(id, len) AS (
              |  SELECT id, 0 FROM cnodes
              |  UNION
              |  SELECT ce.dst, p.len + 1 FROM paths p JOIN cedges ce ON ce.src = p.id),
              |layers AS (SELECT id, max(len) AS layer FROM paths GROUP BY id),
              |sizes AS (SELECT scc, count(*) AS size FROM lbl GROUP BY scc)
              |SELECT l.layer, count(*) AS n_sccs,
              |  CAST(sum(s.size) AS BIGINT) AS n_vertices
              |FROM layers l JOIN sizes s ON s.scc = l.id
              |GROUP BY l.layer ORDER BY l.layer""".stripMargin)
    ),

    // ── edge reciprocity of the directed graph ─────────────────────────
    // The first directed statistic anyone computes: what fraction of
    // edges have their reverse? One self-equi-join on the swapped key
    // pair over the memoized chain edges; the ratio is one division of
    // two exact counts.
    Q(
      "graph_reciprocity",
      (s, d) => {
        val de = partChainEdges(s, d)
        val n = de.agg(count(lit(1)).as("n_edges"))
        val r = de.join(de.toDF("dst", "src"), Seq("src", "dst"))
          .agg(count(lit(1)).as("n_reciprocal"))
        n.crossJoin(r)
          .select(col("n_edges"), col("n_reciprocal"),
            (col("n_reciprocal").cast("double") / col("n_edges").cast("double"))
              .as("reciprocity"))
      },
      Some(s"""WITH
              |$sqlChainCtes,
              |n AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM de),
              |r AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
              |      FROM de a JOIN de b ON b.src = a.dst AND b.dst = a.src)
              |SELECT n_edges, n_reciprocal,
              |  CAST(n_reciprocal AS DOUBLE) / CAST(n_edges AS DOUBLE) AS reciprocity
              |FROM n, r""".stripMargin)
    ),

    // ── directed triad census: feed-forward vs feedback triangles ──────
    // The two 3-node motifs that distinguish directed structure (Milo
    // et al.'s network motifs): transitive a→b→c with shortcut a→c
    // (the feed-forward loop) vs cyclic a→b→c→a (feedback). One wedge
    // equi-join builds the a→b→c paths; each closing edge is one more
    // equi-join. A cyclic triangle matches its own 3 rotations, so the
    // raw cyclic count divides by exactly 3 (require'd); transitive
    // triangles have a unique source, one match each. All equi-joins on
    // vertex keys — the Sanei-Mehri butterflies shape on the directed
    // graph, never an all-pairs product.
    Q(
      "graph_triads",
      (s, d) => {
        val de = partChainEdges(s, d)
        val wedges = de.toDF("a", "b")
          .join(de.toDF("b", "c"), "b")
          .filter(col("a") =!= col("c"))
          .transform(GenSnap.snap) // both closures read one pathing
        val nW = wedges.agg(count(lit(1)).as("n_paths2"))
        val nT = wedges.join(de.toDF("a", "c"), Seq("a", "c"))
          .agg(count(lit(1)).as("n_transitive"))
        val nC = wedges.join(de.toDF("c", "a"), Seq("c", "a"))
          .agg(count(lit(1)).as("cyc3"))
        nW.crossJoin(nT).crossJoin(nC)
          .select(col("n_paths2"), col("n_transitive"),
            expr("cyc3 DIV 3").as("n_cyclic"),
            (col("cyc3") % 3 === 0).as("rotation_exact"))
      },
      Some(s"""WITH
              |$sqlChainCtes,
              |w AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
              |      FROM de e1 JOIN de e2 ON e2.src = e1.dst
              |      WHERE e1.src <> e2.dst),
              |nw AS (SELECT CAST(count(*) AS BIGINT) AS n_paths2 FROM w),
              |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_transitive
              |       FROM w JOIN de e3 ON e3.src = w.a AND e3.dst = w.c),
              |nc AS (SELECT CAST(count(*) AS BIGINT) AS cyc3
              |       FROM w JOIN de e3 ON e3.src = w.c AND e3.dst = w.a)
              |SELECT n_paths2, n_transitive,
              |  cyc3 // 3 AS n_cyclic, cyc3 % 3 = 0 AS rotation_exact
              |FROM nw, nt, nc""".stripMargin)
    ),

    // ── bowtie decomposition around the largest SCC (Broder et al.) ────
    // The macroscopic web-graph census: pick the CORE (largest SCC, tie
    // → smallest label), then classify every vertex as core / IN
    // (reaches the core) / OUT (reached from the core) / OTHER
    // (tendrils + disconnected). IN ∩ OUT = core by definition of an
    // SCC, so the classes partition the vertex set — spec-asserted.
    // Spark runs TWO set-reachability sweeps ([[Components
    // .reachableFrom]], forward over the edges and forward over their
    // reversal) from the broadcast core set; the oracle reads the same
    // answer straight off the closure it already built for the labels.
    Q(
      "graph_scc_bowtie",
      (s, d) => {
        // the per-vertex class table is a decomposition artifact: the
        // two reachability sweeps run once per (session, dir)
        val classes = sccBowtieMemo.getOrCompute(s, d) {
          val lbl = sccLabels(s, d)
          val de = partChainEdges(s, d)
          val core = lbl.groupBy("scc").agg(count(lit(1)).as("sz"))
            .orderBy(col("sz").desc, col("scc").asc).limit(1)
            .select("scc")
          val coreSet = lbl.join(broadcast(core), "scc").select("id")
            .transform(GenSnap.snap)
          val outs = Components.reachableFrom(coreSet, de, 128)
          val ins = Components.reachableFrom(coreSet,
            de.select(col("dst").as("src"), col("src").as("dst")), 128)
          lbl.select(col("id"))
            .join(coreSet.select(col("id"), lit(1).as("isCore")), Seq("id"), "left")
            .join(ins.select(col("id"), lit(1).as("isIn")), Seq("id"), "left")
            .join(outs.select(col("id"), lit(1).as("isOut")), Seq("id"), "left")
            .select(col("id"), when(col("isCore") === 1, "core")
              .when(col("isIn") === 1, "in")
              .when(col("isOut") === 1, "out")
              .otherwise("other").as("component_class"))
            .transform(GenSnap.stage(_))
        }
        classes
          .groupBy("component_class").agg(count(lit(1)).as("n_vertices"))
          .orderBy("component_class")
      },
      Some(s"""WITH RECURSIVE
              |$sqlSccCtes,
              |core AS (SELECT scc FROM (
              |  SELECT scc, count(*) AS sz FROM lbl GROUP BY scc
              |  ORDER BY sz DESC, scc ASC LIMIT 1)),
              |coreset AS (SELECT id FROM lbl JOIN core USING (scc)),
              |ins AS (SELECT DISTINCT r.a AS id FROM r JOIN coreset c ON r.b = c.id),
              |outs AS (SELECT DISTINCT r.b AS id FROM r JOIN coreset c ON r.a = c.id),
              |cls AS (
              |  SELECT n.id,
              |    CASE WHEN cs.id IS NOT NULL THEN 'core'
              |         WHEN i.id IS NOT NULL THEN 'in'
              |         WHEN o.id IS NOT NULL THEN 'out'
              |         ELSE 'other' END AS component_class
              |  FROM n
              |  LEFT JOIN coreset cs USING (id)
              |  LEFT JOIN ins i USING (id)
              |  LEFT JOIN outs o USING (id))
              |SELECT component_class, count(*) AS n_vertices
              |FROM cls GROUP BY component_class ORDER BY component_class""".stripMargin)
    )
  )
}
