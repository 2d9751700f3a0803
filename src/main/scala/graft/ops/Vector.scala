package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GenSnap

/** Vector/feature operators over `embeddings.parquet` (64-dim float
  * vectors): the reference's feature-stats F1 and cosine-similarity F6
  * (/root/reference/kmeans_clustering/image_classification.py:173-185,
  * :403-414), plus the beyond-reference similarity-search surface
  * (brute-force top-k, k-NN join) a training-data pipeline needs.
  *
  * Oracle strategy: every floating-point reduction is a SEQUENTIAL
  * LEFT-TO-RIGHT fold over the array — Spark `aggregate(...)` and DuckDB
  * `list_reduce(...)` both fold left over identical element values
  * (float32→double casts are exact), so results are bit-identical. sqrt,
  * *, / are IEEE-correctly-rounded on both engines.
  *
  * Scale notes: the vector column stays a single ArrayType(Double) cell —
  * one row per vector, never exploded in the hot path, so a 100 TB corpus
  * scans columnar batches of packed arrays. Top-k vs a single query is a
  * TakeOrderedAndProject (per-partition heap, k-row merge at the driver:
  * no shuffle of the corpus). The k-NN join broadcasts the (tiny) probe
  * side so the corpus is read exactly once with no shuffle.
  */
object Vector {

  import Tables._

  /** Cast the float32 embedding to double — exact, and makes every
    * downstream arithmetic op double-precision on both engines. */
  def vec(c: Column): Column = c.cast("array<double>")

  /** Sequential left fold sum — bit-identical to DuckDB list_reduce. */
  def seqSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (s, x) => s + x)

  def dot(a: Column, b: Column): Column =
    seqSum(zip_with(a, b, (x, y) => x * y))

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine via built-in HOFs — the composition the oracle mirrors. */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Cosine via the native codegen expression (same fold order →
    * bit-identical to cosineHof and the oracle; ~2× faster per row —
    * see org.apache.spark.sql.graft.CosineSimilarity). Used by every similarity
    * query and the k-means hot path. */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.CosineSimilarity(
        org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  // ── DuckDB oracle fragments (same folds, same order) ─────────────────
  def sqlVec(e: String): String = s"($e::DOUBLE[])"
  def sqlSeqSum(arr: String): String = s"list_reduce($arr, (s, x) -> s + x)"
  def sqlDot(a: String, b: String): String =
    sqlSeqSum(s"list_transform(list_zip($a, $b), p -> p[1] * p[2])")
  def sqlNorm(a: String): String = s"sqrt(${sqlDot(a, a)})"
  def sqlCosine(a: String, b: String): String =
    s"(${sqlDot(a, b)} / (${sqlNorm(a)} * ${sqlNorm(b)}))"

  // ── NN-descent shared kernel (ann_nndescent_graph / _incremental) ───
  /** Emit degree / BUILD degree / round counts for the descent kernels.
    * Over-building at 2k is what lifts descent out of the clustered
    * local optimum (recall@8 0.68 → 0.97 on the gate corpus). The
    * incremental query builds its "existing" graph in one fewer round —
    * the persisted state a production system extends, not re-derives. */
  private val NnK = 8
  private val NnKb = 16
  private val NnRounds = 4
  private val NnOldRounds = 3

  /** Deterministic seed strides over the contiguous id space — no RNG,
    * so the oracle replays the seeds verbatim. */
  private val NnStrides = Seq(48L, 85L, 122L, 159L, 196L, 233L, 270L, 307L,
    11L, 97L, 201L, 333L, 421L, 57L, 153L, 289L)

  /** k seed edges per node: stride picks modulo the corpus size. Targets
    * that don't exist in the caller's corpus (the incremental query's
    * old-graph build seeds over the full id space) drop in the scoring
    * join — deterministically, so both compilation targets agree. */
  private def strideSeeds(e: DataFrame, n: Long): DataFrame =
    e.select(col("id").as("src"),
      explode(array(NnStrides.map(sj => (col("id") + sj) % n): _*)).as("dst"))

  /** One NN-descent pass (Dong et al. 2011 local join): per node,
    * introduce its general neighbors (forward ∪ rotating-hash-capped
    * reverse) to each other through a pivot equi-join, score by cosine,
    * and rank per source. The reverse cap ROTATES per round
    * (deterministic multiplicative hash keyed by r): a fixed id-order
    * cap would drop the same reverse neighbors of a hub every round and
    * stall descent. Candidate volume is Σ_p |G(p)|² ≤ N·(2k)² — the cap
    * bounds hub fan-in — and every join is hash-partitioned on id:
    * NEVER a corpus² product (plan-asserted in PlanSpec).
    * @return (src, dst, sim, rk) — caller filters to its keep degree. */
  private def nnDescentRound(b: DataFrame, e: DataFrame, r: Int): DataFrame = {
    val rev = b.select(col("dst").as("piv"), col("src").as("nbr"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("piv").orderBy(
          ((col("nbr") + lit(r.toLong)) * lit(2654435761L) % lit(4294967296L)).asc,
          col("nbr").asc)))
      .filter(col("rk") <= NnKb).drop("rk")
    // NO distinct on gen: an edge present both forward and in the capped
    // reverse list yields duplicate (piv, nbr) rows here, but every
    // candidate they generate is removed by cand's own distinct below —
    // the candidate SET is provably identical, and skipping the dedup
    // saves one full shuffle of the general-neighbor table per round
    // (the oracle's gen UNION still dedups; set-equal either way).
    val gen = b.select(col("src").as("piv"), col("dst").as("nbr"))
      .union(rev)
    val cand = gen.select(col("piv"), col("nbr").as("src"))
      .join(gen.select(col("piv"), col("nbr").as("dst")), "piv")
      .filter(col("src") =!= col("dst"))
      .select("src", "dst")
      .union(b)
      .distinct()
    cand
      .join(e.select(col("id").as("src"), col("v").as("va")), "src")
      .join(e.select(col("id").as("dst"), col("v").as("vb")), "dst")
      .select(col("src"), col("dst"), cosine(col("va"), col("vb")).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("src").orderBy(col("sim").desc, col("dst").asc)))
  }

  /** NN-descent over corpus `e` from the stride seeds of an `n`-id
    * space: `rounds` passes, each but the last cut to the build degree
    * and snapped.
    * @return the last round's (src, dst, sim, rk), for the caller's cut. */
  private def nnDescent(e: DataFrame, n: Long, rounds: Int = NnRounds): DataFrame = {
    var b = strideSeeds(e, n).transform(GenSnap.snap)
    for (r <- 1 until rounds)
      b = nnDescentRound(b, e, r).filter(col("rk") <= NnKb).select("src", "dst")
        .transform(GenSnap.snap)
    nnDescentRound(b, e, rounds)
  }

  /** The incremental path's "existing" corpus state, one build per
    * (session, dir): the staged (id, v) corpus, its size, and the
    * degree-2k descent graph over the non-batch 90% — the persisted KNN
    * table a production system keeps between ingestion batches. Seeds
    * cover the full id space; targets that fall on batch ids simply
    * drop in the old-corpus scoring join (deterministic). The graph is
    * N·2k rows (node-sized), cached explicitly. */
  private val nnOldGraphMemo = graft.SessionMemo[(DataFrame, Long, DataFrame)]()
  private def nnExistingGraph(s: SparkSession, d: String): (DataFrame, Long, DataFrame) =
    nnOldGraphMemo.getOrCompute(s, d) {
      val isNew = col("id") % 10 === 7
      val e = embeddings(s, d)
        .select(col("vec_id").as("id"), vec(col("embedding")).as("v"))
        .transform(GenSnap.snap)
      val n = e.count() // 1-value driver boundary (mod-N seed space)
      val eOld = e.filter(!isNew).transform(GenSnap.snap)
      val gOld = nnDescent(eOld, n, NnOldRounds).filter(col("rk") <= NnKb)
        .select("src", "dst", "sim").transform(GenSnap.stage(_))
      (e, n, gOld)
    }

  /** The oracle twin of [[nnDescentRound]]: one round as chained CTEs
    * reading edge table `prev`, emitting `$out` (the rk ≤ build-degree
    * edge set) plus `rk_$out` (the full ranking the final round's caller
    * selects its emit degree from). `corpus` is the (id, v) CTE the
    * scoring join reads. */
  private def sqlNnRound(r: Int, prev: String, out: String, corpus: String): String = {
    val c = sqlCosine("ea.v", "eb.v")
    s"""rev_$out AS (
       |  SELECT piv, nbr FROM (
       |    SELECT dst AS piv, src AS nbr,
       |      row_number() OVER (PARTITION BY dst
       |        ORDER BY (src + $r) * 2654435761 % 4294967296 ASC, src ASC) AS rk
       |    FROM $prev) WHERE rk <= $NnKb),
       |gen_$out AS (
       |  SELECT src AS piv, dst AS nbr FROM $prev
       |  UNION SELECT piv, nbr FROM rev_$out),
       |cand_$out AS (
       |  SELECT a.nbr AS src, b.nbr AS dst
       |  FROM gen_$out a JOIN gen_$out b ON a.piv = b.piv AND a.nbr <> b.nbr
       |  UNION SELECT src, dst FROM $prev),
       |sim_$out AS (
       |  SELECT c.src, c.dst, $c AS sim
       |  FROM cand_$out c JOIN $corpus ea ON ea.id = c.src JOIN $corpus eb ON eb.id = c.dst),
       |rk_$out AS (
       |  SELECT src, dst, sim,
       |    row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk
       |  FROM sim_$out),
       |$out AS MATERIALIZED (SELECT src, dst FROM rk_$out WHERE rk <= $NnKb)""".stripMargin
  }

  // ── graph-traversal ANN search (VERDICT-r14 task 1) ─────────────────
  /** The raw NN-descent BUILD of the full-corpus degree-2k index — the
    * periodic index JOB. Reached only through [[gsPersistedIndex]]'s
    * publish-on-miss path (and the build-timing query
    * `ann_nndescent_graph`, which replays it inline): serving never
    * calls this directly. */
  private[graft] val nnIndexBuilds = new java.util.concurrent.atomic.AtomicInteger(0)
  private def nnIndexBuild(s: SparkSession, d: String): (DataFrame, Long, DataFrame) = {
    nnIndexBuilds.incrementAndGet()
    val e = embeddings(s, d)
      .select(col("vec_id").as("id"), vec(col("embedding")).as("v"))
      .transform(GenSnap.snap)
    val n = e.count() // 1-value driver boundary (mod-N seed space); materializes the snap
    val adj = nnDescent(e, n).filter(col("rk") <= NnKb).select("src", "dst")
      .transform(GenSnap.stage(_))
    (e, n, adj)
  }

  /** The production ANN search INDEX every serve-path query reads: a
    * READ-THROUGH CACHE over the PUBLISHED artifact. The memo resolves
    * the fingerprint-matched version dir (building and publishing one
    * descent only if no process has), reads the bucketed
    * adjacency + 1-row meta back from parquet, and caches the frames
    * for the session — so adj's lineage is a FileScan of the artifact,
    * a fresh session pays ZERO descents for the whole family, and every
    * consumer serves the same bytes the oracle's glob reads. */
  private val nnSearchIndexMemo = graft.SessionMemo[(DataFrame, Long, DataFrame)]()
  private[graft] def nnSearchIndex(s: SparkSession, d: String): (DataFrame, Long, DataFrame) =
    nnSearchIndexMemo.getOrCompute(s, d) {
      val base = gsPersistedIndex(s, d)
      val n = s.read.parquet(s"$base/meta").head().getAs[Long]("n")
      val e = embeddings(s, d)
        .select(col("vec_id").as("id"), vec(col("embedding")).as("v"))
        .transform(GenSnap.stage(_))
      // HOT: every beam hop of every serve query scans the adjacency
      // (~10 hops × 8 queries per pass) — columnar int columns
      val adj = GsAdj.table(s, base).select("src", "dst")
        .transform(GenSnap.stage(_, hot = true))
      (e, n, adj)
    }

  /** Beam width / hop bound / hash-fixed entry seeds for the greedy
    * best-first graph search. The beam at 24 > 2×k keeps recall@10 at
    * 1.0 on the gate corpus (pinned ≥ the IVF tier in Round15Spec via
    * ann_recall_report). */
  private val GsBeam = 24
  private[graft] val GsHops = 10 // sf0.1 usage: 5 single-probe, 7 batch (one far probe) — margin ≥ 3, Sf01BoundsSpec-pinned
  private val GsEntrySeeds = Seq(48L, 85L, 122L, 159L)
  private val GsSweepWidths = Seq(8, 16, 24) // efSearch-style serving knob
  // filtered search runs WIDER (the filtered-HNSW/ACORN rule of thumb:
  // predicate selectivity ~1/10 thins the visited set ~10×, so the beam
  // doubles to keep the survivor pool ≥ k with margin)
  private val GsFilteredBeam = 48

  /** The hash-fixed entry ids of an `n`-vector corpus. */
  private def gsEntryIds(n: Long): Seq[Long] =
    GsEntrySeeds.map(sj => (sj * 2654435761L) % n).distinct

  /** The single-probe search's entries: the hash-fixed ids but vector 0. */
  private def gsEntries(e: DataFrame, n: Long): DataFrame =
    e.select("id").filter(col("id").isin(gsEntryIds(n).filterNot(_ == 0L): _*))

  /** The single-probe search's query: vector 0 as `qv`. */
  private def gsQuery(e: DataFrame): DataFrame =
    e.filter(col("id") === 0L).select(col("v").as("qv"))

  /** Scores candidate rows (`keys` ++ id) against their probe's `qv`. */
  private def gsScore(e: DataFrame, q: DataFrame, keys: Seq[String])(
      ids: DataFrame): DataFrame = {
    val withQ =
      if (keys.isEmpty) ids.join(e, "id").crossJoin(broadcast(q))
      else ids.join(e, "id").join(broadcast(q), keys)
    withQ.select(keys.map(col) :+ col("id") :+
      cosine(col("v"), col("qv")).as("sim"): _*)
  }

  /** The re-cut of a beam to its top `width` per probe by (sim DESC,
    * id ASC), snapped per hop (the MMR 2^hops lesson). */
  private def gsCut(width: Int, keys: Seq[String])(beam: DataFrame): DataFrame =
    beam.withColumn("rk", row_number().over(Window.partitionBy(keys.map(col): _*)
        .orderBy(col("sim").desc, col("id").asc)))
      .filter(col("rk") <= width).drop("rk")
      .transform(GenSnap.snap)

  /** The deterministic greedy beam search, every probe at once.
    *
    * The scored entries form hop 0's beam; hop h expands only the
    * entrants of hop h − 1 through `adj`, scores the candidates not yet
    * in the probe's beam (never the probe itself) and re-cuts the beam
    * to `width`. The beam's k-th similarity is monotone non-decreasing,
    * so an evicted node never re-enters and the frontier empties. Each
    * hop is one [[graft.graph.Fixpoint]] round whose one count is the
    * hop's entrants: the hop that admits none stops the search, and the
    * hops used (the newest entrant's hop + 1) are recorded under
    * `kernel`. `GsHops` is the oracle's unroll depth (`sqlGsHops`):
    * past it the search throws, or with `quiet` stops there.
    *
    * @param q       one row per probe: `keys` and its vector `qv`.
    * @param entries `keys` and `id`, without the probe's own id.
    * @param keys    the probe key: Nil for the single probe, vector 0.
    * @return the final beam (keys, id, sim, eh) and every row scored
    *         on the way, entries included: a lazy union of shallow joins
    *         off snapped beams, so reading it re-pays each hop's
    *         candidate-sized scoring once, never the search. */
  private[graft] def gsBeam(e: DataFrame, adj: DataFrame, q: DataFrame,
      entries: DataFrame, width: Int, kernel: String, keys: Seq[String] = Nil,
      quiet: Boolean = false): (DataFrame, DataFrame) = {
    val key = keys.map(col)
    val self = keys.headOption.fold(lit(0L))(col)
    val score = gsScore(e, q, keys) _
    val cut = gsCut(width, keys) _
    var scoredAll = score(entries).withColumn("eh", lit(0))
    var beam = cut(scoredAll)
    graft.graph.Fixpoint.run(kernel, GsHops,
        hint = "raise GsHops (and the oracle unroll)") { h =>
      val cand = beam.filter(col("eh") === h - 1)
        .select(key :+ col("id").as("src"): _*)
        .join(adj, "src").select(key :+ col("dst").as("id"): _*)
        .filter(col("id") =!= self).distinct()
        .join(beam.select(key :+ col("id"): _*), keys :+ "id", "left_anti")
      val scored = score(cand).withColumn("eh", lit(h))
      scoredAll = scoredAll.unionByName(scored)
      beam = cut(beam.unionByName(scored))
      graft.graph.Fixpoint.Round(beam.filter(col("eh") === h),
        done = c => c == 0L || quiet && h == GsHops)
    }
    (beam, scoredAll)
  }

  /** The single-probe search served from a published BUCKETED adjacency
    * table: [[gsBeam]]'s hops and result, but each hop's frontier ids
    * (≤ width rows, a bounded driver collect) are pushed as a literal
    * `src IN (...)`, so the scan prunes to the frontier's buckets
    * instead of reading the artifact per hop (SelectedBucketsCount
    * plan-pinned in Round17Spec). The collect is the hop's one driver
    * action; the hops used are recorded and capped as in [[gsBeam]]. */
  private def gsBeamServe(e: DataFrame, adjT: DataFrame, n: Long,
      width: Int, kernel: String): DataFrame = {
    val score = gsScore(e, gsQuery(e), Nil) _
    val cut = gsCut(width, Nil) _
    var beam = cut(score(gsEntries(e, n)).withColumn("eh", lit(0)))
    def entrants(h: Int): Array[Long] =
      beam.filter(col("eh") === h).select("id").collect().map(_.getLong(0))
    var h = 1
    var frontier = entrants(0)
    while (h <= GsHops && frontier.nonEmpty) {
      val cand = adjT.filter(col("src").isin(frontier: _*)) // bucket-pruned
        .select(col("dst").as("id"))
        .filter(col("id") =!= 0L).distinct()
        .join(beam.select("id"), Seq("id"), "left_anti")
      beam = cut(beam.unionByName(score(cand).withColumn("eh", lit(h))))
      frontier = entrants(h)
      h += 1
    }
    // h − 1 hops ran; a live frontier needed one more
    graft.tools.BoundProbe.record(kernel, if (frontier.isEmpty) h - 1 else h, GsHops)
    require(frontier.isEmpty,
      s"$kernel still live after $GsHops rounds — raise GsHops (and the oracle unroll)")
    beam
  }

  // ── persisted index: build once, serve from storage ─────────────────
  // The descent build is a write-once JOB (bucketed adjacency + 1-row
  // meta), published as a graft.tools.Artifact family, and EVERY
  // graph-search query serves by reading the artifact: nnSearchIndex
  // above is a read-through cache over the published version, so a
  // fresh session pays zero descents for the whole family
  // (single/batch/filtered/routed/sweep/repair/recall tiers), and a
  // churn re-publish (delete-repair below) coexists as version N+1
  // without touching N.

  /** Version token naming the persisted-index layout — derived from
    * EVERY build parameter (descent rounds, build degree, and the seed
    * strides), so a parameter change can never serve a stale artifact. */
  private[graft] def gsIdxToken: String =
    s"ann2r${NnRounds}k${NnKb}s${graft.tools.Artifact.sig(NnStrides)}"

  /** The published adjacency, bucketed by `src`: hop lookups filter
    * `src IN (frontier)`, so a hop reads the frontier's buckets instead
    * of the artifact (at 100 TB, thousands of buckets and a hop reads
    * the beam's few). */
  private[graft] val GsAdj = graft.tools.Artifact.Bucketed("adj", "src", 8,
    "src BIGINT, dst BIGINT, ak STRING")

  /** The base index family; `builds` counts descents written. */
  private[graft] val gsPersist = new graft.tools.Artifact.Family(gsIdxToken)

  /** Deterministic order-independent corpus fingerprint: the meta key
    * the ORACLE uses to pick this dataset's rows out of the durable-dir
    * glob (sf0.001 and sf0.01 share n = 500, so a row count alone cannot
    * disambiguate). floor is exact on both engines and the float32→
    * double widening plus the ·1e6 product round identically (IEEE), so
    * Spark's stored value and DuckDB's recomputed one agree bit-for-bit. */
  private def fpTerm: Column =
    (col("vec_id") + lit(1L)) *
      floor(element_at(vec(col("embedding")), 1) * lit(1e6))
  private def sqlFpTerm: String =
    "(vec_id + 1) * CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000000.0) AS BIGINT)"

  /** The vector families' content key: (n, fp) of the full corpus, in
    * one 1-row driver boundary. */
  private[graft] def corpusKey(s: SparkSession, d: String): graft.tools.Artifact.Key = {
    val (fp, n) = corpusFpN(s, d)
    Seq("n" -> n, "fp" -> fp)
  }

  /** (full-corpus fingerprint, n) in one 1-row driver boundary. */
  private[graft] def corpusFpN(s: SparkSession, d: String): (Long, Long) = {
    val r = embeddings(s, d)
      .agg(sum(fpTerm).as("fp"), count(lit(1)).as("n")).head()
    (r.getLong(0), r.getLong(1))
  }

  private[graft] def sqlCorpusFingerprint: String = s"CAST(sum($sqlFpTerm) AS BIGINT)"

  /** Writes one index version's bucketed `adj` (src, dst, ak). */
  private def gsWriteAdj(adj: DataFrame, stage: String, ak: String): Unit =
    GsAdj.write(adj.select(col("src"), col("dst"), lit(ak).as("ak")), stage)

  /** The published artifact dir serving this dataset's CURRENT corpus,
    * built (one descent) on a miss. */
  private[graft] def gsPersistedIndex(s: SparkSession, d: String): String =
    gsPersist(s, d)(corpusKey(s, d)) { (stage, ak) =>
      val (eB, _, adjB) = nnIndexBuild(s, d)
      gsWriteAdj(adjB, stage, ak)
      // the build's caches are scaffolding once the artifact exists —
      // serving reads the parquet back (nnSearchIndex), not these
      adjB.unpersist(); eB.unpersist()
    }

  // ── index maintenance under churn: deletions (VERDICT-r15 task 7) ──
  /** Deterministic ~5% tombstone slice; the query vector (id 0) is
    * never deleted. */
  private def gsTombPred(id: Column): Column =
    Tables.detHash(id) % 20 === lit(7L) && id =!= lit(0L)
  private def sqlGsTombPred(id: String): String =
    s"(${Tables.detHashSql(id)}) % 20 = 7 AND $id <> 0"

  /** Tombstone + repair over the built index (the FreshDiskANN
    * delete-consolidation shape): survivors keep their surviving
    * neighbors untouched; a node that LOST a neighbor t adopts
    * candidates from t's own adjacency list and its list alone is
    * re-scored and re-cut to the build degree. Work is DELETE-BATCH
    * LOCAL — candidate volume ≤ (edges into tombstones) × degree, and
    * only affected nodes' lists are re-scored; never corpus², never an
    * index-wide rescore. Returns (survivor corpus, full-corpus n for
    * the entry hash, repaired adjacency). One repair per (session, dir)
    * — the nnSearchIndex memo convention: the post-consolidation
    * adjacency IS the index a production system serves until the next
    * delete batch, so consumers read one materialization. */
  private val gsRepairMemo = graft.SessionMemo[(DataFrame, Long, DataFrame)]()
  private[graft] def gsRepairedIndex(s: SparkSession, d: String): (DataFrame, Long, DataFrame) =
    gsRepairMemo.getOrCompute(s, d) {
      val (eS, n, adj2) = gsRepairBuild(s, d)
      (eS.transform(GenSnap.stage(_)), n, adj2.transform(GenSnap.stage(_)))
    }

  private def gsRepairBuild(s: SparkSession, d: String): (DataFrame, Long, DataFrame) = {
    val (e, n, adj) = nnSearchIndex(s, d)
    val tomb = e.select("id").filter(gsTombPred(col("id")))
    val eS = e.join(tomb, Seq("id"), "left_anti")
    val adjS = adj.join(tomb.select(col("id").as("src")), Seq("src"), "left_anti")
    val lost = adjS.join(tomb.select(col("id").as("dst")), "dst")
      .select("src", "dst")
    val surv = adjS.join(tomb.select(col("id").as("dst")), Seq("dst"), "left_anti")
      .select("src", "dst")
    val aff = lost.select("src").distinct()
    val cand = lost.select(col("src"), col("dst").as("t"))
      .join(adj.select(col("src").as("t"), col("dst").as("w")), "t")
      .select(col("src"), col("w").as("dst"))
      .filter(col("dst") =!= col("src"))
      .join(tomb.select(col("id").as("dst")), Seq("dst"), "left_anti")
      .select("src", "dst")
    val pool = surv.join(aff, "src").select("src", "dst")
      .union(cand).distinct()
    val scored = pool
      .join(eS.select(col("id").as("src"), col("v").as("va")), "src")
      .join(eS.select(col("id").as("dst"), col("v").as("vb")), "dst")
      .select(col("src"), col("dst"), cosine(col("va"), col("vb")).as("sim"))
    val rep = scored.withColumn("rk", row_number().over(
        Window.partitionBy("src").orderBy(col("sim").desc, col("dst").asc)))
      .filter(col("rk") <= NnKb).select("src", "dst")
    val adj2 = surv.join(aff, Seq("src"), "left_anti").select("src", "dst")
      .union(rep).transform(GenSnap.snap)
    (eS, n, adj2)
  }

  /** Spec-only floor: rebuild the index FROM SCRATCH on the survivor
    * corpus (same descent, same seeds modulo the full id space — holes
    * drop in the scoring join) and search it; returns exact-top-10 hits.
    * Round16Spec pins the repaired index's recall ≥ this floor — repair
    * must not be worse than paying the full rebuild. */
  private[graft] def gsRebuiltRecallFloor(s: SparkSession, d: String): Long = {
    val (e, n, _) = nnSearchIndex(s, d)
    val eS = e.join(e.select("id").filter(gsTombPred(col("id"))), Seq("id"), "left_anti")
      .transform(GenSnap.stage(_))
    val adj = nnDescent(eS, n).filter(col("rk") <= NnKb).select("src", "dst")
    val query = gsQuery(eS)
    val (beam, _) = gsBeam(eS, adj, query, gsEntries(eS, n), GsBeam,
      "graph_beam_search_rebuilt", quiet = true)
    val truth = eS.filter(col("id") =!= 0L).crossJoin(broadcast(query))
      .select(col("id"), cosine(col("v"), col("qv")).as("ts"))
      .orderBy(col("ts").desc, col("id").asc).limit(10).select("id")
    val w = Window.orderBy(col("sim").desc, col("id").asc)
    beam.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .join(truth, "id").count()
  }

  // ── churn re-publish: version N → N+1 ───────────────────────────────
  // Production consolidation does not discard its work: after a delete
  // batch, the REPAIRED adjacency is published as the next version
  // under the base index's token and serving picks it up by content —
  // the survivor corpus's fingerprint matches only the repaired
  // version, so full-corpus queries keep serving version N untouched
  // while post-churn queries serve N+1, and a fresh session serves the
  // repaired index with zero descents AND zero repairs.

  /** The repaired index, under the base token but its own content key;
    * `builds` counts repairs published. */
  private[graft] val gsRepairPub = new graft.tools.Artifact.Family(gsIdxToken)

  /** (survivor-corpus fingerprint, full-corpus n) — the repaired
    * version's meta key: fp over SURVIVORS only (the corpus state this
    * version serves), n over the full id space (the entry-hash domain,
    * unchanged by deletes). */
  private[graft] def survivorFpN(s: SparkSession, d: String): (Long, Long) = {
    val r = embeddings(s, d).agg(
      sum(when(!gsTombPred(col("vec_id")), fpTerm)).as("fp"),
      count(lit(1)).as("n")).head()
    (r.getLong(0), r.getLong(1))
  }
  private[graft] def sqlSurvivorFingerprint: String =
    s"CAST(sum(CASE WHEN NOT (${sqlGsTombPred("vec_id")}) THEN $sqlFpTerm END) AS BIGINT)"

  /** The published version serving the POST-DELETE corpus, repaired from
    * the served base index on a miss. */
  private[graft] def gsRepairPublished(s: SparkSession, d: String): String =
    gsRepairPub(s, d) {
      val (fp, n) = survivorFpN(s, d)
      Seq("n" -> n, "fp" -> fp)
    } { (stage, ak) => gsWriteAdj(gsRepairedIndex(s, d)._3, stage, ak) }

  // ── ingestion re-publish: insert batch → version N+1 ───────────────
  // The churn loop's other half: ann_nndescent_incremental proves the
  // batch-local descent math (its oracle replays the old build AND every
  // incremental round), but a production ingestion does not discard the
  // merged graph — it PUBLISHES it and serves the post-insert state from
  // storage. The merged graph is a separate artifact FAMILY (its content
  // differs from the base descent index over the same corpus: old-graph
  // rounds + batch rounds + emit degree k, not the 4-round degree-2k
  // build), so its token folds every one of ITS build inputs and the
  // base family's versions are never shadowed.

  /** Batch-local descent rounds for an incoming ingestion batch. */
  private val GsIncRounds = 3

  /** Version token of the post-insert merged-graph family — folds every
    * build input (old-graph rounds, incremental rounds, build + emit
    * degrees, seed strides), so a parameter change misses instead of
    * serving an artifact written under the old parameters. */
  private[graft] def gsIncToken: String =
    s"anninc${NnOldRounds}i${GsIncRounds}k${NnK}b${NnKb}s${graft.tools.Artifact.sig(NnStrides)}"

  /** Spec probe: how many times this process ran the incremental merge
    * (old-graph build + batch rounds) — the serve path must pay zero. */
  private[graft] val gsIncBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The post-insert merged KNN graph at emit degree k: the existing
    * corpus's persisted degree-2k graph (nnExistingGraph), the incoming
    * ~10% batch seeded against the full corpus and descended
    * [[GsIncRounds]] rounds touching only batch-adjacent candidates,
    * then one merge — old lists ∪ reverse of the batch edges ∪ the
    * batch lists, re-ranked once. One build per (session, dir); the
    * publish path below writes THIS frame, so the artifact and the
    * oracle-checked ann_nndescent_incremental rows are the same bytes.
    * @return (src, dst, sim, rk) with rk ≤ emit degree. */
  private val gsIncMemo = graft.SessionMemo[DataFrame]()
  private[graft] def gsIncMergedGraph(s: SparkSession, d: String): DataFrame =
    gsIncMemo.getOrCompute(s, d) {
      gsIncBuilds.incrementAndGet()
      val isNew = col("id") % 10 === 7
      val (e, n, gOld) = nnExistingGraph(s, d)
      // incoming batch: stride seeds into the full corpus, then
      // GsIncRounds of batch-local descent
      var bn = strideSeeds(e.filter(isNew), n)
        .filter(col("src") =!= col("dst"))
        .join(e.select(col("id").as("dst")), "dst") // drop non-existent targets
        .select(col("src"), col("dst"), lit(0.0).as("sim"))
        .transform(GenSnap.snap)
      for (r <- 1 to GsIncRounds) {
        val mNew = bn.select(col("dst").as("piv"), col("src").as("nbr"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("piv").orderBy(
              ((col("nbr") + lit(r.toLong)) * lit(2654435761L) % lit(4294967296L)).asc,
              col("nbr").asc)))
          .filter(col("rk") <= NnKb).drop("rk")
        // pivots' own adjacency: existing graph ∪ current batch edges
        // (src sides are disjoint — old vs new — so no dedup needed)
        val gAll = gOld.select("src", "dst").union(bn.select("src", "dst"))
        val mFwd = mNew.select("piv").distinct()
          .join(gAll.select(col("src").as("piv"), col("dst").as("nbr")), "piv")
        val members = mNew.union(mFwd).distinct()
        val cand = mNew.select(col("piv"), col("nbr").as("src"))
          .join(members.select(col("piv"), col("nbr").as("dst")), "piv")
          .filter(col("src") =!= col("dst"))
          .select("src", "dst")
          .union(bn.select("src", "dst"))
          .distinct()
        bn = cand
          .join(e.select(col("id").as("src"), col("v").as("va")), "src")
          .join(e.select(col("id").as("dst"), col("v").as("vb")), "dst")
          .select(col("src"), col("dst"), cosine(col("va"), col("vb")).as("sim"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("src").orderBy(col("sim").desc, col("dst").asc)))
          .filter(col("rk") <= NnKb).select("src", "dst", "sim")
          .transform(GenSnap.snap)
      }
      // merge: old lists ∪ reverse of the batch edges (old nodes gain
      // new arrivals that beat their k-th; new-new reverse edges flow
      // into new nodes the same way) ∪ the batch lists, one re-rank
      val rev = bn.select(col("dst").as("src"), col("src").as("dst"), col("sim"))
      gOld.union(rev).union(bn)
        .groupBy("src", "dst").agg(max("sim").as("sim"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("src").orderBy(col("sim").desc, col("dst").asc)))
        .filter(col("rk") <= NnK)
        .transform(GenSnap.stage(_))
    }

  /** The post-insert family; `builds` counts merges published. */
  private[graft] val gsInsertPub = new graft.tools.Artifact.Family(gsIncToken)

  /** The published version serving the POST-INSERT corpus, merged (old
    * graph + batch rounds) on a miss. */
  private[graft] def gsInsertPublished(s: SparkSession, d: String): String =
    gsInsertPub(s, d)(corpusKey(s, d)) { (stage, ak) =>
      gsWriteAdj(gsIncMergedGraph(s, d), stage, ak)
    }

  /** The oracle-side serve prefix for the POST-INSERT family: identical
    * shape to [[sqlGsPersistedCtes]] but the glob reads the incremental
    * token's versions — the recomputed full-corpus fingerprint selects
    * the merged graph this dataset's ingestion published. */
  private def sqlGsIncPersistedCtes: String = {
    val glob = s"${System.getProperty("java.io.tmpdir")}/graft_idx_${gsIncToken}_*"
    s"""e AS MATERIALIZED (
       |  SELECT vec_id AS id, ${sqlVec("embedding")} AS v FROM embeddings),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |cfp AS (SELECT $sqlCorpusFingerprint AS fp FROM embeddings),
       |meta AS (SELECT ak FROM read_parquet('$glob/meta/*.parquet')
       |         WHERE fp = (SELECT fp FROM cfp)
       |           AND n = (SELECT n FROM n)
       |         ORDER BY ak LIMIT 1),
       |adj AS MATERIALIZED (
       |  SELECT src, dst FROM read_parquet('$glob/adj/*.parquet')
       |  WHERE ak = (SELECT ak FROM meta)),
       |q AS (SELECT v AS qv FROM e WHERE id = 0),
       |ent AS (SELECT DISTINCT (s2.s * 2654435761) % n.n AS id
       |        FROM (VALUES ${GsEntrySeeds.map(x => s"($x)").mkString(", ")}) s2(s)
       |        CROSS JOIN n
       |        WHERE (s2.s * 2654435761) % n.n <> 0)""".stripMargin
  }

  /** The oracle-side serve prefix: corpus/query/entry CTEs as in
    * [[sqlGsIndexCtes]], but `adj` READS THE PUBLISHED ARTIFACT (the
    * same parquet the Spark side serves from) instead of replaying the
    * descent — the freshly recomputed corpus fingerprint selects this
    * dataset's version out of the durable-dir glob, and the chosen
    * meta row's publish-unique `ak` selects exactly that version's adj
    * rows. Two fp-matching versions hold identical deterministic
    * content; `ORDER BY ak LIMIT 1` keeps the scalar subquery
    * single-row either way. Shared by every serve-path
    * oracle in the family (single/batch/filtered/routed/sweep) —
    * artifact-content correctness is anchored transitively by
    * ann_graph_search's full descent-replay oracle, whose Spark side
    * serves the same artifact. */
  private def sqlGsPersistedCtes: String = {
    val glob = s"${System.getProperty("java.io.tmpdir")}/graft_idx_${gsIdxToken}_*"
    s"""e AS MATERIALIZED (
       |  SELECT vec_id AS id, ${sqlVec("embedding")} AS v FROM embeddings),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |cfp AS (SELECT $sqlCorpusFingerprint AS fp FROM embeddings),
       |meta AS (SELECT ak FROM read_parquet('$glob/meta/*.parquet')
       |         WHERE fp = (SELECT fp FROM cfp)
       |           AND n = (SELECT n FROM n)
       |         ORDER BY ak LIMIT 1),
       |adj AS MATERIALIZED (
       |  SELECT src, dst FROM read_parquet('$glob/adj/*.parquet')
       |  WHERE ak = (SELECT ak FROM meta)),
       |q AS (SELECT v AS qv FROM e WHERE id = 0),
       |ent AS (SELECT DISTINCT (s2.s * 2654435761) % n.n AS id
       |        FROM (VALUES ${GsEntrySeeds.map(x => s"($x)").mkString(", ")}) s2(s)
       |        CROSS JOIN n
       |        WHERE (s2.s * 2654435761) % n.n <> 0)""".stripMargin
  }

  /** The oracle twin of [[gsBeam]]: the hop CTE chain at the given
    * width, reading index CTEs `$adjRel`/`$eRel`/`q`/`ent` (defaults =
    * the shared build CTE names; the delete-repair oracle re-points them
    * at the repaired adjacency and the survivor corpus), emitting beam
    * CTEs `$pfx0..$pfx$GsHops`. */
  private def sqlGsHops(width: Int, pfx: String,
      adjRel: String = "adj", eRel: String = "e",
      entRel: String = "ent"): String = {
    val c = sqlCosine(s"$eRel.v", "q.qv")
    val s0 =
      s"""s${pfx}0 AS (SELECT $eRel.id, $c AS sim, 0 AS eh
         |       FROM $entRel JOIN $eRel ON $eRel.id = $entRel.id CROSS JOIN q),
         |${pfx}0 AS MATERIALIZED (SELECT id, sim, eh FROM (
         |  SELECT id, sim, eh, row_number() OVER (ORDER BY sim DESC, id ASC) AS rk
         |  FROM s${pfx}0) WHERE rk <= $width)""".stripMargin
    val hops = (1 to GsHops).map { h =>
      s"""f$pfx$h AS (SELECT id AS src FROM $pfx${h - 1} WHERE eh = ${h - 1}),
         |c$pfx$h AS (SELECT DISTINCT $adjRel.dst AS id FROM f$pfx$h JOIN $adjRel ON $adjRel.src = f$pfx$h.src
         |        WHERE $adjRel.dst <> 0 AND $adjRel.dst NOT IN (SELECT id FROM $pfx${h - 1})),
         |s$pfx$h AS (SELECT cc.id, $c AS sim, $h AS eh
         |        FROM c$pfx$h cc JOIN $eRel ON $eRel.id = cc.id CROSS JOIN q),
         |$pfx$h AS MATERIALIZED (SELECT id, sim, eh FROM (
         |  SELECT id, sim, eh, row_number() OVER (ORDER BY sim DESC, id ASC) AS rk
         |  FROM (SELECT * FROM $pfx${h - 1} UNION ALL SELECT * FROM s$pfx$h))
         |  WHERE rk <= $width)""".stripMargin
    }.mkString(",\n")
    s0 + ",\n" + hops
  }

  /** The shared index + query + entry CTEs for the search oracles:
    * the full-corpus descent build at degree 2k (`adj`), corpus `e`,
    * 1-row `q`, entry set `ent`. */
  private def sqlGsIndexCtes: String = {
    val rounds = (1 to NnRounds)
      .map(r => sqlNnRound(r, s"b${r - 1}", s"b$r", "e")).mkString(",\n")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id AS id, ${sqlVec("embedding")} AS v FROM embeddings),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |st(s) AS (VALUES ${NnStrides.map(x => s"($x)").mkString(", ")}),
       |b0 AS MATERIALIZED (
       |  SELECT id AS src, (id + s) % n AS dst FROM e CROSS JOIN n CROSS JOIN st),
       |$rounds,
       |adj AS MATERIALIZED (SELECT src, dst FROM rk_b$NnRounds WHERE rk <= $NnKb),
       |q AS (SELECT v AS qv FROM e WHERE id = 0),
       |ent AS (SELECT DISTINCT (s2.s * 2654435761) % n.n AS id
       |        FROM (VALUES ${GsEntrySeeds.map(x => s"($x)").mkString(", ")}) s2(s)
       |        CROSS JOIN n
       |        WHERE (s2.s * 2654435761) % n.n <> 0)""".stripMargin
  }

  // ── random-hyperplane LSH (shared by ann_lsh_buckets / ann_lsh_topk) ─
  // Hyperplane coefficients are Knuth-multiplicative-hash values mapped
  // to [-0.5, 0.5): k/2^32 − 0.5 is exactly representable in double, and
  // the SQL side embeds the LITERAL decimal text printed from these same
  // doubles (shortest round-trip repr → DuckDB parses back the identical
  // bits). No per-row trig, no libm-parity dependence — the plane array
  // is a plan literal evaluated once, not 512 sin() calls per row.
  // Seed = j·64+i (unique per plane/coordinate), then a xorshift-multiply
  // mix: a LINEAR seed (a·j + b·i) makes plane pairs shifted copies of
  // each other (seed(j,i) = seed(j+7, i−31) under the old 31j+7i form),
  // so the L "independent" tables shared projections and the
  // 1−(1−p^k)^L recall model overestimated. The mix breaks the lattice.
  private[graft] def hyperplane(j: Int): Array[Double] =
    Array.tabulate(64) { i =>
      var h = ((j.toLong * 64 + i + 1) * 2654435761L) % 4294967296L
      h = ((h ^ (h >> 16)) * 2246822519L) % 4294967296L
      h = h ^ (h >> 13)
      h.toDouble / 4294967296.0 - 0.5
    }

  /** Bucket id from a plane set: bit b = sign of the projection onto
    * planes(b). */
  private def lshBucketOf(v: Column, planes: Seq[Int]): Column =
    planes.zipWithIndex.map { case (p, bit) =>
      val proj = seqSum(zip_with(v, typedLit(hyperplane(p)), (x, w) => x * w))
      when(proj > 0, 1 << bit).otherwise(0)
    }.reduce(_ + _)

  private def sqlLshBucketOf(vexpr: String, planes: Seq[Int]): String =
    planes.zipWithIndex.map { case (p, bit) =>
      val planeLit = "[" + hyperplane(p).map(_.toString).mkString(", ") + "]"
      val proj = sqlSeqSum(s"list_transform(list_zip($vexpr, $planeLit), p -> p[1] * p[2])")
      s"(CASE WHEN $proj > 0 THEN ${1 << bit} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Similarity radius for `ann_range_search` — sized to return a
    * moderate neighbor set on this corpus (tens of rows at sf0.01); a
    * deployment sets it from its own similarity distribution.
    * VectorSpec asserts no corpus cosine lands exactly on τ, so the
    * cut is knife-edge-free on both engines. */
  private[graft] val RangeTau = 0.2

  /** Single-table 8-bit bucket (the ann_lsh_buckets histogram surface). */
  private[graft] def lshBucket(v: Column): Column = lshBucketOf(v, 1 to 8)
  private[graft] def sqlLshBucket(vexpr: String): String = sqlLshBucketOf(vexpr, 1 to 8)

  // Multi-table LSH for the top-k probe: L tables of k bits each. One
  // table of b bits has collision probability p^b per neighbor (p =
  // 1 − θ/π per plane), near zero for useful b — the standard fix is L
  // independent tables probed together (recall 1 − (1 − p^k)^L). Tuned
  // k=4/L=8 for the harness corpus; both are literals a deployment sizes
  // to its own sim distribution.
  private[graft] val LshTables = 8
  private[graft] val LshBits = 4
  private def tablePlanes(t: Int): Seq[Int] = (t * LshBits + 1) to (t * LshBits + LshBits)
  private[graft] def lshTableBucket(v: Column, t: Int): Column = lshBucketOf(v, tablePlanes(t))
  private[graft] def sqlLshTableBucket(vexpr: String, t: Int): String =
    sqlLshBucketOf(vexpr, tablePlanes(t))

  // ── persisted LSH cells: the online-serving index family ────────────
  // ann_lsh_topk's (table, bucket) cells, built once per corpus and
  // PUBLISHED bucketed by the combined cell key — the serve path's
  // `cell IN (probe cells)` filter prunes to ≤ L of the storage buckets
  // (the VectorSpec "LSH cells stored bucketed" shape, productized), and
  // the STREAMING serve (Streams.annTopkVerdicts) reads the same
  // artifact as its stream-static side.

  private[graft] val LshCellBuckets = 32
  private val LshCells = graft.tools.Artifact.Bucketed("cells", "cell", LshCellBuckets,
    "vec_id BIGINT, v ARRAY<DOUBLE>, cell INT, ak STRING")

  /** Version token of the LSH-cells family — the planes are a pure
    * function of (tables, bits) via [[hyperplane]], so the token folds
    * every build input. */
  private[graft] def lshToken: String =
    s"lsht${LshTables}b${LshBits}c$LshCellBuckets"

  /** The LSH-cells family; `builds` counts corpus cell-builds. */
  private[graft] val lshPersist = new graft.tools.Artifact.Family(lshToken)

  /** (vec_id, v, cell), one row per (vector, table): cell = tbl·256 +
    * bucket — a single column so Spark bucket-prunes the probe's IN
    * filter (multi-column bucketing never prunes). */
  private def lshCellsOf(df: DataFrame): DataFrame =
    df.select(col("vec_id"), vec(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"),
        explode(array((0 until LshTables).map(t =>
          lit(t * 256) + lshTableBucket(col("v"), t)): _*)).as("cell"))

  /** The published version serving this corpus's LSH cells, built (one
    * corpus pass) on a miss. */
  private[graft] def lshPersistedCells(s: SparkSession, d: String): String =
    lshPersist(s, d)(corpusKey(s, d)) { (stage, ak) =>
      LshCells.write(lshCellsOf(embeddings(s, d)).withColumn("ak", lit(ak)), stage)
    }

  // ── product-quantization kernel (benched path of ann_pq_topk) ────────
  final case class PqScore(vec_id: Long, adist: Double)

  /** PQ encode + asymmetric-distance scoring as a typed per-partition
    * kernel: the 16-entry codebook (deterministic hash-ordered seeds,
    * cid-sorted) and the query vector are collected at the driver — the
    * same k-row loop-state boundary KMeans.run uses — and broadcast; each
    * corpus row is encoded and scored in one narrow pass of while-loops.
    * Fold order matches [[pqTopkHof]] exactly: per-subspace ‖·‖² is a
    * left-to-right sum over the 8 dims, the argmin's strict `<` keeps
    * the lowest code index on ties (array_min struct semantics), and
    * adist accumulates subspaces m = 0..7 in order — bit-identical to
    * the HOF form and the DuckDB oracle. */
  private[graft] def pqTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val cb: Array[Array[Double]] = graft.cluster.KMeans.initCentroids(e, 16)
      .collect()
      .map(r => r.getAs[Long]("cid") ->
        r.getAs[scala.collection.Seq[Double]]("cv").toArray)
      .sortBy(_._1).map(_._2)
    val qv: Array[Double] = e.filter(col("vec_id") === 0L)
      .select(vec(col("embedding")))
      .head().getAs[scala.collection.Seq[Double]](0).toArray
    val bcb = s.sparkContext.broadcast(cb)
    val bq = s.sparkContext.broadcast(qv)
    e.filter(col("vec_id") =!= 0L)
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val codebook = bcb.value
        val q = bq.value
        def l2sub(a: Array[Double], b: Array[Double], m: Int): Double = {
          var sum = 0.0
          var i = 0
          while (i < 8) {
            val dd = a(m * 8 + i) - b(m * 8 + i)
            sum += dd * dd
            i += 1
          }
          sum
        }
        it.map { case (id, v) =>
          var adist = 0.0
          var m = 0
          while (m < 8) {
            var bestD = Double.PositiveInfinity
            var bestC = 0
            var ci = 0
            while (ci < codebook.length) {
              val dd = l2sub(v, codebook(ci), m)
              if (dd < bestD) { bestD = dd; bestC = ci }
              ci += 1
            }
            adist += l2sub(q, codebook(bestC), m)
            m += 1
          }
          PqScore(id, adist)
        }
      }
      .toDF()
      .orderBy(col("adist").asc, col("vec_id").asc)
      .limit(10)
  }

  /** The original declarative PQ composition — the oracle's structural
    * mirror, kept as the bit-parity witness for [[pqTopk]] (VectorSpec
    * asserts kernel ≡ HOF on collected rows). */
  private[graft] def pqTopkHof(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cb = graft.cluster.KMeans.initCentroids(e, 16)
      .groupBy().agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("cb"))
    val q = e.filter(col("vec_id") === 0L).select(vec(col("embedding")).as("qv"))
    // ‖a_m − b_m‖² over subspace m (dims m·8+1 .. m·8+8, 1-indexed)
    def l2sub(a: Column, b: Column, m: Column): Column =
      seqSum(transform(sequence(lit(1), lit(8)), i => {
        val ix = (m * 8 + i).cast("int")
        val dd = element_at(a, ix) - element_at(b, ix)
        dd * dd
      }))
    e.filter(col("vec_id") =!= 0L)
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .crossJoin(broadcast(cb)).crossJoin(broadcast(q))
      .select(col("vec_id"), col("cb"), col("qv"),
        transform(sequence(lit(0), lit(7)), m =>
          array_min(transform(sequence(lit(1), lit(16)), ci => struct(
            l2sub(col("v"),
              element_at(col("cb"), ci.cast("int")).getField("cv"), m).as("dist"),
            ci.as("ci")))).getField("ci")).as("codes"))
      .select(col("vec_id"),
        seqSum(transform(sequence(lit(0), lit(7)), m =>
          l2sub(col("qv"),
            element_at(col("cb"),
              element_at(col("codes"), (m + 1).cast("int")).cast("int"))
              .getField("cv"), m))).as("adist"))
      .orderBy(col("adist").asc, col("vec_id").asc)
      .limit(10)
  }

  // ── residual-quantization kernel (benched path of ann_rq_topk) ──────
  final case class RqScore(vec_id: Long, adist: Double)

  /** RQ encode + asymmetric-distance scoring as a typed per-partition
    * kernel (the pqTopk convention — the interpreted HOF form measured
    * 5.2 s at sf0.1, the kernel < 1 s): the 32 unit-normalized picks are
    * collected at the driver (bounded codebook-state boundary), the
    * coarse book is picks 1–16 cid-sorted, the residual book is picks
    * 17–32's residuals computed with the SAME left-to-right folds, and
    * each corpus row is coarse-encoded, residual-PQ-encoded and scored
    * in one narrow pass of while-loops. Fold order matches [[rqTopkHof]]
    * exactly (strict `<` argmins keep the lowest code on ties; sums
    * accumulate dims then subspaces in order) — bit-identical to the
    * HOF form and the DuckDB oracle, pinned in VectorSpec. */
  private[graft] def rqTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val eu = e.select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("u"))
    val picks: Array[(Long, Array[Double])] = eu
      .orderBy(Tables.detHash(col("vec_id")), col("vec_id")).limit(32)
      .collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Double]](1).toArray)
    def l2full(a: Array[Double], b: Array[Double]): Double = {
      var sum = 0.0
      var i = 0
      while (i < 64) { val dd = a(i) - b(i); sum += dd * dd; i += 1 }
      sum
    }
    val cb1: Array[Array[Double]] = picks.take(16).sortBy(_._1).map(_._2)
    def enc1(u: Array[Double]): Int = {
      var best = Double.PositiveInfinity; var bi = 0; var ci = 0
      while (ci < 16) {
        val dd = l2full(u, cb1(ci))
        if (dd < best) { best = dd; bi = ci }
        ci += 1
      }
      bi
    }
    val cb2: Array[Array[Double]] = picks.drop(16).sortBy(_._1).map { case (_, u) =>
      val c = cb1(enc1(u))
      val r = new Array[Double](64)
      var i = 0
      while (i < 64) { r(i) = u(i) - c(i); i += 1 }
      r
    }
    val qu: Array[Double] = eu.filter(col("vec_id") === 0L)
      .head().getAs[scala.collection.Seq[Double]](1).toArray
    val bcb1 = s.sparkContext.broadcast(cb1)
    val bcb2 = s.sparkContext.broadcast(cb2)
    val bq = s.sparkContext.broadcast(qu)
    eu.filter(col("vec_id") =!= 0L)
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val c1b = bcb1.value; val c2b = bcb2.value; val q = bq.value
        def l2f(a: Array[Double], b: Array[Double]): Double = {
          var sum = 0.0; var i = 0
          while (i < 64) { val dd = a(i) - b(i); sum += dd * dd; i += 1 }
          sum
        }
        it.map { case (id, u) =>
          var best = Double.PositiveInfinity; var c1 = 0; var ci = 0
          while (ci < 16) {
            val dd = l2f(u, c1b(ci))
            if (dd < best) { best = dd; c1 = ci }
            ci += 1
          }
          val cv1 = c1b(c1)
          var adist = 0.0
          var m = 0
          while (m < 8) {
            var bd = Double.PositiveInfinity; var c2 = 0; var cj = 0
            while (cj < 16) {
              var dsum = 0.0; var i = 0
              while (i < 8) {
                val ix = m * 8 + i
                val dd = (u(ix) - cv1(ix)) - c2b(cj)(ix)
                dsum += dd * dd
                i += 1
              }
              if (dsum < bd) { bd = dsum; c2 = cj }
              cj += 1
            }
            var asum = 0.0; var i = 0
            while (i < 8) {
              val ix = m * 8 + i
              val dd = q(ix) - cv1(ix) - c2b(c2)(ix)
              asum += dd * dd
              i += 1
            }
            adist += asum
            m += 1
          }
          RqScore(id, adist)
        }
      }
      .toDF()
      .orderBy(col("adist").asc, col("vec_id").asc)
      .limit(10)
  }

  /** The declarative RQ composition — the oracle's structural mirror,
    * kept as the bit-parity witness for [[rqTopk]] (VectorSpec asserts
    * kernel ≡ HOF, the pqTopkHof convention). */
  private[graft] def rqTopkHof(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val eu = e.select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("u"))
    // limit-then-rank (the initCentroids TakeOrderedAndProject shape):
    // the 32 picks are cut with orderBy+limit so the rank window runs
    // over 32 rows, never the corpus (PlanSpec sweep)
    val pk = eu.orderBy(Tables.detHash(col("vec_id")), col("vec_id")).limit(32)
      .withColumn("rn", row_number().over(
        Window.orderBy(Tables.detHash(col("vec_id")), col("vec_id"))))
    // full-vector ‖a−b‖² (left-to-right over the 64 dims)
    def l2full(a: Column, b: Column): Column =
      seqSum(transform(sequence(lit(1), lit(64)), i => {
        val dd = element_at(a, i.cast("int")) - element_at(b, i.cast("int"))
        dd * dd
      }))
    // ‖a_m − b_m‖² over subspace m (dims m·8+1 .. m·8+8)
    def l2sub(a: Column, b: Column, m: Column): Column =
      seqSum(transform(sequence(lit(1), lit(8)), i => {
        val ix = (m * 8 + i).cast("int")
        val dd = element_at(a, ix) - element_at(b, ix)
        dd * dd
      }))
    def argmin16(dist: Column => Column): Column =
      array_min(transform(sequence(lit(1), lit(16)), ci =>
        struct(dist(ci).as("dist"), ci.as("ci")))).getField("ci")
    val cb1 = pk.filter(col("rn") <= 16)
      .select(col("vec_id").as("cid"), col("u").as("cv"))
      .groupBy().agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("cb1"))
    def coarse(u: Column, cb: Column): Column =
      argmin16(ci => l2full(u, element_at(cb, ci.cast("int")).getField("cv")))
    val res = pk.filter(col("rn") > 16)
      .crossJoin(broadcast(cb1))
      .withColumn("c1", coarse(col("u"), col("cb1")))
      .select(col("vec_id").as("cid"),
        transform(sequence(lit(1), lit(64)), i =>
          element_at(col("u"), i.cast("int")) -
            element_at(element_at(col("cb1"), col("c1").cast("int"))
              .getField("cv"), i.cast("int"))).as("cv"))
    val cb2 = res
      .groupBy().agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("cb2"))
    val q = eu.filter(col("vec_id") === 0L).select(col("u").as("qu"))
    eu.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(cb1)).crossJoin(broadcast(cb2))
      .crossJoin(broadcast(q))
      .withColumn("c1", coarse(col("u"), col("cb1")))
      .withColumn("cv1",
        element_at(col("cb1"), col("c1").cast("int")).getField("cv"))
      .withColumn("r", transform(sequence(lit(1), lit(64)), i =>
        element_at(col("u"), i.cast("int")) -
          element_at(col("cv1"), i.cast("int"))))
      .withColumn("codes", transform(sequence(lit(0), lit(7)), m =>
        argmin16(ci => l2sub(col("r"),
          element_at(col("cb2"), ci.cast("int")).getField("cv"), m))))
      .select(col("vec_id"),
        seqSum(transform(sequence(lit(0), lit(7)), m => {
          val c2v = element_at(col("cb2"),
            element_at(col("codes"), (m + 1).cast("int")).cast("int"))
            .getField("cv")
          seqSum(transform(sequence(lit(1), lit(8)), i => {
            val ix = (m * 8 + i).cast("int")
            val dd = element_at(col("qu"), ix) -
              element_at(col("cv1"), ix) - element_at(c2v, ix)
            dd * dd
          }))
        })).as("adist"))
      .orderBy(col("adist").asc, col("vec_id").asc)
      .limit(10)
  }

  // ── scalar quantization (SQ8): unit-normalize → per-dim affine int8 ──
  // The 4×-memory tier of the ANN stack (raw float32 256 B/vector →
  // 64 B/vector): unit-normalize each vector (so quantized-L2 order
  // targets the same cosine ranking the other ANN methods are graded
  // against: ‖a−b‖² = 2−2·cos on unit vectors), then per-dimension
  // affine-quantize to 0..255 against corpus-wide min/max. Two passes,
  // both scale-shaped: pass 1 is one partial-agg'd shuffle of exactly 64
  // groups (per-dim min/max combine map-side); pass 2 broadcasts the
  // 64-row stats table and quantizes in a narrow per-row map. Every op
  // is +,−,×,÷,floor — IEEE-identical in DuckDB, so the codes (and the
  // exact-BIGINT quantized distances built on them) hash-match the
  // oracle bit-for-bit. No transcendentals, no fold-order hazards
  // (the only float fold is the norm, same left-to-right fold as
  // [[sqlNorm]]).
  // Memoized per (session, dir) like the dedup pair set: the quantized
  // corpus is a SHARED artifact (vec_quantize_int8 emits it, ann_sq8_topk
  // reads it for both probe and corpus sides) — in production it's the
  // materialized int8 table, built once. Without the memo the top-k
  // query builds stats + codes twice per run (measured 2.4 s at sf0.1).
  private val sq8Memo = graft.SessionMemo[DataFrame]()

  private[graft] def sq8(s: SparkSession, d: String): DataFrame =
    sq8Memo.getOrCompute(s, d) { sq8Build(s, d).transform(GenSnap.stage(_)) }

  private def sq8Build(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val unit = e
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"), l2norm(col("v")).as("n"))
      .select(col("vec_id"), transform(col("v"), x => x / col("n")).as("u"))
    val dims = unit
      .select(posexplode(col("u")).as(Seq("j", "x")))
      .groupBy("j").agg(min("x").as("mn"), max("x").as("mx"))
    val st = dims.groupBy()
      .agg(sort_array(collect_list(struct(col("j"), col("mn"), col("mx")))).as("st"))
    unit.crossJoin(broadcast(st))
      .select(col("vec_id"),
        transform(sequence(lit(1), lit(64)), i => {
          val f = element_at(col("st"), i.cast("int"))
          val x = element_at(col("u"), i.cast("int"))
          val mn = f.getField("mn")
          val mx = f.getField("mx")
          when(mx === mn, lit(0L)).otherwise(
            least(lit(255L), greatest(lit(0L),
              floor((x - mn) * 255.0 / (mx - mn)).cast("long"))))
        }).as("qv"))
  }

  /** The same two passes as DuckDB CTEs (shared by both SQ8 oracles and
    * the recall report's embedded replay). */
  private[graft] val sqlSq8Ctes: String = {
    val v = sqlVec("embedding")
    s"""unitv AS (
       |  SELECT vec_id, list_transform(t.v, x -> x / m.n) AS u
       |  FROM (SELECT vec_id, $v AS v FROM embeddings) t,
       |    LATERAL (SELECT ${sqlNorm("t.v")} AS n) m),
       |dims AS (
       |  SELECT j, min(u[j]) AS mn, max(u[j]) AS mx
       |  FROM unitv, (SELECT unnest(range(1, 65)) AS j) js
       |  GROUP BY j),
       |stq AS (SELECT list(struct_pack(mn := mn, mx := mx) ORDER BY j) AS st FROM dims),
       |sq8 AS (
       |  SELECT vec_id,
       |    list_transform(range(1, 65), i ->
       |      CASE WHEN stq.st[i].mx = stq.st[i].mn THEN CAST(0 AS BIGINT)
       |           ELSE CAST(least(255, greatest(0,
       |             floor((u[i] - stq.st[i].mn) * 255.0 / (stq.st[i].mx - stq.st[i].mn)))) AS BIGINT)
       |      END) AS qv
       |  FROM unitv, stq)""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    // ── F1 feature stats: mean/std/median/min/max per vector ───────────
    // Reference computes 7 scalar stats per image array
    // (image_classification.py:173-185; corrcoef/cov are degenerate —
    // SURVEY.md Note D — so the well-defined five are computed here).
    // All per-row array math: embarrassingly parallel, no shuffle at all.
    Q(
      "vec_stats",
      (s, d) => {
        val e = embeddings(s, d)
        val v = vec(col("embedding"))
        // mean and the sorted copy are STAGED as real columns in their
        // own select: the std lambda then captures the `mean` attribute
        // (evaluated once per row) instead of the fold expression — HOF
        // lambdas re-evaluate captured subexpressions per element, which
        // would make std O(d²) per row. CollapseProject keeps the stage
        // because mean is referenced twice inside the lambda.
        e.select(col("vec_id"), v.as("v"), array_sort(v).as("sorted"),
            (seqSum(v) / size(v)).as("mean"))
          .select(
            col("vec_id"),
            size(col("v")).as("dim"),
            col("mean"),
            sqrt(seqSum(transform(col("v"),
              x => (x - col("mean")) * (x - col("mean")))) / size(col("v"))).as("std"),
            ((element_at(col("sorted"), 32) + element_at(col("sorted"), 33)) / 2.0).as("median"),
            array_min(col("v")).as("vmin"),
            array_max(col("v")).as("vmax")
          ).orderBy("vec_id")
      },
      Some {
        val v = sqlVec("embedding")
        s"""SELECT vec_id,
           |  len($v) AS dim,
           |  ${sqlSeqSum(v)} / len($v) AS mean,
           |  sqrt(${sqlSeqSum(s"list_transform($v, x -> (x - m.mean) * (x - m.mean))")} / len($v)) AS std,
           |  (list_sort($v)[32] + list_sort($v)[33]) / 2.0 AS median,
           |  list_aggregate($v, 'min') AS vmin,
           |  list_aggregate($v, 'max') AS vmax
           |FROM embeddings,
           |  LATERAL (SELECT ${sqlSeqSum(v)} / len($v) AS mean) m
           |ORDER BY vec_id""".stripMargin
      }
    ),

    // ── Johnson-Lindenstrauss random projection (64 → 16 dims) ─────────
    // The dimensionality-reduction stage ahead of ANN at scale: project
    // onto 16 deterministic ±1 directions (sign = parity of an integer
    // hash of (i, j) — the Achlioptas database-friendly scheme, no
    // stored matrix, reproducible on any engine). Inputs are
    // floor-quantized to 2^20 units so every dot product is an EXACT
    // BIGINT sum (order-free, partial-agg-safe) — bit-identical across
    // engines with no float-fold ceremony. Per-row map + explode; no
    // shuffle except the presentation sort.
    Q(
      "vec_random_projection",
      (s, d) => {
        embeddings(s, d)
          .select(col("vec_id"),
            transform(vec(col("embedding")),
              x => floor(x * 1048576.0).cast("long")).as("q"))
          .select(col("vec_id"), explode(sequence(lit(0), lit(15))).as("j"), col("q"))
          .select(col("vec_id"), col("j"),
            aggregate(
              zip_with(col("q"), sequence(lit(0), size(col("q")) - 1),
                (x, i) => x * when((i * 131071 + col("j") * 524287) % 2 === 0, 1L)
                  .otherwise(-1L)),
              lit(0L), (acc, t) => acc + t).as("y"))
          .orderBy("vec_id", "j")
      },
      Some {
        val v = sqlVec("embedding")
        s"""WITH q AS (
           |  SELECT vec_id,
           |    list_transform($v, x -> CAST(floor(x * 1048576) AS BIGINT)) AS q
           |  FROM embeddings),
           |js AS (SELECT unnest(range(0, 16)) AS j)
           |SELECT vec_id, CAST(js.j AS INT) AS j,
           |  CAST(list_aggregate(list_transform(range(1, len(q.q) + 1),
           |    i -> q.q[i] * CASE WHEN ((i - 1) * 131071 + js.j * 524287) % 2 = 0
           |                       THEN 1 ELSE -1 END), 'sum') AS BIGINT) AS y
           |FROM q, js
           |ORDER BY vec_id, j""".stripMargin
      }
    ),

    // ── F6 cosine + top-k similarity search (brute-force baseline) ─────
    // Query vector = vec_id 0; top 20 most-similar corpus vectors.
    // Physical plan: broadcast 1-row query → BroadcastNestedLoopJoin →
    // TakeOrderedAndProject. The corpus is scanned once, no shuffle;
    // this is the shape that holds at 100 TB (driver merges 32 heaps of
    // 20 rows). The IVF/LSH scale path is ann_lsh_bucketed below.
    Q(
      "ann_bruteforce_topk",
      (s, d) => {
        val e = embeddings(s, d)
        val query = e.filter(col("vec_id") === 0L)
          .select(vec(col("embedding")).as("qv"))
        e.filter(col("vec_id") =!= 0L)
          .crossJoin(broadcast(query))
          .select(col("vec_id"), cosine(vec(col("embedding")), col("qv")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc)
          .limit(20)
      },
      Some {
        val c = sqlCosine(sqlVec("e.embedding"), "q.qv")
        s"""WITH q AS (SELECT ${sqlVec("embedding")} AS qv FROM embeddings WHERE vec_id = 0)
           |SELECT e.vec_id, $c AS sim
           |FROM embeddings e, q WHERE e.vec_id <> 0
           |ORDER BY sim DESC, e.vec_id ASC LIMIT 20""".stripMargin
      }
    ),

    // ── hybrid retrieval: BM25 + vector, reciprocal-rank fusion ────────
    // The production RAG-retrieval shape: a lexical leg (the gated BM25
    // top-20 over documents, Text.bm25Top20 — shared kernel, shared
    // oracle CTEs) and a semantic leg (cosine top-20 vs vec 0, the
    // ann_bruteforce shape) fused by RRF (Cormack et al. 2009):
    // score(d) = Σ_lists 1/(60 + rank_d). Each term is computed as the
    // exact integer floor(1e12/(60+r)) — identical under Spark DIV and
    // DuckDB // — so the fused ranking is hash-exact even though the
    // leg SCORES are floats (only their deterministic RANKS cross into
    // the fusion; rank-not-score is exactly why production systems fuse
    // with RRF instead of score mixing). doc_id ≡ vec_id row-for-row in
    // the test corpus, standing in for the doc↔embedding join key a
    // real store carries. SCALE: each leg is its own top-k (heap-merged,
    // no shuffle); fusion joins two 20-row frames — free at any corpus
    // size; the legs swap to inverted-index / IVF probes at 100 TB
    // without touching the fusion.
    Q(
      "ann_hybrid_rrf",
      (s, d) => {
        val lex = Text.bm25Top20(s, d)
          .withColumn("rl", row_number().over(
            Window.orderBy(col("score").desc, col("doc_id").asc)))
          .select("doc_id", "rl")
        val e = embeddings(s, d)
        val query = e.filter(col("vec_id") === 0L)
          .select(vec(col("embedding")).as("qv"))
        val sem = e.filter(col("vec_id") =!= 0L)
          .crossJoin(broadcast(query))
          .select(col("vec_id").as("doc_id"),
            cosine(vec(col("embedding")), col("qv")).as("sim"))
          .orderBy(col("sim").desc, col("doc_id").asc).limit(20)
          .withColumn("rv", row_number().over(
            Window.orderBy(col("sim").desc, col("doc_id").asc)))
          .select("doc_id", "rv")
        lex.join(sem, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(expr("1000000000000 DIV (60 + rl)"), lit(0L))
              + coalesce(expr("1000000000000 DIV (60 + rv)"), lit(0L))).as("rrf_fp"),
            col("rl").isNotNull.as("in_lex"), col("rv").isNotNull.as("in_vec"))
          .orderBy(col("rrf_fp").desc, col("doc_id").asc)
          .limit(10)
      },
      Some {
        val c = sqlCosine(sqlVec("e.embedding"), "q.qv")
        s"""WITH ${Text.bm25SqlCtes()},
           |lex0 AS (${Text.bm25SelectSql()}),
           |lex AS (SELECT doc_id,
           |          row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rl
           |        FROM lex0),
           |q AS (SELECT ${sqlVec("embedding")} AS qv FROM embeddings WHERE vec_id = 0),
           |sem0 AS (SELECT e.vec_id AS doc_id, $c AS sim
           |         FROM embeddings e, q WHERE e.vec_id <> 0
           |         ORDER BY sim DESC, doc_id ASC LIMIT 20),
           |sem AS (SELECT doc_id,
           |          row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS rv
           |        FROM sem0)
           |SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
           |  coalesce(1000000000000 // (60 + rl), 0)
           |    + coalesce(1000000000000 // (60 + rv), 0) AS rrf_fp,
           |  rl IS NOT NULL AS in_lex, rv IS NOT NULL AS in_vec
           |FROM lex FULL OUTER JOIN sem ON sem.doc_id = lex.doc_id
           |ORDER BY rrf_fp DESC, doc_id ASC LIMIT 10""".stripMargin
      }
    ),

    // ── MMR diversity re-ranking (Carbonell & Goldstein 1998) ──────────
    // The last stage of a production retrieval stack: the raw cosine
    // top-20 is redundancy-heavy, so the emitted list is re-ranked by
    // Maximal Marginal Relevance — greedily pick argmax of
    // 0.5·sim(q,d) − 0.5·max_{s∈S} sim(d,s), 8 picks. The greedy loop
    // unrolls into ONE lazy plan: the candidate pool and its 20×20
    // pairwise-cosine table stage once (GenSnap), then each pick is an
    // anti-join + a grouped max over the selected set + a 1-row top-k —
    // all over ≤ 20-row frames, so the unroll costs nothing at any
    // corpus scale (the corpus is touched only by the initial top-20).
    // Scores are floats but deterministic on both engines: the shared
    // sequential-fold cosine, an order-free MAX over the selected set,
    // and exact-halves 0.5·a − 0.5·b; ties break on vec_id. The first
    // pick's score is its relevance-only 0.5·sim (empty penalty set).
    Q(
      "ann_mmr_rerank",
      (s, d) => {
        val Picks = 8
        val e = embeddings(s, d)
        val query = e.filter(col("vec_id") === 0L)
          .select(vec(col("embedding")).as("qv"))
        val cand = e.filter(col("vec_id") =!= 0L)
          .crossJoin(broadcast(query))
          .select(col("vec_id"), vec(col("embedding")).as("v"),
            cosine(vec(col("embedding")), col("qv")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc).limit(20)
          .transform(GenSnap.snap) // pool + pairwise table read one scan
        val pc = cand.select(col("vec_id").as("a"), col("v").as("va"))
          .crossJoin(cand.select(col("vec_id").as("b"), col("v").as("vb")))
          .filter(col("a") =!= col("b"))
          .select(col("a"), col("b"), cosine(col("va"), col("vb")).as("ps"))
          .transform(GenSnap.snap)
        var sel = cand.orderBy(col("sim").desc, col("vec_id").asc).limit(1)
          .select(col("vec_id"), lit(1).as("rank"),
            (col("sim") * 0.5).as("score"))
          .transform(GenSnap.snap)
        for (k <- 2 to Picks) {
          val pen = pc
            .join(sel.select(col("vec_id").as("b")), "b")
            .groupBy(col("a").as("vec_id")).agg(max("ps").as("pen"))
          val pick = cand
            .join(sel.select(col("vec_id")), Seq("vec_id"), "left_anti")
            .join(pen, "vec_id")
            .select(col("vec_id"),
              (col("sim") * 0.5 - col("pen") * 0.5).as("score"))
            .orderBy(col("score").desc, col("vec_id").asc).limit(1)
            .select(col("vec_id"), lit(k).as("rank"), col("score"))
          // snap per pick: pick_k references sel_{k-1} TWICE (anti-join
          // + penalty max), so an un-checkpointed unroll doubles the
          // plan per level — 2^8 subplans, measured 137 s at sf0.1; the
          // 8-row checkpoint chain keeps plan depth O(1) per pick (the
          // fixpoint discipline)
          sel = sel.unionByName(pick).transform(GenSnap.snap)
        }
        sel.orderBy("rank")
      },
      Some {
        val c = sqlCosine(sqlVec("e.embedding"), "q.qv")
        val pcc = sqlCosine("ca.v", "cb.v")
        val picks = (2 to 8).map { k =>
          s"""pen$k AS (
             |  SELECT pc.a AS vec_id, max(pc.ps) AS pen
             |  FROM pc JOIN s${k - 1} s ON s.vec_id = pc.b GROUP BY pc.a),
             |pick$k AS (
             |  SELECT c.vec_id, $k AS rank, c.sim * 0.5 - p.pen * 0.5 AS score
             |  FROM cand c JOIN pen$k p ON p.vec_id = c.vec_id
             |  WHERE c.vec_id NOT IN (SELECT vec_id FROM s${k - 1})
             |  ORDER BY score DESC, c.vec_id ASC LIMIT 1),
             |s$k AS (SELECT vec_id, rank, score FROM s${k - 1}
             |        UNION ALL SELECT * FROM pick$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH q AS (SELECT ${sqlVec("embedding")} AS qv FROM embeddings WHERE vec_id = 0),
           |cand AS MATERIALIZED (
           |  SELECT e.vec_id, ${sqlVec("e.embedding")} AS v, $c AS sim
           |  FROM embeddings e, q WHERE e.vec_id <> 0
           |  ORDER BY sim DESC, vec_id ASC LIMIT 20),
           |pc AS MATERIALIZED (
           |  SELECT ca.vec_id AS a, cb.vec_id AS b, $pcc AS ps
           |  FROM cand ca JOIN cand cb ON ca.vec_id <> cb.vec_id),
           |s1 AS (SELECT vec_id, 1 AS rank, sim * 0.5 AS score
           |       FROM cand ORDER BY sim DESC, vec_id ASC LIMIT 1),
           |$picks
           |SELECT vec_id, rank, score FROM s8 ORDER BY rank""".stripMargin
      }
    ),

    // ── contrastive hard-example mining (training-pair selection) ──────
    // The pair-mining stage of contrastive/metric training: for each
    // anchor, the most-similar SAME-label vector (hard positive) and
    // most-similar OTHER-label vector (hard negative) plus the margin
    // between them — the pairs that actually move a contrastive loss,
    // and the audit row (a negative margin = anchor's nearest neighbor
    // has the wrong label) that predicts label noise. ONE broadcast
    // scoring pass (10 anchors × corpus) feeds both legs via GenSnap;
    // per-leg argmax is a window partitioned BY ANCHOR (never global).
    // Sims/margins are floats but bit-identical on both engines (the
    // shared sequential-fold cosine); ties break on vec_id. SCALE: the
    // anchor batch is the broadcast side, the corpus is scanned once
    // per batch — and the candidate generation swaps to the IVF-cell
    // join (ann_filtered_topk's shape) at 100 TB, bounding each anchor
    // to its probed cells instead of the corpus.
    Q(
      "ann_hard_negatives",
      (s, d) => {
        val e = embeddings(s, d)
        val anchors = e.filter(col("vec_id") < 10L)
          .select(col("vec_id").as("aid"), vec(col("embedding")).as("av"),
            col("label").as("alabel"))
        val scored = e.crossJoin(broadcast(anchors))
          .filter(col("vec_id") =!= col("aid"))
          .select(col("aid"), col("alabel"), col("vec_id"), col("label"),
            cosine(vec(col("embedding")), col("av")).as("sim"))
          .transform(GenSnap.snap) // both legs read one scoring pass
        val w = Window.partitionBy("aid")
          .orderBy(col("sim").desc, col("vec_id").asc)
        def best(leg: DataFrame, idAs: String, simAs: String): DataFrame = leg
          .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .select(col("aid"), col("vec_id").as(idAs), col("sim").as(simAs))
        val pos = best(scored.filter(col("label") === col("alabel")),
          "hard_pos", "pos_sim")
        val neg = best(scored.filter(col("label") =!= col("alabel")),
          "hard_neg", "neg_sim")
        pos.join(neg, "aid")
          .select(col("aid").as("anchor"), col("hard_pos"), col("pos_sim"),
            col("hard_neg"), col("neg_sim"),
            (col("pos_sim") - col("neg_sim")).as("margin"))
          .orderBy("anchor")
      },
      Some {
        val c = sqlCosine(sqlVec("e.embedding"), "a.av")
        s"""WITH anchors AS (
           |  SELECT vec_id AS aid, ${sqlVec("embedding")} AS av, label AS alabel
           |  FROM embeddings WHERE vec_id < 10),
           |scored AS MATERIALIZED (
           |  SELECT a.aid, a.alabel, e.vec_id, e.label, $c AS sim
           |  FROM embeddings e, anchors a WHERE e.vec_id <> a.aid),
           |pos AS (
           |  SELECT aid, vec_id AS hard_pos, sim AS pos_sim FROM (
           |    SELECT aid, vec_id, sim, row_number() OVER (
           |      PARTITION BY aid ORDER BY sim DESC, vec_id ASC) AS rk
           |    FROM scored WHERE label = alabel) WHERE rk = 1),
           |neg AS (
           |  SELECT aid, vec_id AS hard_neg, sim AS neg_sim FROM (
           |    SELECT aid, vec_id, sim, row_number() OVER (
           |      PARTITION BY aid ORDER BY sim DESC, vec_id ASC) AS rk
           |    FROM scored WHERE label <> alabel) WHERE rk = 1)
           |SELECT pos.aid AS anchor, hard_pos, pos_sim, hard_neg, neg_sim,
           |  pos_sim - neg_sim AS margin
           |FROM pos JOIN neg ON neg.aid = pos.aid
           |ORDER BY anchor""".stripMargin
      }
    ),

    // ── Matryoshka prefix-dimension recall (MRL evaluation) ────────────
    // Matryoshka-style embeddings promise that a PREFIX of the vector
    // is itself a usable lower-dimensional embedding (Kusupati et al.
    // 2022) — the operational question before truncating a 100 TB
    // vector store to a quarter of its bytes is exactly this curve:
    // top-10 recall of prefix-dim cosine vs the full-dim truth, for
    // dims {8, 16, 32, 64}. ONE corpus pass scores all four prefixes
    // (checkpointed, the nprobe-sweep pattern); each sweep point is
    // then a 10-row rank + a tiny hit join. dim = 64 IS the truth, so
    // its recall row is 1.0 by construction — the sweep self-checks.
    // The prefix cosines reuse the same fused sequential fold on both
    // engines, just over sliced arrays, so every sim is bit-identical.
    Q(
      "ann_matryoshka_recall",
      (s, d) => {
        val e = embeddings(s, d)
        val query = e.filter(col("vec_id") === 0L)
          .select(vec(col("embedding")).as("qv"))
        val dims = Seq(8, 16, 32, 64)
        val sc = e.filter(col("vec_id") =!= 0L)
          .crossJoin(broadcast(query))
          .select(col("vec_id") +: dims.map(k =>
            cosine(slice(vec(col("embedding")), 1, k),
              slice(col("qv"), 1, k)).as(s"s$k")): _*)
          .transform(GenSnap.snap) // one scoring pass feeds all sweep points
        val truth = sc.orderBy(col("s64").desc, col("vec_id").asc).limit(10)
          .select("vec_id").transform(GenSnap.snap)
        dims.map { k =>
          val top = sc.orderBy(col(s"s$k").desc, col("vec_id").asc).limit(10)
            .select("vec_id")
          top.join(truth, "vec_id").agg(count(lit(1)).as("hits"))
            .select(lit(k).as("dim"), col("hits"),
              (col("hits").cast("double") / 10.0).as("recall_at_10"))
        }.reduce(_ union _).orderBy("dim")
      },
      Some {
        def pv(k: Int) = s"(${sqlVec("e.embedding")})[1:$k]"
        def qv(k: Int) = s"(q.qv)[1:$k]"
        val scCols = Seq(8, 16, 32, 64)
          .map(k => s"${sqlCosine(pv(k), qv(k))} AS s$k").mkString(",\n    ")
        val sweep = Seq(8, 16, 32, 64).map { k =>
          s"""SELECT $k AS dim,
             |  CAST((SELECT count(*) FROM (
             |      SELECT vec_id FROM sc ORDER BY s$k DESC, vec_id ASC LIMIT 10) t
             |    JOIN truth USING (vec_id)) AS BIGINT) AS hits""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH q AS (SELECT ${sqlVec("embedding")} AS qv FROM embeddings WHERE vec_id = 0),
           |sc AS (
           |  SELECT e.vec_id,
           |    $scCols
           |  FROM embeddings e, q WHERE e.vec_id <> 0),
           |truth AS (SELECT vec_id FROM sc ORDER BY s64 DESC, vec_id ASC LIMIT 10)
           |SELECT dim, hits, CAST(hits AS DOUBLE) / 10.0 AS recall_at_10
           |FROM ($sweep)
           |ORDER BY dim""".stripMargin
      }
    ),

    // ── k-NN join: top-3 neighbors for each of the first 10 vectors ────
    // Probe side (10 rows) is broadcast; corpus side is scanned once.
    // Window top-k per probe keeps only 3 rows per probe past the
    // exchange. At scale: probes are the small side by construction
    // (a query batch), so the corpus never shuffles.
    Q(
      "ann_knn_join",
      (s, d) => {
        val e = embeddings(s, d)
        val probes = e.filter(col("vec_id") < 10L)
          .select(col("vec_id").as("probe_id"), vec(col("embedding")).as("pv"))
        val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id").asc)
        e.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"),
            cosine(vec(col("embedding")), col("pv")).as("sim"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select("probe_id", "vec_id", "sim", "rk")
          .orderBy("probe_id", "rk")
      },
      Some {
        val c = sqlCosine(sqlVec("e.embedding"), "p.pv")
        s"""WITH p AS (SELECT vec_id AS probe_id, ${sqlVec("embedding")} AS pv
           |           FROM embeddings WHERE vec_id < 10),
           |scored AS (
           |  SELECT p.probe_id, e.vec_id, $c AS sim,
           |         row_number() OVER (PARTITION BY p.probe_id ORDER BY $c DESC, e.vec_id ASC) AS rk
           |  FROM embeddings e, p WHERE e.vec_id <> p.probe_id)
           |SELECT probe_id, vec_id, sim, rk FROM scored WHERE rk <= 3
           |ORDER BY probe_id, rk""".stripMargin
      }
    ),

    // ── NN-descent KNN-graph construction (Dong et al. 2011) ───────────
    // VERDICT r11 task 6: the ANN tiers answer point queries; the
    // pipeline substrate (SemDeDup cells, label-noise audits, graph
    // clustering) needs the full k-nearest-neighbor GRAPH. NN-descent's
    // local join: seed every node with k deterministic neighbors
    // (stride picks over the contiguous id space — no RNG), then per
    // round each node introduces its general neighbors (forward ∪
    // rotating-hash-capped reverse) to each other through a pivot
    // equi-join, and keeps its best k' by cosine (partitioned window,
    // ties by id). The graph BUILDS at k'=2k=16 and emits the top k=8 —
    // over-building is what lifts descent out of the clustered local
    // optimum (recall@8 0.68 → 0.97 on the gate corpus in 4 rounds,
    // pinned ≥ 0.9 vs the exact graph in Round12Spec; at 4× corpus the
    // curve reaches ~0.86 by round 6 — rounds are the recall knob, the
    // classic NN-descent "until few updates" stop). Every pick is
    // deterministic, so the
    // oracle replays all rounds verbatim as chained CTEs over the SAME
    // cosine fold — the full final graph is driver-hashed. SCALE: the
    // candidate volume is Σ_p |G(p)|² ≤ N·(2k)² per round (the reverse
    // cap bounds hub fan-in), all equi-joins hash-partitioned on id —
    // NEVER a corpus² product (plan-asserted in PlanSpec); per-round
    // state is the N·k edge table (localCheckpointed, the fixpoint
    // discipline).
    Q(
      "ann_nndescent_graph",
      (s, d) => {
        val e = embeddings(s, d)
          .select(col("vec_id").as("id"), vec(col("embedding")).as("v"))
          .transform(GenSnap.snap) // id+vector staging read by every round
        val n = e.count() // 1-value driver boundary: corpus size for the mod-N seeds
        // Planning the descent rounds AQE-off (with an in-scope
        // materialization so the rounds actually plan AQE-off) was
        // measured: it cut the job count 28 → 11, but static planning
        // replaced the scoring joins' runtime corpus broadcast with
        // sort-merge joins — summed executor CPU 7 → 61 s, tasks
        // 63 → 653, wall flat. The descent keeps AQE; its remaining
        // wall is per-stage-job driver latency with a genuinely small
        // CPU floor.
        nnDescent(e, n).filter(col("rk") <= NnK).select(col("src").as("vec_id"),
            col("rk").cast("int").as("rank"), col("dst").as("nbr"), col("sim"))
          .orderBy("vec_id", "rank")
      },
      Some {
        val rounds = (1 to NnRounds)
          .map(r => sqlNnRound(r, s"b${r - 1}", s"b$r", "e")).mkString(",\n")
        s"""WITH e AS MATERIALIZED (
           |  SELECT vec_id AS id, ${sqlVec("embedding")} AS v FROM embeddings),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
           |st(s) AS (VALUES ${NnStrides.map(x => s"($x)").mkString(", ")}),
           |b0 AS MATERIALIZED (
           |  SELECT id AS src, (id + s) % n AS dst FROM e CROSS JOIN n CROSS JOIN st),
           |$rounds
           |SELECT src AS vec_id, CAST(rk AS INT) AS rank, dst AS nbr, sim
           |FROM rk_b$NnRounds WHERE rk <= $NnK
           |ORDER BY vec_id, rank""".stripMargin
      }
    ),

    // ── incremental NN-descent: a new batch joins the EXISTING graph ───
    // VERDICT r12 task 6, the ingestion story: a production pipeline
    // does not rebuild the N·k graph when a batch lands — it seeds the
    // incoming vectors against the current graph and runs a couple of
    // descent rounds that touch only BATCH-ADJACENT candidates. The
    // deterministic 10% slice vec_id % 10 = 7 plays the incoming batch
    // (the dedup_incremental convention); the rest is the "existing"
    // corpus whose graph (build degree 2k, the persisted state a real
    // system keeps) is constructed by the same shared descent kernel.
    // Each incremental round then (1) caps the new nodes' reverse lists
    // per pivot (rotating hash — same discipline as the full build),
    // (2) pulls the pivots' OWN adjacency from existing-graph ∪ batch
    // edges, and (3) introduces each new node to every co-member —
    // candidate volume is Σ over batch-adjacent pivots only, NEVER the
    // corpus (plan-asserted in Round13Spec: every join is a hash
    // equi-join keyed by pivot/id, and the introduction's left side is
    // the batch's reverse list). The final merge folds the reverse of
    // the batch edges into the old nodes' lists — an old vector whose
    // new arrival beats its k-th neighbor gets updated, everyone else's
    // list survives verbatim — and re-ranks once to the emit degree.
    // Recall vs a full rebuild is pinned ≥ 0.9 on batch nodes in
    // Round13Spec. Everything is deterministic, so the oracle replays
    // the old build AND every incremental round as chained CTEs.
    Q(
      "ann_nndescent_incremental",
      (s, d) =>
        gsIncMergedGraph(s, d)
          .select(col("src").as("vec_id"), col("rk").cast("int").as("rank"),
            col("dst").as("nbr"), col("sim"))
          .orderBy("vec_id", "rank"),
      Some {
        val IncRounds = GsIncRounds
        val c = sqlCosine("ea.v", "eb.v")
        val oldRounds = (1 to NnOldRounds)
          .map(r => sqlNnRound(r, s"g${r - 1}", s"g$r", "eold")).mkString(",\n")
        val incRounds = (1 to IncRounds).map { r =>
          val p = s"bn${r - 1}"
          s"""mnew$r AS (
             |  SELECT piv, nbr FROM (
             |    SELECT dst AS piv, src AS nbr,
             |      row_number() OVER (PARTITION BY dst
             |        ORDER BY (src + $r) * 2654435761 % 4294967296 ASC, src ASC) AS rk
             |    FROM $p) WHERE rk <= $NnKb),
             |gall$r AS (
             |  SELECT src, dst FROM gold UNION ALL SELECT src, dst FROM $p),
             |mem$r AS (
             |  SELECT piv, nbr FROM mnew$r
             |  UNION
             |  SELECT g.src AS piv, g.dst AS nbr
             |  FROM gall$r g JOIN (SELECT DISTINCT piv FROM mnew$r) m ON g.src = m.piv),
             |candn$r AS (
             |  SELECT a.nbr AS src, b.nbr AS dst
             |  FROM mnew$r a JOIN mem$r b ON a.piv = b.piv AND a.nbr <> b.nbr
             |  UNION SELECT src, dst FROM $p),
             |simn$r AS (
             |  SELECT c.src, c.dst, $c AS sim
             |  FROM candn$r c JOIN e ea ON ea.id = c.src JOIN e eb ON eb.id = c.dst),
             |bn$r AS MATERIALIZED (
             |  SELECT src, dst, sim FROM (
             |    SELECT src, dst, sim,
             |      row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk
             |    FROM simn$r) WHERE rk <= $NnKb)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS MATERIALIZED (
           |  SELECT vec_id AS id, ${sqlVec("embedding")} AS v FROM embeddings),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
           |st(s) AS (VALUES ${NnStrides.map(x => s"($x)").mkString(", ")}),
           |eold AS MATERIALIZED (SELECT * FROM e WHERE id % 10 <> 7),
           |enew AS (SELECT * FROM e WHERE id % 10 = 7),
           |g0 AS MATERIALIZED (
           |  SELECT id AS src, (id + s) % n AS dst FROM eold CROSS JOIN n CROSS JOIN st),
           |$oldRounds,
           |gold AS MATERIALIZED (
           |  SELECT src, dst, sim FROM rk_g$NnOldRounds WHERE rk <= $NnKb),
           |bn0 AS MATERIALIZED (
           |  SELECT src, dst, CAST(0.0 AS DOUBLE) AS sim FROM (
           |    SELECT en.id AS src, (en.id + s) % n AS dst
           |    FROM enew en CROSS JOIN n CROSS JOIN st) s0
           |  JOIN e ON e.id = s0.dst WHERE src <> dst),
           |$incRounds,
           |rev AS (SELECT dst AS src, src AS dst, sim FROM bn$IncRounds),
           |allp AS (
           |  SELECT src, dst, max(sim) AS sim FROM (
           |    SELECT src, dst, sim FROM gold
           |    UNION ALL SELECT src, dst, sim FROM rev
           |    UNION ALL SELECT src, dst, sim FROM bn$IncRounds)
           |  GROUP BY src, dst)
           |SELECT src AS vec_id, CAST(rk AS INT) AS rank, dst AS nbr, sim FROM (
           |  SELECT src, dst, sim,
           |    row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk
           |  FROM allp) WHERE rk <= $NnK
           |ORDER BY vec_id, rank""".stripMargin
      }
    ),

    // ── graph-traversal ANN: beam search over the NN-descent index ────
    // Graph traversal is the production ANN shape (HNSW/DiskANN
    // family): the greedy beam search [[gsBeam]] for vec 0 over the
    // PUBLISHED degree-2k index (nnSearchIndex reads the artifact), from
    // 4 hash-fixed entry points at width 24; its hop usage is
    // margin-pinned at sf0.1 in Sf01BoundsSpec. Every pick is
    // deterministic, so the oracle replays the full index build
    // AND all GsHops hops as chained CTEs — the ANCHOR oracle proving
    // the published artifact's content equals the descent it claims to
    // be (the sibling serve-path oracles read the artifact itself).
    // SCALE: each hop's exchanges are
    // candidate-sized (≤ beam × degree rows — plan-pinned in
    // Round15Spec); the corpus-side scoring join is an equi-join on id
    // against the cached index corpus, which at 100 TB becomes point
    // lookups against the id-bucketed vector table (only matching
    // buckets read), never a corpus-wide rescore.
    Q(
      "ann_graph_search",
      (s, d) => {
        val (e, n, adj) = nnSearchIndex(s, d)
        val (beam, _) = gsBeam(e, adj, gsQuery(e), gsEntries(e, n), GsBeam,
          "graph_beam_search")
        val w = Window.orderBy(col("sim").desc, col("id").asc)
        beam.withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
          .select(col("rank").cast("int").as("rank"),
            col("id").as("vec_id"), col("sim"))
          .orderBy("rank")
      },
      Some(s"""WITH $sqlGsIndexCtes,
              |${sqlGsHops(GsBeam, "bm")}
              |SELECT CAST(rk AS INT) AS rank, id AS vec_id, sim FROM (
              |  SELECT id, sim, row_number() OVER (ORDER BY sim DESC, id ASC) AS rk
              |  FROM bm$GsHops)
              |WHERE rk <= 10 ORDER BY rank""".stripMargin)
    ),

    // ── batch graph-traversal ANN: many probes, one dataflow ──────────
    // The production serving shape for a QUERY BATCH (the ann_knn_join
    // convention: probes = the first 10 vectors): every probe runs the
    // same deterministic beam search over the shared PUBLISHED index
    // simultaneously ([[gsBeam]] keyed by probe_id) — beam state is
    // (probe_id, id, sim, eh) and every window is PARTITIONED BY
    // probe_id, so per-hop work is
    // (probes × beam)-sized and the whole batch costs one unroll, not
    // one unroll per probe. A probe is excluded from its own beam (the
    // knn_join self-exclusion); entries/hops/ties are the single-probe
    // query's exactly. Emits each probe's top-3 neighbors — directly
    // comparable to the EXACT ann_knn_join, overlap pinned in
    // Round15Spec. SCALE: batch serving amortizes the index over the
    // query stream; exchanges stay candidate-sized per probe, and the
    // scoring equi-join against the cached corpus becomes bucketed point
    // lookups at 100 TB (the single-probe note).
    Q(
      "ann_graph_search_batch",
      (s, d) => {
        val (e, n, adj) = nnSearchIndex(s, d)
        val probes = e.filter(col("id") < 10L)
          .select(col("id").as("probe_id"), col("v").as("qv"))
        val ent = probes.select(col("probe_id"))
          .crossJoin(e.select("id").filter(col("id").isin(gsEntryIds(n): _*)))
          .filter(col("id") =!= col("probe_id"))
        val (beam, _) = gsBeam(e, adj, probes, ent, GsBeam,
          "graph_beam_search_batch", Seq("probe_id"))
        val w = Window.partitionBy("probe_id")
          .orderBy(col("sim").desc, col("id").asc)
        beam.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
          .select(col("probe_id"), col("id").as("vec_id"), col("sim"),
            col("rk").cast("int").as("rk"))
          .orderBy("probe_id", "rk")
      },
      Some {
        val c = sqlCosine("e.v", "p.pv")
        val hops = (1 to GsHops).map { h =>
          s"""f$h AS (SELECT probe_id, id AS src FROM bm${h - 1} WHERE eh = ${h - 1}),
             |c$h AS (SELECT DISTINCT f$h.probe_id, adj.dst AS id
             |        FROM f$h JOIN adj ON adj.src = f$h.src
             |        WHERE adj.dst <> f$h.probe_id
             |          AND NOT EXISTS (SELECT 1 FROM bm${h - 1} b
             |                          WHERE b.probe_id = f$h.probe_id AND b.id = adj.dst)),
             |s$h AS (SELECT cc.probe_id, cc.id, $c AS sim, $h AS eh
             |        FROM c$h cc JOIN e ON e.id = cc.id
             |        JOIN p ON p.probe_id = cc.probe_id),
             |bm$h AS MATERIALIZED (SELECT probe_id, id, sim, eh FROM (
             |  SELECT probe_id, id, sim, eh,
             |    row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, id ASC) AS rk
             |  FROM (SELECT * FROM bm${h - 1} UNION ALL SELECT * FROM s$h))
             |  WHERE rk <= $GsBeam)""".stripMargin
        }.mkString(",\n")
        // `adj` comes from the PUBLISHED artifact (sqlGsPersistedCtes)
        // instead of a descent replay — the oracle checks the batch
        // SERVE path; artifact content is anchored by ann_graph_search's
        // full-replay oracle over the same artifact. `bent` avoids the
        // prefix's single-probe `ent`.
        s"""WITH $sqlGsPersistedCtes,
           |p AS (SELECT id AS probe_id, v AS pv FROM e WHERE id < 10),
           |bent AS (SELECT p.probe_id, x.id
           |        FROM p CROSS JOIN (
           |          SELECT DISTINCT (s2.s * 2654435761) % n.n AS id
           |          FROM (VALUES ${GsEntrySeeds.map(x => s"($x)").mkString(", ")}) s2(s)
           |          CROSS JOIN n) x
           |        WHERE x.id <> p.probe_id),
           |s0 AS (SELECT bent.probe_id, e.id, $c AS sim, 0 AS eh
           |       FROM bent JOIN e ON e.id = bent.id
           |       JOIN p ON p.probe_id = bent.probe_id),
           |bm0 AS MATERIALIZED (SELECT probe_id, id, sim, eh FROM (
           |  SELECT probe_id, id, sim, eh,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, id ASC) AS rk
           |  FROM s0) WHERE rk <= $GsBeam),
           |$hops
           |SELECT probe_id, id AS vec_id, sim, CAST(rk AS INT) AS rk FROM (
           |  SELECT probe_id, id, sim,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, id ASC) AS rk
           |  FROM bm$GsHops)
           |WHERE rk <= 3 ORDER BY probe_id, rk""".stripMargin
      }
    ),

    // ── beam-width sweep: the graph index's recall/cost tuning curve ──
    // The ann_nprobe_sweep convention for the graph family: beam width
    // is THE serving knob of graph-traversal ANN (HNSW's efSearch), so
    // sweep it — each width runs [[gsBeam]], stopping quietly at GsHops
    // (converged = false) instead of throwing; its top-10 joins the
    // exact brute-force truth, and the row reports
    // (beam, hits, recall@10, hops_used). Wider beams explore strictly
    // more (hits non-decreasing on this corpus — pinned in
    // Round15Spec); hops_used is the latency proxy (sequential hop
    // depth). The width-24 row is exactly ann_graph_search's result by
    // construction, making the sweep self-checking. Oracle reads the
    // published artifact (the serve path) and runs all three
    // unrolls as parallel CTE chains.
    Q(
      "ann_beam_sweep",
      (s, d) => {
        val (e, n, adj) = nnSearchIndex(s, d)
        val truth = e.filter(col("id") =!= 0L)
          .crossJoin(broadcast(gsQuery(e)))
          .select(col("id"), cosine(col("v"), col("qv")).as("sim"))
          .orderBy(col("sim").desc, col("id").asc).limit(10)
          .select(col("id"))
          .transform(GenSnap.snap)
        // The three width unrolls are INDEPENDENT 10-hop driver chains
        // whose per-hop snaps materialize sequentially inside one
        // action; overlapping them from a small thread pool (guide
        // §2.6) makes the sweep's wall the slowest width, not the sum.
        // Each unroll is deterministic and the count() only forces the
        // chain's existing checkpoints — the reported rows are
        // unchanged. Futures on the global pool; 3 in flight.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val materialized = GsSweepWidths.map { wd =>
          wd -> Future {
            val (b, _) = gsBeam(e, adj, gsQuery(e), gsEntries(e, n), wd,
              "graph_beam_sweep", quiet = true)
            b.count(); b
          }
        }
        materialized.map { case (wd, fut) =>
          val beam = Await.result(fut, Duration.Inf)
          val w = Window.orderBy(col("sim").desc, col("id").asc)
          // ONE aggregation reads each beam once: the truth hits among
          // the top-10 (rank ≤ 10 ∧ in the exact set) and max(eh), the
          // newest entrant's hop, fold into the same pass.
          beam.withColumn("rk", row_number().over(w))
            .join(broadcast(truth.withColumn("t", lit(true))), Seq("id"), "left")
            .agg(
              sum(when(col("rk") <= 10 && col("t"), 1L).otherwise(0L)).as("hits"),
              max("eh").as("meh"))
            .select(lit(wd).as("beam"), col("hits"),
              (col("hits").cast("double") / lit(10.0)).as("recall_at_10"),
              (col("meh") + 1).cast("int").as("hops_used"),
              (col("meh") < GsHops).as("converged"))
        }.reduce(_ union _).orderBy("beam")
      },
      Some {
        val chains = GsSweepWidths
          .map(wd => sqlGsHops(wd, s"w$wd")).mkString(",\n")
        val rows = GsSweepWidths.map { wd =>
          s"""SELECT $wd AS beam,
             |  CAST((SELECT count(*) FROM (
             |    SELECT id FROM (
             |      SELECT id, row_number() OVER (ORDER BY sim DESC, id ASC) AS rk
             |      FROM w$wd$GsHops) WHERE rk <= 10) t
             |    JOIN truth USING (id)) AS BIGINT) AS hits,
             |  CAST((SELECT max(eh) + 1 FROM w$wd$GsHops) AS INT) AS hops_used,
             |  (SELECT max(eh) FROM w$wd$GsHops) < $GsHops AS converged""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $sqlGsPersistedCtes,
           |truth AS (
           |  SELECT e.id FROM e CROSS JOIN q WHERE e.id <> 0
           |  ORDER BY ${sqlCosine("e.v", "q.qv")} DESC, e.id ASC LIMIT 10),
           |$chains
           |SELECT beam, hits, CAST(hits AS DOUBLE) / 10.0 AS recall_at_10, hops_used,
           |  converged
           |FROM ($rows)
           |ORDER BY beam""".stripMargin
      }
    ),

    // ── persisted-index serve: the build-once/serve-many search ───────
    // Identical semantics to ann_graph_search, but the adjacency comes
    // from the PUBLISHED parquet artifact (see
    // gsPersistedIndex) instead of the session memo: the serve plan
    // contains no NN-descent stage — its only inputs are the artifact
    // scan and the corpus scan (plan-asserted in Round16Spec, which
    // also pins row-for-row equality with ann_graph_search and that a
    // SECOND session serves with zero rebuilds). The ORACLE reads the
    // same staged artifact (fp-keyed out of the durable glob), so the
    // gate checks the serve path proper; the artifact's own correctness
    // is covered transitively by the equality pin against
    // ann_graph_search, whose oracle replays the full build. SCALE:
    // this is the production split — the descent is a periodic index
    // JOB; serving sessions read an id-bucketed adjacency table and pay
    // beam-sized point lookups per hop, never a rebuild.
    Q(
      "ann_graph_search_persisted",
      (s, d) => {
        val base = gsPersistedIndex(s, d)
        // 1-row driver boundary: the meta row's corpus count seeds the
        // hash-fixed entry ids, exactly as the memoized path's count()
        val n = s.read.parquet(s"$base/meta").head().getAs[Long]("n")
        val e = embeddings(s, d)
          .select(col("vec_id").as("id"), vec(col("embedding")).as("v"))
        // the bucketed-artifact unroll: per hop, the ≤ beam frontier ids
        // are pushed as literals so the adjacency scan bucket-prunes
        // (Round17Spec pins SelectedBucketsCount in this shape)
        val beam = gsBeamServe(e, GsAdj.table(s, base), n, GsBeam,
          "graph_beam_search_persisted")
        val w = Window.orderBy(col("sim").desc, col("id").asc)
        beam.withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
          .select(col("rank").cast("int").as("rank"),
            col("id").as("vec_id"), col("sim"))
          .orderBy("rank")
      },
      Some(s"""WITH $sqlGsPersistedCtes,
              |${sqlGsHops(GsBeam, "pm")}
              |SELECT CAST(rk AS INT) AS rank, id AS vec_id, sim FROM (
              |  SELECT id, sim, row_number() OVER (ORDER BY sim DESC, id ASC) AS rk
              |  FROM pm$GsHops)
              |WHERE rk <= 10 ORDER BY rank""".stripMargin)
    ),

    // ── filtered graph search: metadata predicate over the beam ───────
    // The dominant production RAG query: top-k UNDER A METADATA FILTER
    // (here label = 3, the ann_filtered_topk predicate). Filtering the
    // graph itself would disconnect it, and post-filtering only the
    // final beam starves when a width cut
    // leaves < k survivors — so the beam NAVIGATES unfiltered (the
    // filtered-HNSW/ACORN shape) at a widened width (48: predicate
    // selectivity ~1/10 thins the pool ~10×), and the answer ranks
    // predicate survivors out of EVERYTHING the search scored (the
    // visited set). A straggler scored twice across hops dedups by id
    // (identical sim — the search is deterministic). Output self-audits
    // vs the exact filtered brute force (in_exact_topk, the
    // ann_filtered_topk convention); recall is pinned ≥ the IVF
    // filtered tier in Round16Spec. SCALE: the visited set is
    // (hops × beam × degree)-bounded, never corpus-sized; the predicate
    // join is a broadcast of the survivor id set's matching bucket at
    // 100 TB (label-bucketed metadata table), and the truth side exists
    // only for the self-audit, not the serving path.
    Q(
      "ann_graph_search_filtered",
      (s, d) => {
        val (e, n, adj) = nnSearchIndex(s, d)
        val query = gsQuery(e)
        val (_, scoredAll) = gsBeam(e, adj, query, gsEntries(e, n),
          GsFilteredBeam, "graph_beam_search_filtered")
        val pass = embeddings(s, d)
          .filter(col("label") === 3 && col("vec_id") =!= 0L)
          .select(col("vec_id").as("id"))
        val hits = scoredAll.join(pass, "id")
          .groupBy("id").agg(max("sim").as("sim"))
          .orderBy(col("sim").desc, col("id").asc).limit(10)
        val truth = embeddings(s, d)
          .filter(col("vec_id") =!= 0L && col("label") === 3)
          .crossJoin(broadcast(query))
          .select(col("vec_id").as("id"),
            cosine(vec(col("embedding")), col("qv")).as("tsim"))
          .orderBy(col("tsim").desc, col("id").asc).limit(10)
          .select(col("id"), lit(true).as("in_exact_topk"))
        hits.join(broadcast(truth), Seq("id"), "left")
          .select(col("id").as("vec_id"), col("sim"),
            coalesce(col("in_exact_topk"), lit(false)).as("in_exact_topk"))
          .orderBy(col("sim").desc, col("vec_id").asc)
      },
      Some {
        val scoredUnion = (0 to GsHops)
          .map(h => s"SELECT id, sim FROM sfm$h").mkString("\nUNION ALL\n")
        s"""WITH $sqlGsPersistedCtes,
           |${sqlGsHops(GsFilteredBeam, "fm")},
           |pass AS (SELECT vec_id AS id FROM embeddings
           |         WHERE label = 3 AND vec_id <> 0),
           |visited AS ($scoredUnion),
           |hits AS (
           |  SELECT v.id, max(v.sim) AS sim
           |  FROM visited v JOIN pass USING (id)
           |  GROUP BY v.id ORDER BY sim DESC, id ASC LIMIT 10),
           |truth AS (
           |  SELECT e.id, TRUE AS in_exact_topk
           |  FROM e JOIN pass USING (id) CROSS JOIN q
           |  ORDER BY ${sqlCosine("e.v", "q.qv")} DESC, e.id ASC LIMIT 10)
           |SELECT h.id AS vec_id, h.sim,
           |  coalesce(t.in_exact_topk, FALSE) AS in_exact_topk
           |FROM hits h LEFT JOIN truth t ON t.id = h.id
           |ORDER BY h.sim DESC, vec_id ASC""".stripMargin
      }
    ),

    // ── index maintenance under churn: delete + repair + search ───────
    // ann_nndescent_incremental handles INSERTS; production indexes also
    // tombstone and repair after DELETES (FreshDiskANN-style
    // consolidation). A deterministic ~5% slice is tombstoned; edges
    // FROM tombstones drop with their node; a
    // survivor that lost a neighbor t adopts candidates from t's own
    // adjacency (t's list is the best local approximation of t's
    // neighborhood) and its list alone is re-scored and re-cut to the
    // build degree — delete-batch-local work, plan-bounded: candidates
    // ≤ (edges into tombstones) × degree, unaffected lists untouched.
    // The beam search then serves from the repaired index over the
    // survivor corpus (entries hash modulo the FULL id space — a
    // tombstoned entry simply drops, deterministically on both
    // engines). Output self-audits vs the exact survivor brute force
    // (in_exact_topk); Round16Spec pins recall ≥ the rebuilt-from-
    // scratch floor. The ORACLE replays build + tombstones + repair +
    // all hops as chained CTEs. SCALE: at 100 TB the tombstone set is a
    // tiny side table; repair touches only lists adjacent to the batch,
    // the id-bucketed scoring join reads matching buckets only.
    Q(
      "ann_graph_delete_repair",
      (s, d) => {
        val (eS, n, adj2) = gsRepairedIndex(s, d)
        val query = gsQuery(eS)
        val (beam, _) = gsBeam(eS, adj2, query, gsEntries(eS, n), GsBeam,
          "graph_beam_search_repair")
        val truth = eS.filter(col("id") =!= 0L)
          .crossJoin(broadcast(query))
          .select(col("id"), cosine(col("v"), col("qv")).as("ts"))
          .orderBy(col("ts").desc, col("id").asc).limit(10)
          .select(col("id"), lit(true).as("in_exact_topk"))
        val w = Window.orderBy(col("sim").desc, col("id").asc)
        beam.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
          .join(broadcast(truth), Seq("id"), "left")
          .select(col("id").as("vec_id"), col("sim"),
            coalesce(col("in_exact_topk"), lit(false)).as("in_exact_topk"))
          .orderBy(col("sim").desc, col("vec_id").asc)
      },
      Some {
        val c = sqlCosine("ea.v", "eb.v")
        s"""WITH $sqlGsIndexCtes,
           |tomb AS (SELECT id FROM e WHERE ${sqlGsTombPred("id")}),
           |es AS MATERIALIZED (
           |  SELECT id, v FROM e WHERE id NOT IN (SELECT id FROM tomb)),
           |adjs AS (SELECT src, dst FROM adj
           |         WHERE src NOT IN (SELECT id FROM tomb)),
           |lost AS (SELECT src, dst FROM adjs
           |         WHERE dst IN (SELECT id FROM tomb)),
           |surv AS (SELECT src, dst FROM adjs
           |         WHERE dst NOT IN (SELECT id FROM tomb)),
           |aff AS (SELECT DISTINCT src FROM lost),
           |cnd AS (SELECT DISTINCT l.src, t.dst
           |        FROM lost l JOIN adj t ON t.src = l.dst
           |        WHERE t.dst <> l.src
           |          AND t.dst NOT IN (SELECT id FROM tomb)),
           |pool AS (SELECT src, dst FROM surv
           |         WHERE src IN (SELECT src FROM aff)
           |         UNION SELECT src, dst FROM cnd),
           |sc AS (SELECT p.src, p.dst, $c AS sim
           |       FROM pool p JOIN es ea ON ea.id = p.src
           |       JOIN es eb ON eb.id = p.dst),
           |rep AS (SELECT src, dst FROM (
           |  SELECT src, dst,
           |    row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rk
           |  FROM sc) WHERE rk <= $NnKb),
           |adj2 AS MATERIALIZED (
           |  SELECT src, dst FROM surv WHERE src NOT IN (SELECT src FROM aff)
           |  UNION ALL SELECT src, dst FROM rep),
           |${sqlGsHops(GsBeam, "rm", adjRel = "adj2", eRel = "es")},
           |truth AS (
           |  SELECT es.id, TRUE AS in_exact_topk FROM es CROSS JOIN q
           |  WHERE es.id <> 0
           |  ORDER BY ${sqlCosine("es.v", "q.qv")} DESC, es.id ASC LIMIT 10)
           |SELECT b.id AS vec_id, b.sim,
           |  coalesce(t.in_exact_topk, FALSE) AS in_exact_topk
           |FROM (SELECT id, sim FROM (
           |    SELECT id, sim, row_number() OVER (ORDER BY sim DESC, id ASC) AS rk
           |    FROM rm$GsHops) WHERE rk <= 10) b
           |LEFT JOIN truth t ON t.id = b.id
           |ORDER BY b.sim DESC, vec_id ASC""".stripMargin
      }
    ),

    // ── churn re-publish + serve: version N → N+1 ─────────────────────
    // ann_graph_delete_repair proves the consolidation math (its oracle
    // replays build + tombstones + repair); THIS query proves the
    // lifecycle: the repaired adjacency is PUBLISHED as the next
    // artifact version (atomic, content-keyed by the SURVIVOR
    // fingerprint — so the base version keeps serving full-corpus
    // queries untouched) and the answer is served by reading that
    // version back from storage with the bucket-pruned unroll. The
    // ORACLE reads the same published v2 out of the durable glob, keyed
    // by the survivor fingerprint it recomputes — adjacency correctness
    // is anchored transitively by delete_repair's replay oracle plus
    // Round17Spec's v2 ≡ memo-repaired equality pin and the
    // fresh-session zero-descent/zero-repair probe. SCALE: this is the
    // production churn loop — consolidate a delete batch, re-publish,
    // serve the new version; never rebuild, never mutate version N.
    Q(
      "ann_graph_repair_publish",
      (s, d) => {
        val base = gsRepairPublished(s, d)
        val n = s.read.parquet(s"$base/meta").head().getAs[Long]("n")
        val eS = embeddings(s, d)
          .filter(!gsTombPred(col("vec_id")))
          .select(col("vec_id").as("id"), vec(col("embedding")).as("v"))
        val beam = gsBeamServe(eS, GsAdj.table(s, base), n, GsBeam,
          "graph_beam_search_repair_pub")
        val w = Window.orderBy(col("sim").desc, col("id").asc)
        beam.withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
          .select(col("rank").cast("int").as("rank"),
            col("id").as("vec_id"), col("sim"))
          .orderBy("rank")
      },
      Some {
        val glob = s"${System.getProperty("java.io.tmpdir")}/graft_idx_${gsIdxToken}_*"
        s"""WITH es AS MATERIALIZED (
           |  SELECT vec_id AS id, ${sqlVec("embedding")} AS v FROM embeddings
           |  WHERE NOT (${sqlGsTombPred("vec_id")})),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
           |cfp AS (SELECT $sqlSurvivorFingerprint AS fp FROM embeddings),
           |meta AS (SELECT ak FROM read_parquet('$glob/meta/*.parquet')
           |         WHERE fp = (SELECT fp FROM cfp)
           |           AND n = (SELECT n FROM n)
           |         ORDER BY ak LIMIT 1),
           |adj AS MATERIALIZED (
           |  SELECT src, dst FROM read_parquet('$glob/adj/*.parquet')
           |  WHERE ak = (SELECT ak FROM meta)),
           |q AS (SELECT v AS qv FROM es WHERE id = 0),
           |ent AS (SELECT DISTINCT (s2.s * 2654435761) % n.n AS id
           |        FROM (VALUES ${GsEntrySeeds.map(x => s"($x)").mkString(", ")}) s2(s)
           |        CROSS JOIN n
           |        WHERE (s2.s * 2654435761) % n.n <> 0),
           |${sqlGsHops(GsBeam, "pp", eRel = "es")}
           |SELECT CAST(rk AS INT) AS rank, id AS vec_id, sim FROM (
           |  SELECT id, sim, row_number() OVER (ORDER BY sim DESC, id ASC) AS rk
           |  FROM pp$GsHops)
           |WHERE rk <= 10 ORDER BY rank""".stripMargin
      }
    ),

    // ── ingestion re-publish + serve: insert batch → version N+1 ──────
    // ann_nndescent_incremental proves the batch-local merge math (its
    // oracle replays the old build and every incremental round); THIS
    // query proves the ingestion lifecycle: the merged post-insert graph
    // is PUBLISHED as its family's next version (atomic, content-keyed
    // by the full-corpus fingerprint — a separate token from the base
    // index, so neither family shadows the other) and a beam search is
    // served by reading that version back from storage with the
    // bucket-pruned unroll — the inserted vectors are reachable through
    // the served graph. The ORACLE reads the same published version out
    // of the durable glob keyed by the fingerprint it recomputes;
    // adjacency correctness is anchored transitively by
    // ann_nndescent_incremental's replay oracle plus Round17Spec's
    // published ≡ memo-merged equality pin and the fresh-session
    // zero-merge probe. SCALE: the production ingestion loop — batch
    // lands, batch-local descent, re-publish, serve; never a full
    // rebuild, never a mutation of the prior version.
    Q(
      "ann_graph_insert_publish",
      (s, d) => {
        val base = gsInsertPublished(s, d)
        val n = s.read.parquet(s"$base/meta").head().getAs[Long]("n")
        val e = embeddings(s, d)
          .select(col("vec_id").as("id"), vec(col("embedding")).as("v"))
        val beam = gsBeamServe(e, GsAdj.table(s, base), n, GsBeam,
          "graph_beam_search_insert_pub")
        val w = Window.orderBy(col("sim").desc, col("id").asc)
        beam.withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
          .select(col("rank").cast("int").as("rank"),
            col("id").as("vec_id"), col("sim"))
          .orderBy("rank")
      },
      Some {
        s"""WITH $sqlGsIncPersistedCtes,
           |${sqlGsHops(GsBeam, "ip")}
           |SELECT CAST(rk AS INT) AS rank, id AS vec_id, sim FROM (
           |  SELECT id, sim, row_number() OVER (ORDER BY sim DESC, id ASC) AS rk
           |  FROM ip$GsHops)
           |WHERE rk <= 10 ORDER BY rank""".stripMargin
      }
    ),

    // ── artifact lifecycle visibility: the versions report ─────────────
    // The DESCRIBE-HISTORY of the index store: after the lifecycle jobs
    // ran (base build, delete-consolidation, ingestion merge), list the
    // published versions SERVING this corpus across both ANN families —
    // which family each belongs to, its publication key, corpus size and
    // fingerprint, and the serving ROLE its fingerprint proves (the
    // current full corpus / the post-delete survivor corpus / the
    // post-insert merge). Scoping is by CONTENT, not by path: only
    // versions whose meta fingerprint matches one the report recomputes
    // from the live corpus appear, so other datasets' artifacts and
    // stale versions of a regenerated corpus drop out on both engines
    // identically (the oracle SQL is static — it cannot embed the
    // dataset path, and does not need to). SCALE: meta is one row per
    // version; the report never touches adjacency data.
    Q(
      "ann_index_versions",
      (s, d) => {
        // ensure the lifecycle ran (each is memoized/served, not rebuilt)
        gsPersistedIndex(s, d); gsRepairPublished(s, d); gsInsertPublished(s, d)
        val (fpFull, _) = corpusFpN(s, d)
        val (fpSurv, _) = survivorFpN(s, d)
        val tmp = System.getProperty("java.io.tmpdir")
        def metas(token: String, family: String) =
          s.read.parquet(s"$tmp/graft_idx_${token}_*/meta")
            .select(lit(family).as("family"), col("ak"), col("n"), col("fp"))
        metas(gsIdxToken, "graph").unionByName(metas(gsIncToken, "graph_incremental"))
          .filter(col("fp").isin(fpFull, fpSurv))
          .withColumn("role",
            when(col("family") === "graph" && col("fp") === lit(fpFull),
              lit("serving_base"))
              .when(col("family") === "graph" && col("fp") === lit(fpSurv),
                lit("serving_post_delete"))
              .otherwise(lit("serving_post_insert")))
          .orderBy("family", "ak")
      },
      Some {
        val tmp = System.getProperty("java.io.tmpdir")
        val g1 = s"$tmp/graft_idx_${gsIdxToken}_*"
        val g2 = s"$tmp/graft_idx_${gsIncToken}_*"
        s"""WITH cfp AS (SELECT $sqlCorpusFingerprint AS fp FROM embeddings),
           |sfp AS (SELECT $sqlSurvivorFingerprint AS fp FROM embeddings),
           |m AS (
           |  SELECT 'graph' AS family, ak, n, fp
           |  FROM read_parquet('$g1/meta/*.parquet')
           |  UNION ALL
           |  SELECT 'graph_incremental' AS family, ak, n, fp
           |  FROM read_parquet('$g2/meta/*.parquet'))
           |SELECT family, ak, n, fp,
           |  CASE WHEN family = 'graph' AND fp = (SELECT fp FROM cfp)
           |         THEN 'serving_base'
           |       WHEN family = 'graph' AND fp = (SELECT fp FROM sfp)
           |         THEN 'serving_post_delete'
           |       ELSE 'serving_post_insert' END AS role
           |FROM m
           |WHERE fp IN ((SELECT fp FROM cfp), (SELECT fp FROM sfp))
           |ORDER BY family, ak""".stripMargin
      }
    ),

    // ── routed graph search: upper-layer entry selection ──────────────
    // The HNSW refinement the hash-fixed entries lack: real layered
    // indexes route the query through a SMALL upper layer first — a
    // deterministic ~1/16 sample of the corpus is scanned brute-force
    // (sample-sized work: at 100 TB the upper layer is a tiny side
    // table that fits an executor) and its top-4 winners seed the
    // base-layer beam, so the search starts NEAR the answer instead of
    // at arbitrary hash seeds and converges in fewer sequential hops —
    // the serving-latency knob beam width cannot buy. Same unroll, same
    // width, same hop cap; BoundProbe'd under its own kernel, and
    // Round16Spec pins hops_used(routed) ≤ hops_used(fixed)
    // plus recall at the exact ceiling. Oracle reads the published
    // artifact (the serve path) and replays the upper-layer scan and
    // all hops.
    Q(
      "ann_graph_search_routed",
      (s, d) => {
        val (e, n, adj) = nnSearchIndex(s, d)
        val q = gsQuery(e)
        val upper = e.filter(
          Tables.detHash(col("id")) % 16 === lit(3L) && col("id") =!= 0L)
        val entries = upper.crossJoin(broadcast(q))
          .select(col("id"), cosine(col("v"), col("qv")).as("es"))
          .orderBy(col("es").desc, col("id").asc).limit(4)
          .select("id")
          .transform(GenSnap.snap)
        val (beam, _) = gsBeam(e, adj, q, entries, GsBeam, "graph_beam_search_routed")
        val w = Window.orderBy(col("sim").desc, col("id").asc)
        beam.withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
          .select(col("rank").cast("int").as("rank"),
            col("id").as("vec_id"), col("sim"))
          .orderBy("rank")
      },
      Some {
        val uc = sqlCosine("u.v", "q.qv")
        s"""WITH $sqlGsPersistedCtes,
           |upper AS (SELECT id, v FROM e
           |          WHERE (${Tables.detHashSql("id")}) % 16 = 3 AND id <> 0),
           |rent AS (SELECT id FROM (
           |  SELECT u.id, row_number() OVER (ORDER BY $uc DESC, u.id ASC) AS rk
           |  FROM upper u CROSS JOIN q) WHERE rk <= 4),
           |${sqlGsHops(GsBeam, "um", entRel = "rent")}
           |SELECT CAST(rk AS INT) AS rank, id AS vec_id, sim FROM (
           |  SELECT id, sim, row_number() OVER (ORDER BY sim DESC, id ASC) AS rk
           |  FROM um$GsHops)
           |WHERE rk <= 10 ORDER BY rank""".stripMargin
      }
    ),

    // ── LSH-bucketed ANN: bucket histogram ─────────────────────────────
    // Random-hyperplane LSH: sign of the projection onto 8 deterministic
    // pseudo-random hyperplanes (literal arrays — see `hyperplane`) →
    // 8-bit bucket id. At 100 TB the corpus is written bucketed-by
    // (bucket) so probe lookups touch one bucket = a few files — no
    // corpus-wide scan at all. The end-to-end probe→rank query is
    // ann_lsh_topk below.
    Q(
      "ann_lsh_buckets",
      (s, d) =>
        embeddings(s, d)
          .select(col("vec_id"), lshBucket(vec(col("embedding"))).as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("cnt"))
          .orderBy("bucket"),
      Some(s"""SELECT bucket, count(*) AS cnt FROM (
              |  SELECT vec_id, ${sqlLshBucket(sqlVec("embedding"))} AS bucket FROM embeddings)
              |GROUP BY bucket ORDER BY bucket""".stripMargin)
    ),

    // ── LSH-bucketed ANN: end-to-end bucket→probe→rank top-k ───────────
    // The full approximate-nearest-neighbor pipeline at corpus scale
    // (the reference's nearest-neighbor assignment generalized,
    // image_classification.py:416-445): each corpus vector lands in L
    // (table, bucket) cells; the probe's L cells are broadcast and
    // EQUI-joined; exact cosine ranks inside the candidate union only
    // (max-dedup since a neighbor can collide in several tables). The
    // corpus is scanned once and never self-joined; at 100 TB the cells
    // table is written `bucketBy(N, cell)` (cell = tbl·256 + bucket, one
    // column so Spark bucket-prunes) and a probe reads L storage buckets
    // instead of the corpus — PROVEN in VectorSpec ("LSH cells stored
    // bucketed"): SelectedBucketsCount ≤ L in the probe plan, identical
    // top-k. Recall vs exact brute-force is also asserted in VectorSpec.
    Q(
      "ann_lsh_topk",
      (s, d) => {
        val cells = explode(array((0 until LshTables).map(t =>
          struct(lit(t).as("tbl"), lshTableBucket(col("v"), t).as("bucket"))): _*)).as("cell")
        val withB = embeddings(s, d)
          .select(col("vec_id"), vec(col("embedding")).as("v"))
          .select(col("vec_id"), col("v"), cells)
          .select(col("vec_id"), col("v"), col("cell.tbl"), col("cell.bucket"))
        val probe = withB.filter(col("vec_id") === 0L)
          .select(col("tbl"), col("bucket"), col("v").as("qv"))
        withB.join(broadcast(probe), Seq("tbl", "bucket"))
          .filter(col("vec_id") =!= 0L)
          .select(col("vec_id"), cosine(col("v"), col("qv")).as("sim"))
          .groupBy("vec_id").agg(max(col("sim")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc)
          .limit(10)
      },
      Some {
        val buckets = (0 until LshTables).map(t =>
          s"WHEN $t THEN ${sqlLshTableBucket("v", t)}").mkString(" ")
        s"""WITH base AS (SELECT vec_id, ${sqlVec("embedding")} AS v FROM embeddings),
           |cells AS (
           |  SELECT vec_id, v, t.tbl, CASE t.tbl $buckets END AS bucket
           |  FROM base, (SELECT unnest(range(0, $LshTables)) AS tbl) t),
           |q AS (SELECT tbl, bucket, v AS qv FROM cells WHERE vec_id = 0)
           |SELECT c.vec_id, max(${sqlCosine("c.v", "q.qv")}) AS sim
           |FROM cells c JOIN q ON c.tbl = q.tbl AND c.bucket = q.bucket
           |WHERE c.vec_id <> 0
           |GROUP BY c.vec_id
           |ORDER BY sim DESC, c.vec_id ASC LIMIT 10""".stripMargin
      }
    ),

    // ── persisted LSH serve: probe the published cells artifact ───────
    // ann_lsh_topk proves the probe math (its oracle replays the cells
    // and the candidate ranking); THIS query proves the ONLINE-serving
    // lifecycle: the cells are published once (bucketed by the combined
    // cell key) and a probe serves by reading ≤ L of the artifact's
    // storage buckets — the probe's own L cells push as a literal
    // `cell IN (...)` (an L-row driver boundary: the probe's cells ARE
    // serving memory), so SelectedBucketsCount ≤ L is plan-pinned in
    // Round17Spec, and the same artifact is the stream-static side of
    // Streams.annTopkVerdicts. The ORACLE reads the published cells out
    // of the durable glob keyed by the fingerprint it recomputes;
    // content is anchored by ann_lsh_topk's full replay oracle plus the
    // spec's persisted ≡ full-pipeline equality pin. SCALE: at 100 TB
    // the cells artifact is thousands of buckets; a query touches L.
    Q(
      "ann_lsh_topk_persisted",
      (s, d) => {
        val base = lshPersistedCells(s, d)
        val cellsT = LshCells.table(s, base)
        // the probe's L cells + query vector: an L-row driver boundary
        val probe = lshCellsOf(embeddings(s, d).filter(col("vec_id") === 0L))
          .collect()
        val cellIds = probe.map(_.getInt(2)).distinct.toSeq
        val qv = probe.head.getAs[scala.collection.Seq[Double]]("v").toArray
        cellsT.filter(col("cell").isin(cellIds: _*)) // bucket-pruned: ≤ L
          .filter(col("vec_id") =!= 0L)
          .select(col("vec_id"), cosine(col("v"), typedLit(qv)).as("sim"))
          .groupBy("vec_id").agg(max(col("sim")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc)
          .limit(10)
      },
      Some {
        val glob = s"${System.getProperty("java.io.tmpdir")}/graft_idx_${lshToken}_*"
        val buckets = (0 until LshTables).map(t =>
          s"WHEN $t THEN ${sqlLshTableBucket("b.v", t)}").mkString(" ")
        s"""WITH b AS (SELECT ${sqlVec("embedding")} AS v FROM embeddings WHERE vec_id = 0),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
           |cfp AS (SELECT $sqlCorpusFingerprint AS fp FROM embeddings),
           |meta AS (SELECT ak FROM read_parquet('$glob/meta/*.parquet')
           |         WHERE fp = (SELECT fp FROM cfp)
           |           AND n = (SELECT n FROM n)
           |         ORDER BY ak LIMIT 1),
           |cells AS MATERIALIZED (
           |  SELECT vec_id, v, cell FROM read_parquet('$glob/cells/*.parquet')
           |  WHERE ak = (SELECT ak FROM meta)),
           |probe AS (
           |  SELECT t.tbl * 256 + (CASE t.tbl $buckets END) AS cell, b.v AS qv
           |  FROM b, (SELECT unnest(range(0, $LshTables)) AS tbl) t)
           |SELECT c.vec_id, max(${sqlCosine("c.v", "p.qv")}) AS sim
           |FROM cells c JOIN probe p ON c.cell = p.cell
           |WHERE c.vec_id <> 0
           |GROUP BY c.vec_id
           |ORDER BY sim DESC, c.vec_id ASC LIMIT 10""".stripMargin
      }
    ),

    // ── embedding-cosine near-duplicate detection ──────────────────────
    // Banded self-join (candidate pairs = id distance ≤ 10 — stand-in
    // for the LSH-bucket candidate generation above, which is the
    // production pruning) → cosine > 0.25 → near-dup pairs. The range
    // condition is rewritten as explode(candidate ids) + EQUI-join: a
    // plain range join would plan as a nested-loop product that
    // re-evaluates the vector projection per probed pair (measured 67 s
    // at sf0.1 vs ~1 s for this shape). At scale the candidate
    // generation is the LSH bucket instead of the id band; the join
    // shape is identical.
    Q(
      "dedup_embedding_cosine",
      (s, d) => {
        val e = embeddings(s, d)
        val a = e.select(col("vec_id").as("id_a"), vec(col("embedding")).as("va"),
            explode(sequence(col("vec_id") + 1, col("vec_id") + 10)).as("id_b"))
        val b = e.select(col("vec_id").as("id_b"), vec(col("embedding")).as("vb"))
        a.join(b, "id_b")
          .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("sim"))
          .filter(col("sim") > 0.25)
          .orderBy("id_a", "id_b")
      },
      Some {
        val c = sqlCosine(sqlVec("a.embedding"), sqlVec("b.embedding"))
        s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, $c AS sim
           |FROM embeddings a JOIN embeddings b
           |  ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 10
           |WHERE $c > 0.25
           |ORDER BY id_a, id_b""".stripMargin
      }
    ),

    // ── product-quantization ANN top-k (the memory-compression path) ───
    // IVF prunes WHICH vectors to score; PQ compresses HOW each vector
    // is stored: 64 dims → 8 subspaces × 8 dims, each subvector replaced
    // by the index of its nearest sub-codebook entry (16 entries from
    // the deterministic hash-ordered sample). A vector becomes 8 small
    // codes; query scoring is the asymmetric distance Σ_m ‖q_m −
    // cb[m][code_m]‖² — at 100 TB this is why PQ exists: the scored
    // index is codes (8 bytes/vector), not raw floats (256 bytes), and
    // encoding is a NARROW PER-ROW MAP against a broadcast codebook.
    // The benched path is [[pqTopk]], a typed mapPartitions kernel: one
    // corpus scan, broadcast codebook, per-row while-loops, top-10 via
    // TakeOrderedAndProject — no shuffle of the corpus. Its arithmetic
    // replays the HOF composition [[pqTopkHof]] fold-for-fold (strict <
    // argmin keeps the lowest code index, += is the left fold), so all
    // three of kernel, HOF form, and DuckDB replay are bit-identical —
    // kernel ≡ HOF is asserted in VectorSpec; kernel ≡ oracle is this
    // query's CORRECTNESS row.
    Q(
      "ann_pq_topk",
      (s, d) => pqTopk(s, d),
      Some {
        val l2sub = (a: String, b: String) => sqlSeqSum(
          s"list_transform(range(1, 9), i -> " +
            s"($a[m * 8 + i] - $b[m * 8 + i]) * ($a[m * 8 + i] - $b[m * 8 + i]))")
        s"""WITH cents AS (
           |  SELECT vec_id AS cid, ${sqlVec("embedding")} AS cv FROM embeddings
           |  ORDER BY ${Tables.detHashSql("vec_id")}, vec_id LIMIT 16),
           |cbt AS (SELECT list(struct_pack(cid := cid, cv := cv) ORDER BY cid) AS cb
           |        FROM cents),
           |q AS (SELECT ${sqlVec("embedding")} AS qv FROM embeddings WHERE vec_id = 0),
           |enc AS (
           |  SELECT e.vec_id, cbt.cb, q.qv,
           |    list_transform(range(0, 8), m ->
           |      list_reduce(
           |        list_transform(range(1, 17), ci -> struct_pack(
           |          dist := ${l2sub(s"(${sqlVec("e.embedding")})", "cb[ci].cv")},
           |          ci := ci)),
           |        (a, b) -> CASE WHEN b.dist < a.dist THEN b ELSE a END).ci) AS codes
           |  FROM embeddings e, cbt, q WHERE e.vec_id <> 0)
           |SELECT vec_id,
           |  ${sqlSeqSum(s"list_transform(range(0, 8), m -> ${l2sub("qv", "cb[codes[m + 1]].cv")})")} AS adist
           |FROM enc
           |ORDER BY adist ASC, vec_id ASC LIMIT 10""".stripMargin
      }
    ),

    // ── residual quantization: coarse + residual-PQ (IVFADC shape) ─────
    // VERDICT-r14 task 6 — the refinement step production FAISS runs
    // between IVF and PQ: encode each vector's RESIDUAL against its
    // coarse centroid instead of the raw vector, so the PQ codebooks
    // spend their 16 entries on the (much smaller) residual cloud.
    // Fully deterministic two-level pipeline: (1) unit-normalize (the
    // SQ8 convention — quantized-L2 order then targets the cosine
    // ranking the tiers are graded against); (2) coarse codebook = the
    // 16 detHash-first picks (the initCentroids convention), c1 =
    // full-vector L2 argmin; (3) residual codebook = the RESIDUALS of
    // picks 17..32 encoded against the coarse book, per-subspace argmin
    // over 8 dims × 16 entries (the PQ shape); (4) asymmetric distance
    // Σ_m ‖q_m − (C1[c1]_m + C2[c2_m]_m)‖². Everything is +,−,×,
    // strict-< argmins with ascending-index tie order — the oracle
    // replays codebook construction, both encodes, and the scoring
    // bit-for-bit. Recall beats raw PQ (residuals ARE smaller — pinned
    // in Round15Spec via ann_recall_report's new rq row). SCALE: the
    // two codebooks are 32 rows total (broadcast literals); the corpus
    // is scanned once with a narrow per-row encode — at 100 TB the
    // codes persist as INT columns and scoring touches only the 8-byte
    // codes, the IVFADC serving shape.
    Q(
      "ann_rq_topk",
      (s, d) => rqTopk(s, d),
      Some {
        val l2full = (a: String, b: String) => sqlSeqSum(
          s"list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))")
        val l2sub = (a: String, b: String) => sqlSeqSum(
          s"list_transform(range(1, 9), i -> " +
            s"($a[m * 8 + i] - $b[m * 8 + i]) * ($a[m * 8 + i] - $b[m * 8 + i]))")
        val argmin16 = (body: String) =>
          s"""list_reduce(
             |        list_transform(range(1, 17), ci -> struct_pack(
             |          dist := $body,
             |          ci := ci)),
             |        (a, b) -> CASE WHEN b.dist < a.dist THEN b ELSE a END).ci""".stripMargin
        s"""WITH eu AS MATERIALIZED (
           |  SELECT vec_id,
           |    list_transform(v, x -> x / nrm) AS u
           |  FROM (SELECT vec_id, ${sqlVec("embedding")} AS v,
           |          ${sqlNorm(sqlVec("embedding"))} AS nrm FROM embeddings)),
           |pk AS (SELECT vec_id, u,
           |         row_number() OVER (ORDER BY ${Tables.detHashSql("vec_id")}, vec_id) AS rn
           |       FROM eu),
           |cb1t AS (SELECT list(struct_pack(cid := vec_id, cv := u) ORDER BY vec_id) AS cb1
           |         FROM pk WHERE rn <= 16),
           |res AS (
           |  SELECT vec_id AS cid,
           |    list_transform(range(1, 65), i -> u[i] - cb1[c1].cv[i]) AS cv
           |  FROM (SELECT p.vec_id, p.u, cb1t.cb1,
           |          ${argmin16(l2full("p.u", "cb1[ci].cv"))} AS c1
           |        FROM pk p, cb1t WHERE p.rn > 16 AND p.rn <= 32)),
           |cb2t AS (SELECT list(struct_pack(cid := cid, cv := cv) ORDER BY cid) AS cb2
           |         FROM res),
           |q AS (SELECT u AS qu FROM eu WHERE vec_id = 0),
           |enc1 AS (
           |  SELECT e.vec_id, e.u, cb1t.cb1, cb2t.cb2, q.qu,
           |    ${argmin16(l2full("e.u", "cb1[ci].cv"))} AS c1
           |  FROM eu e, cb1t, cb2t, q WHERE e.vec_id <> 0),
           |enc2 AS (
           |  SELECT vec_id, cb2, qu, cb1[c1].cv AS cv1,
           |    list_transform(range(1, 65), i -> u[i] - cb1[c1].cv[i]) AS r
           |  FROM enc1),
           |enc3 AS (
           |  SELECT vec_id, cb2, qu, cv1,
           |    list_transform(range(0, 8), m ->
           |      ${argmin16(l2sub("r", "cb2[ci].cv"))}) AS codes
           |  FROM enc2)
           |SELECT vec_id,
           |  ${sqlSeqSum(
              "list_transform(range(0, 8), m -> " + sqlSeqSum(
                "list_transform(range(1, 9), i -> " +
                  "(qu[m * 8 + i] - cv1[m * 8 + i] - cb2[codes[m + 1]].cv[m * 8 + i]) * " +
                  "(qu[m * 8 + i] - cv1[m * 8 + i] - cb2[codes[m + 1]].cv[m * 8 + i]))") + ")")} AS adist
           |FROM enc3
           |ORDER BY adist ASC, vec_id ASC LIMIT 10""".stripMargin
      }
    ),

    // ── prefix-dimension re-rank (Matryoshka-style progressive ANN) ────
    // Stage 1 ranks by cosine over the FIRST 32 of 64 dims (half the
    // arithmetic and — at scale, with a materialized prefix column — half
    // the bytes scanned) and keeps top-50; stage 2 re-ranks the 50
    // survivors with the exact full-width cosine. The
    // coarse-filter → exact-re-rank shape of Matryoshka/MRL-truncated
    // embedding serving, here with both stages deterministic (same
    // left-to-right folds, (sim, vec_id) total order) so the oracle
    // replays the exact candidate set and final ranking. Plan: corpus
    // scanned once, 1-row query broadcast, TakeOrderedAndProject per
    // stage — no corpus shuffle.
    Q(
      "ann_prefix_rerank",
      (s, d) => {
        val e = embeddings(s, d)
        val q = e.filter(col("vec_id") === 0L)
          .select(vec(col("embedding")).as("qv"))
        val cand = e.filter(col("vec_id") =!= 0L)
          .select(col("vec_id"), vec(col("embedding")).as("v"))
          .crossJoin(broadcast(q))
          .select(col("vec_id"), col("v"), col("qv"),
            cosine(slice(col("v"), 1, 32), slice(col("qv"), 1, 32)).as("psim"))
          .orderBy(col("psim").desc, col("vec_id").asc)
          .limit(50)
        cand.select(col("vec_id"), cosine(col("v"), col("qv")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc)
          .limit(10)
      },
      Some {
        val v16 = s"((${sqlVec("c.embedding")})[1:32])"
        val q16 = s"((${sqlVec("q.embedding")})[1:32])"
        s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
           |cand AS (
           |  SELECT c.vec_id, c.embedding, q.embedding AS qe,
           |    ${sqlCosine(v16, q16)} AS psim
           |  FROM embeddings c, q WHERE c.vec_id <> 0
           |  ORDER BY psim DESC, c.vec_id ASC LIMIT 50)
           |SELECT vec_id,
           |  ${sqlCosine(sqlVec("embedding"), sqlVec("qe"))} AS sim
           |FROM cand
           |ORDER BY sim DESC, vec_id ASC LIMIT 10""".stripMargin
      }
    ),

    // ── range search: every neighbor within a similarity radius ────────
    // The other half of the ANN API surface: top-k answers "best k",
    // range search answers "everything closer than τ" (the radius query
    // FAISS calls range_search) — the primitive behind near-dup KEEP
    // DECISIONS (SemDeDup keeps/drops by a τ cut, not a k cut). Same
    // single-scan shape as ann_bruteforce_topk: 1-row query broadcast,
    // corpus scanned once, the τ predicate evaluated inside the scan's
    // WholeStageCodegen — the result set (not the corpus) is what
    // shuffles into the final order. Cosines are the bit-identical
    // shared fold, so the τ comparison cuts identically in both
    // engines (no knife edge unless a corpus vector lands EXACTLY on
    // τ, which VectorSpec's margin assertion rules out). At 100 TB the
    // same query runs against the IVF layout: probe the cells whose
    // centroid distance can beat τ, scan only those.
    Q(
      "ann_range_search",
      (s, d) => {
        val e = embeddings(s, d)
        val query = e.filter(col("vec_id") === 0L)
          .select(vec(col("embedding")).as("qv"))
        e.filter(col("vec_id") =!= 0L)
          .crossJoin(broadcast(query))
          .select(col("vec_id"), cosine(vec(col("embedding")), col("qv")).as("sim"))
          .filter(col("sim") >= RangeTau)
          .orderBy(col("sim").desc, col("vec_id").asc)
      },
      Some {
        val c = sqlCosine(sqlVec("e.embedding"), "q.qv")
        s"""WITH q AS (SELECT ${sqlVec("embedding")} AS qv FROM embeddings WHERE vec_id = 0)
           |SELECT e.vec_id, $c AS sim
           |FROM embeddings e, q WHERE e.vec_id <> 0 AND $c >= $RangeTau
           |ORDER BY sim DESC, e.vec_id ASC""".stripMargin
      }
    ),

    // ── SQ8 codes: the quantized corpus itself ─────────────────────────
    // What a production pipeline materializes once and serves ANN from:
    // int8 codes per vector (64 B vs 256 B float32). The 64 BIGINT codes
    // are emitted as one md5-of-joined-codes scalar per vector (the
    // byte-exact convention text_chunk_windows/text_pii_scrub use): the
    // driver compare sorts rows with pandas, which cannot order a
    // top-level list column, so the signature is what makes encoder
    // parity a driver-hashable claim. Any single code differing flips
    // the md5, so this is exactly as strong as comparing the arrays.
    Q(
      "vec_quantize_int8",
      (s, d) => sq8(s, d)
        .select(col("vec_id"),
          md5(array_join(transform(col("qv"), _.cast("string")), ",")).as("qv_md5"))
        .orderBy("vec_id"),
      Some(s"""WITH $sqlSq8Ctes
              |SELECT vec_id,
              |  md5(array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ',')) AS qv_md5
              |FROM sq8 ORDER BY vec_id""".stripMargin)
    ),

    // ── SQ8 top-k: ANN over the quantized codes ────────────────────────
    // Asymmetric nothing — both sides quantized, distance is the exact
    // BIGINT Σ(Δcode)², so ranking is integer-total-ordered (ties broken
    // by vec_id) with zero float hazards. Plan shape matches
    // ann_bruteforce_topk: corpus scanned once, 1-row query side
    // broadcast, TakeOrderedAndProject — no corpus shuffle. Recall vs
    // the float cosine truth is surfaced in ann_recall_report (the
    // unit-normalization above is what makes quantized-L2 chase the
    // same ranking).
    Q(
      "ann_sq8_topk",
      (s, d) => {
        val all = sq8(s, d)
        val q = all.filter(col("vec_id") === 0L).select(col("qv").as("qq"))
        all.filter(col("vec_id") =!= 0L)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            aggregate(zip_with(col("qv"), col("qq"), (a, b) => (a - b) * (a - b)),
              lit(0L), (acc, x) => acc + x).as("qdist"))
          .orderBy(col("qdist").asc, col("vec_id").asc)
          .limit(10)
      },
      Some(s"""WITH $sqlSq8Ctes,
              |qq AS (SELECT qv AS qq FROM sq8 WHERE vec_id = 0)
              |SELECT s.vec_id,
              |  CAST(list_aggregate(list_transform(list_zip(s.qv, qq.qq),
              |    p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS BIGINT) AS qdist
              |FROM sq8 s, qq WHERE s.vec_id <> 0
              |ORDER BY qdist ASC, s.vec_id ASC LIMIT 10""".stripMargin)
    ),

    // ── binary (1-bit) quantization + Hamming search + exact rerank ────
    // The third production quantizer tier after SQ8 and PQ: binarize
    // each dimension against its corpus MEAN, pack the 64 sign bits
    // into two 32-bit words (never touching a BIGINT sign bit — the
    // Bloom-filter packing rule), scan candidates by Hamming distance
    // (two XOR+popcounts per comparison — the 64-byte float vector
    // becomes 8 bytes, and at 100 TB the packed column IS the resident
    // index), then rerank the top 32 binary candidates by exact float
    // cosine. The binarization threshold is ALL-INTEGER: bit_j =
    // qx_j·n > Σqx_j over the 2^-20-quantized coordinates, so both
    // engines pack identical words without a float mean ever being
    // compared. Probe = one broadcast row; candidates =
    // TakeOrderedAndProject; rerank touches 32 rows.
    Q(
      "ann_binary_topk",
      (s, d) => {
        val e = embeddings(s, d)
          .select(col("vec_id"), transform(vec(col("embedding")),
            x => floor(x * 1048576.0).cast("long")).as("qx"))
        val dims = e.select(posexplode(col("qx")).as(Seq("j", "x")))
          .groupBy("j").agg(sum("x").as("sx"), count(lit(1)).as("n"))
        val st = dims.groupBy()
          .agg(sort_array(collect_list(struct(col("j"), col("sx"), col("n"))))
            .as("st"))
        def word(lo: Int, hi: Int) =
          expr(s"""aggregate(sequence($lo, $hi), CAST(0 AS BIGINT), (acc, i) ->
                  |  acc + CASE WHEN element_at(qx, i) * element_at(st, i).n >
                  |                  element_at(st, i).sx
                  |        THEN shiftleft(CAST(1 AS BIGINT), i - $lo)
                  |        ELSE CAST(0 AS BIGINT) END)""".stripMargin)
        val packed = e.crossJoin(broadcast(st))
          .select(col("vec_id"), word(1, 32).as("w1"), word(33, 64).as("w2"))
          .transform(GenSnap.snap) // probe row + candidate scan share it
        val q = packed.filter(col("vec_id") === 0L)
          .select(col("w1").as("q1"), col("w2").as("q2"))
        val cands = packed.filter(col("vec_id") =!= 0L)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            (expr("bit_count(w1 ^ q1)") + expr("bit_count(w2 ^ q2)"))
              .as("hamming"))
          .orderBy(col("hamming").asc, col("vec_id").asc)
          .limit(32)
        val qv = embeddings(s, d).filter(col("vec_id") === 0L)
          .select(vec(col("embedding")).as("qv"))
        cands
          .join(embeddings(s, d)
            .select(col("vec_id"), vec(col("embedding")).as("v")), "vec_id")
          .crossJoin(broadcast(qv))
          .select(col("vec_id"), col("hamming"),
            cosine(col("v"), col("qv")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc)
          .limit(10)
      },
      Some {
        val c = sqlCosine(sqlVec("e.embedding"), "q.qv")
        def w(lo: Int, hi: Int) =
          s"""CAST(list_reduce(list_transform(range($lo, ${hi + 1}), i ->
             |      CASE WHEN qx[CAST(i AS INT)] * stq.st[CAST(i AS INT)].n >
             |                stq.st[CAST(i AS INT)].sx
             |           THEN CAST(1 AS BIGINT) << CAST(i - $lo AS INT)
             |           ELSE CAST(0 AS BIGINT) END), (a, b) -> a + b) AS BIGINT)""".stripMargin
        s"""WITH qx AS (
           |  SELECT vec_id, list_transform(${sqlVec("embedding")},
           |    x -> CAST(floor(x * 1048576) AS BIGINT)) AS qx
           |  FROM embeddings),
           |dims AS (
           |  SELECT j, CAST(sum(qx[j]) AS BIGINT) AS sx,
           |         CAST(count(*) AS BIGINT) AS n
           |  FROM qx, (SELECT unnest(range(1, 65)) AS j) js GROUP BY j),
           |stq AS (SELECT list(struct_pack(sx := sx, n := n) ORDER BY j) AS st
           |        FROM dims),
           |packed AS (
           |  SELECT vec_id,
           |    ${w(1, 32)} AS w1,
           |    ${w(33, 64)} AS w2
           |  FROM qx, stq),
           |qq AS (SELECT w1 AS q1, w2 AS q2 FROM packed WHERE vec_id = 0),
           |cands AS (
           |  SELECT p.vec_id,
           |    CAST(bit_count(xor(p.w1, q1)) + bit_count(xor(p.w2, q2)) AS INT)
           |      AS hamming
           |  FROM packed p, qq WHERE p.vec_id <> 0
           |  ORDER BY hamming ASC, p.vec_id ASC LIMIT 32)
           |SELECT cd.vec_id, cd.hamming, $c AS sim
           |FROM cands cd JOIN embeddings e USING (vec_id),
           |  (SELECT ${sqlVec("embedding")} AS qv FROM embeddings WHERE vec_id = 0) q
           |ORDER BY sim DESC, cd.vec_id ASC LIMIT 10""".stripMargin
      }
    ),

    // ── fixed-point PCA: top principal component, bit-deterministic ────
    // The PCA-reduction step a SemDeDup/whitening pipeline runs before
    // clustering, made hash-checkable the way graph_pagerank_exact made
    // PageRank checkable: quantize each embedding to uint8 levels (the
    // vec_find_edges grid), accumulate the EXACT integer scatter
    // C = n·Σxxᵀ − (Σx)(Σx)ᵀ in one distributed pass (explode 64×64
    // products → partial-agg; the shuffle carries 4,096 keyed sums, not
    // vectors), then converge by REPEATED MATRIX SQUARING: 12 rounds of
    // M ← normalize(M·M) compute the direction of C^4096·1, so even a
    // 0.99 eigengap is damped to 0.99^4096 ≈ 10⁻¹⁸ — plain unrolled
    // power iteration cannot separate this corpus's near-flat spectrum
    // in any practical unroll (measured cos 0.07 at sf0.1 after 64
    // matvecs; squaring reaches cos 1.000 at every sf). All arithmetic
    // is integer: products of L∞-2^26-normalized entries summed over 64
    // terms stay under 2^58 (measured ≤ 2^56), renormalization is the
    // sign-split truncating division (// floors negatives in DuckDB but
    // truncates in Scala — the CASE/sign split makes every division a
    // positive one) through BigInt/HUGEINT. The 64×64 matrix collects
    // to the driver — the same k-row loop-state boundary as the k-means
    // codebook; the oracle replays the 12 squarings as relational
    // matmul CTEs. No float enters at any step; Round10Spec checks the
    // result against a double-precision eigensolve (cos ≥ 0.99).
    Q(
      "vec_pca_power",
      (s, d) => {
        import s.implicits._
        val SM = 1L << 26; val S = 1L << 20; val T = 12
        // stage the cast array as a real column FIRST: a HOF lambda
        // re-evaluates captured subexpressions per element, so indexing
        // vec(embedding) inside the transform paid 64 array casts per row
        val lvls = transform(sequence(lit(0), lit(63)), i =>
          least(greatest(
            floor((element_at(col("ve"), (i + 1).cast("int")) + 0.5) * 256)
              .cast("long"), lit(0L)), lit(255L)))
        val lv = embeddings(s, d).select(vec(col("embedding")).as("ve"))
          .select(lvls.as("lvl"))
        // ONE fused corpus pass (count + Σx + Σx·xᵀ, see GramAgg) in
        // place of the former three (count / posexplode-64 sum /
        // posexplode-4096 gram); integer sums are order-free so the
        // fusion is bit-exact and the DuckDB oracle is untouched.
        import org.apache.spark.sql.graft.{Bridge, GramAgg}
        val momRow = lv.agg(Bridge.column(
          GramAgg(Bridge.expression(col("lvl")), 64).toAggregateExpression())
          .as("m")).head().getSeq[Long](0)
        val n = momRow(0)
        val sums = Array.tabulate(64)(i => momRow(1 + i))
        val gram = Array.tabulate(4096)(k => momRow(65 + k))
        def renorm(mm: Array[Array[Long]], scale: Long): Array[Array[Long]] = {
          val m = mm.iterator.flatten.map(math.abs).max
          require(m > 0, "degenerate scatter — squaring collapses to zero")
          mm.map(_.map { x =>
            val w = (BigInt(x).abs * scale / m).toLong
            if (x < 0) -w else w
          })
        }
        var c = renorm(Array.tabulate(64, 64) { (i, j) =>
          n * gram(i * 64 + j) - sums(i) * sums(j)
        }, SM)
        for (_ <- 1 to T)
          c = renorm(Array.tabulate(64, 64) { (i, j) =>
            (0 until 64).map(k => c(i)(k) * c(k)(j)).sum
          }, SM)
        val v0 = c.map(_.sum)
        val m = v0.map(math.abs).max
        require(m > 0, "zero projection — degenerate corpus")
        val v = v0.map { x =>
          val w = (BigInt(x).abs * S / m).toLong
          if (x < 0) -w else w
        }
        v.indices.map(i => (i.toLong, v(i))).toDF("dim", "w").orderBy("dim")
      },
      Some {
        val v = sqlVec("embedding")
        val lvl = s"list_transform(range(0, 64), i -> " +
          s"least(greatest(CAST(floor(($v[CAST(i + 1 AS INT)] + 0.5) * 256) AS BIGINT), 0), 255))"
        def norm(src: String, out: String, scale: Long): String =
          s"""${out}m AS MATERIALIZED (SELECT max(abs(c)) AS m FROM $src),
             |$out AS MATERIALIZED (SELECT i, j,
             |  CASE WHEN c < 0
             |    THEN -CAST((CAST(-c AS HUGEINT) * $scale) // m AS BIGINT)
             |    ELSE CAST((CAST(c AS HUGEINT) * $scale) // m AS BIGINT) END AS c
             |  FROM $src, ${out}m)""".stripMargin
        val rounds = (1 to 12).map { t =>
          val prev = if (t == 1) "c0" else s"c${t - 1}"
          s"""sq$t AS MATERIALIZED (SELECT a.i, b.j, CAST(sum(a.c * b.c) AS BIGINT) AS c
             |         FROM $prev a JOIN $prev b ON a.j = b.i GROUP BY a.i, b.j),
             |${norm(s"sq$t", s"c$t", 1L << 26)}""".stripMargin
        }.mkString(",\n")
        s"""WITH l AS MATERIALIZED (SELECT $lvl AS lvl FROM embeddings),
           |idx AS MATERIALIZED (SELECT unnest(range(0, 64)) AS i),
           |n AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM l),
           |sums AS MATERIALIZED (SELECT i.i, CAST(sum(l.lvl[CAST(i.i + 1 AS INT)]) AS BIGINT) AS s
           |         FROM l, idx i GROUP BY i.i),
           |g AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
           |        CAST(sum(l.lvl[CAST(a.i + 1 AS INT)] * l.lvl[CAST(b.i + 1 AS INT)]) AS BIGINT) AS g
           |      FROM l, idx a, idx b GROUP BY a.i, b.i),
           |craw AS MATERIALIZED (SELECT g.i, g.j, n.n * g.g - sa.s * sb.s AS c
           |         FROM g, n, sums sa, sums sb
           |         WHERE sa.i = g.i AND sb.i = g.j),
           |${norm("craw", "c0", 1L << 26)},
           |$rounds,
           |vr AS MATERIALIZED (SELECT i, CAST(sum(c) AS BIGINT) AS x FROM c12 GROUP BY i),
           |vm AS MATERIALIZED (SELECT max(abs(x)) AS m FROM vr)
           |SELECT i AS dim,
           |  CASE WHEN x < 0
           |    THEN -CAST((CAST(-x AS HUGEINT) * ${1L << 20}) // m AS BIGINT)
           |    ELSE CAST((CAST(x AS HUGEINT) * ${1L << 20}) // m AS BIGINT) END AS w
           |FROM vr, vm ORDER BY dim""".stripMargin
      }
    )
  )
}
