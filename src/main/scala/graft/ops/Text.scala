package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GenSnap

/** Text-analysis + deduplication operators over `documents.parquet` —
  * the beyond-reference training-data-pipeline surface (SURVEY.md §2.6):
  * token/quality stats, n-gram language ID, BPE-ish token counting,
  * rolling-hash fingerprinting, exact dedup, MinHash-LSH near-dup,
  * SimHash, and n-gram Jaccard near-dup. The reference's own string ops
  * (lower/contains label matching,
  * /root/reference/kmeans_clustering/image_classification.py:204-208)
  * appear here as the language-marker matching.
  *
  * Oracle strategy: all numeric reductions are integer arithmetic
  * (exact, order-free) or sequential folds (Spark `aggregate` ≡ DuckDB
  * `list_reduce` after `list_prepend(init, …)`). String hashing uses
  * md5 — identical hex on both engines — parsed to BIGINT via
  * `conv(hex,16,10)` (Spark) ≡ `('0x'||hex)::BIGINT` (DuckDB), 15 hex
  * digits so it stays in the positive int64 range.
  *
  * Scale notes: every per-doc computation is a narrow map over one text
  * cell — no shuffle, full whole-stage codegen. The only shuffles are
  * the dedup group-bys/joins, which key on hashes (uniformly
  * distributed → no skew). MinHash-LSH candidate pairs come from a
  * band-bucket equi-join — never an all-pairs product — which is the
  * O(n·candidates) shape that survives 100 TB.
  */
object Text {

  import Tables._

  def tokens(c: Column): Column = split(c, " ")

  /** Overflow-safe scaled truncating division: n*scale/d without forming
    * the n*scale product. Exact for n,d,scale ≥ 0 by the Euclidean split
    * n = (n/d)*d + n%d — floor((n*s)/d) = (n/d)*s + floor((n%d)*s/d)
    * because the first term's numerator is divisible by d. Headroom moves
    * from n·scale < 2^63 (DoReMi: a domain of ~1M tokens wraps a Long at
    * the 2^20 grid — ADVICE r13) to d·scale < 2^63 (~8.8e12 tokens per
    * domain at 2^20). The oracle uses the token-identical SQL identity
    * (see sqlScaledDiv) so both engines stay bit-equal at every sf. */
  def scaledDiv(n: Long, d: Long, scale: Long): Long =
    (n / d) * scale + (n % d) * scale / d

  /** DuckDB form of scaledDiv — `//` truncates like Scala's Long `/` on
    * the non-negative operands these fixed-point paths produce. */
  def sqlScaledDiv(n: String, d: String, scale: String): String =
    s"(($n) // ($d)) * ($scale) + (($n) % ($d)) * ($scale) // ($d)"

  // ── BM25 retrieval kernel (shared by text_bm25_topk + ann_hybrid_rrf) ─
  /** The standing query-term set for the gated retrieval queries. */
  val Bm25Terms: Seq[String] = Seq("spark", "join", "filter")

  /** BM25 top-20 over `documents` for [[Bm25Terms]] — Lucene-form idf
    * floor-quantized to 2^-20 (see text_bm25_topk's Q comment for the
    * cross-engine determinism argument), k1=1.2, b=0.75. Shape:
    * candidate set from an inverted-index probe, one 1-row stats
    * broadcast, per-row scoring, TakeOrderedAndProject. */
  def bm25Top20(s: SparkSession, d: String): DataFrame = {
    val qterms = Bm25Terms
    val docs = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("dl"))
      .transform(GenSnap.snap) // stats agg + candidate probe + scoring join read one tokenization
    val statAggs = sum(col("dl")).as("totdl") +:
      qterms.map(w => sum(when(array_contains(col("t"), w), 1L)
        .otherwise(0L)).as(s"df_$w"))
    val stats = docs.agg(count(lit(1)).cast("long").as("n"), statAggs: _*)
      .select(col("*"), (col("totdl").cast("double") / col("n")).as("avgdl"))
    val cand = docs
      .select(col("doc_id"), explode(array_distinct(col("t"))).as("term"))
      .filter(col("term").isin(qterms: _*))
      .select("doc_id").distinct()
    val score = qterms.map { w =>
      val df = col(s"df_$w")
      val idf = floor(log((col("n") - df + 0.5) / (df + 0.5) + 1.0)
        * 1048576.0) / 1048576.0
      val tf = size(org.apache.spark.sql.functions.filter(col("t"),
        x => x === w)).cast("double")
      idf * (tf * 2.2 / (tf + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))))
    }.reduce(_ + _)
    cand.join(docs, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(20)
  }

  /** The CTE chain of [[bm25Top20]]'s oracle (docs/stats0/stats/cand) —
    * composable, so ann_hybrid_rrf's generated oracle embeds the SAME
    * lexical leg text_bm25_topk is gated on. */
  def bm25SqlCtes(): String = {
    val qterms = Bm25Terms
    val dfs = qterms.map(w =>
      s"CAST(sum(CASE WHEN list_contains(t, '$w') THEN 1 ELSE 0 END) AS BIGINT) AS df_$w")
      .mkString(",\n  ")
    s"""docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS t,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents),
       |stats0 AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS totdl,
       |  $dfs
       |  FROM docs),
       |stats AS (SELECT *, CAST(totdl AS DOUBLE) / n AS avgdl FROM stats0),
       |cand AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, unnest(t) AS term FROM docs)
       |  WHERE term IN (${qterms.map(w => s"'$w'").mkString(", ")}))""".stripMargin
  }

  /** The final SELECT of [[bm25Top20]]'s oracle over [[bm25SqlCtes]]. */
  def bm25SelectSql(): String = {
    val score = Bm25Terms.map { w =>
      val idf = s"floor(ln((s.n - s.df_$w + 0.5) / (s.df_$w + 0.5) + 1.0) * 1048576) / 1048576"
      val tf = s"CAST(len(list_filter(d.t, x -> x = '$w')) AS DOUBLE)"
      s"$idf * ($tf * 2.2 / ($tf + 1.2 * (0.25 + 0.75 * (CAST(d.dl AS DOUBLE) / s.avgdl))))"
    }.mkString("(", " + ", ")")
    s"""SELECT d.doc_id, $score AS score
       |FROM cand c JOIN docs d USING (doc_id), stats s
       |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
  }

  /** 60-bit integer hash of a string, identical in Spark and DuckDB. */
  def strHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")
  def sqlStrHash(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Integer-fold sum over an array — exact on both engines. */
  def intFold(arr: Column): Column =
    aggregate(arr, lit(0L), (s, x) => s + x.cast("long"))
  def sqlIntFold(arr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform($arr, x -> CAST(x AS BIGINT))), (s, x) -> s + x)"

  // language markers for the n-gram-heuristic language ID
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "los", "que"),
    "fr" -> Seq("le", "les", "des"),
    "zh" -> Seq("的", "是")
  )

  private def markerScore(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(words.map(lit): _*), t)))
  private def sqlMarkerScore(toks: String, words: Seq[String]): String =
    s"len(list_filter($toks, t -> list_contains([${words.map(w => s"'$w'").mkString(",")}], t)))"

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "der", "le", "el")

  // MinHash parameters: 8 permutations (a_j·h + b_j) mod p over a 32-bit
  // prime; 2 LSH bands of 4 rows.
  private val P32 = 4294967291L
  private def permA(j: Int): Long = 2L * j + 3
  private def permB(j: Int): Long = 7919L * j + 1

  /** Per-word hashes — ONE md5 per token (the only hashing pass). */
  def wordHashes(toks: Column): Column = transform(toks, w => strHash(w) % P32)

  /** Word-bigram shingle hashes from a MATERIALIZED word-hash column.
    * The staging matters: wh must be a real column (separate projection),
    * not an inline expression — HOF lambdas re-evaluate captured
    * subexpressions per element, which turns the hashing quadratic
    * (measured 250 s at sf0.1 inline vs ~2 s staged). */
  def shinglesFromWh(wh: Column): Column =
    when(size(wh) >= 2,
      transform(sequence(lit(1), size(wh) - 1),
        i => element_at(wh, i.cast("int")) * 1000003L + element_at(wh, (i + 1).cast("int"))))
      .otherwise(array(element_at(wh, 1)))

  /** MinHash signature from a materialized shingle-hash column. */
  def sigFromHs(hs: Column): Column =
    array((0 until 8).map(j =>
      array_min(transform(hs, h => ((h % P32) * permA(j) + permB(j)) % P32))): _*)

  /** Convenience one-shot form for small/test inputs (NOT the query hot
    * path — see staging note above). */
  def minhashSig(toks: Column): Column = {
    val wh = wordHashes(toks)
    val hs = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => element_at(wh, i.cast("int")) * 1000003L + element_at(wh, (i + 1).cast("int"))))
      .otherwise(array(element_at(wh, 1)))
    sigFromHs(hs)
  }

  /** Staged per-doc sketch over ANY (doc_id, text) frame — batch or
    * streaming (pure per-row expressions, no state): (doc_id, sig, sh)
    * with each stage a real projection so nothing is recomputed. `sh`
    * is the distinct shingle set (for exact Jaccard), `sig` the 8-perm
    * MinHash. */
  def sketchOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), wordHashes(tokens(col("text"))).as("wh"))
      .select(col("doc_id"), shinglesFromWh(col("wh")).as("hs"))
      .select(col("doc_id"), sigFromHs(col("hs")).as("sig"),
        array_distinct(col("hs")).as("sh"))

  /** [[sketchOf]] over the documents table. */
  def docSketch(s: SparkSession, d: String): DataFrame =
    sketchOf(documents(s, d))

  /** The same staged sketch as DuckDB CTEs (wh/hs are per-row columns of
    * their CTE, so each stage is evaluated once, mirroring the Spark
    * projections). */
  val sqlSketchCtes: String = {
    val sig = "[" + (0 until 8).map(j =>
      s"list_aggregate(list_transform(hs, h -> ((h % $P32) * ${permA(j)} + ${permB(j)}) % $P32), 'min')")
      .mkString(", ") + "]"
    s"""wh AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), w -> ${sqlStrHash("w")} % $P32) AS wh
       |  FROM documents),
       |hst AS (
       |  SELECT doc_id, CASE WHEN len(wh) >= 2
       |    THEN list_transform(range(1, len(wh)), i -> wh[i] * 1000003 + wh[i + 1])
       |    ELSE [wh[1]] END AS hs
       |  FROM wh),
       |sketch AS (
       |  SELECT doc_id, $sig AS sig, list_distinct(hs) AS sh FROM hst)""".stripMargin
  }

  /** MinHash-LSH candidate pairs with exact Jaccard: bands of 4
    * signature rows → bucket equi-join (NO all-pairs product) → exact
    * bigram-set Jaccard on the candidates only. Shared by
    * `dedup_minhash_pairs` (reports scores) and
    * `dedup_cluster_canonical` (clusters above a threshold). */
  // sketch (sig + shingle set) computed ONCE per (session, dir), cached,
  // and the handle memoized: every branch of every dedup query (band
  // sides, jaccard sides, across all five queries in a session) reuses
  // ONE materialization instead of re-hashing the corpus. The cache is
  // deliberately session-lifetime — bounded by the corpus sketch size and
  // released at session stop — and the memo means cache() is issued once,
  // not once per query (repeat calls only log CacheManager warning spam).
  private val sketchMemo = graft.SessionMemo[DataFrame]()

  /** The memoized cached corpus sketch — shared by the dedup family and
    * decontamination. Besides amortizing the hashing, the cache is an
    * OPTIMIZER BARRIER: predicates inferred above it (e.g. a join key's
    * isnotnull) evaluate against the cached `sh` column instead of being
    * pushed down and re-derived from `text` — which would inline the
    * whole tokenize→hash→shingle pipeline inside per-element lambdas
    * (the quadratic re-evaluation pitfall; measured 65 s vs 1.5 s on
    * text_decontaminate at sf0.1). */
  /** Spec probe: how many times the corpus sketch was actually computed
    * in this process — the artifact-era streaming serve must read the
    * PUBLISHED sketch table, never re-sketch the corpus (Round17Spec). */
  private[graft] val sketchBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  private def cachedSketch(s: SparkSession, d: String): DataFrame =
    sketchMemo.getOrCompute(s, d) {
      sketchBuilds.incrementAndGet()
      docSketch(s, d).transform(GenSnap.stage(_))
    }

  // The ≥0.5-Jaccard near-dup pair set — the SPINE of the dedup
  // pipeline: clustering, triangle counting, and the keep list all
  // consume exactly this edge list. Like the sketch it is memoized and
  // cached once per (session, dir): in a production pipeline the pair
  // set is computed once and every downstream stage reads the
  // materialization, and the cache is tiny (only pairs ABOVE the
  // threshold — thousands of rows, two longs each, at any corpus size
  // the candidate pruning keeps it ~linear in the duplicate count).
  // Round-6 history: converting per-query cache() to localCheckpoint()
  // silently dropped the cross-query reuse the CacheManager had been
  // providing (r5→r6 dedup drift, +2.2 s aggregate at sf0.1) — this
  // memo restores the sharing EXPLICITLY with the same bounded,
  // session-lifetime policy as the sketch, instead of as an accident of
  // plan canonicalization.
  private val dupEdgesMemo = graft.SessionMemo[DataFrame]()

  /** Spec probe: how many times the pair spine was actually BUILT in
    * this process — the persisted keep-list's serve-without-rebuild pin
    * (Round16Spec, the nnIndexBuilds convention). */
  private[graft] val dupPairBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  private def dupEdges(s: SparkSession, d: String): DataFrame =
    dupEdgesMemo.getOrCompute(s, d) {
      dupPairBuilds.incrementAndGet()
      minhashPairs(s, d).filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b").transform(GenSnap.stage(_))
    }

  // ── persisted pair spine: build once, serve many (the ANN-index
  // convention generalized). The ≥0.5-Jaccard pair set AND the corpus
  // sketch (doc_id, sig, sh — the band/verify table ingest-time dedup
  // probes) are published as a graft.tools.Artifact family: the token
  // folds every sketch/band parameter (a perm or threshold change must
  // miss, never serve stale pairs), and the oracle reads the same
  // artifact keyed by the fingerprint it recomputes
  // (sum((doc_id+1)·n_chars) — exact BIGINT on both engines) with the
  // publish-unique `ak` selecting one version's rows.
  private def dupSig: String =
    graft.tools.Artifact.sig((0 until 8).flatMap(j => Seq(permA(j), permB(j))) :+ P32)
  private[graft] def dupIdxToken: String = s"dup2j50s$dupSig"

  /** The pair-spine family; `builds` counts spines published. */
  private[graft] val dupPersist = new graft.tools.Artifact.Family(dupIdxToken)

  private[graft] def docsFingerprint(s: SparkSession, d: String): Long =
    documents(s, d).agg(
      sum((col("doc_id") + lit(1L)) * col("n_chars"))).head().getLong(0)

  /** The text families' content key: the docs fingerprint. */
  private def docsKey(s: SparkSession, d: String): graft.tools.Artifact.Key =
    Seq("fp" -> docsFingerprint(s, d))

  private[graft] def sqlDocsFingerprint: String =
    "CAST(sum((doc_id + 1) * n_chars) AS BIGINT)"

  /** Distributed (rank, running sum) over `PARTITION BY part ORDER BY
    * h, doc_id` — the two-level prefix scan (text_weighted_sample's
    * shape, generalized per VERDICT-r16 task 4: the manifest/mixture
    * queries ran this as ONE window per source, a single reducer task
    * pulling terabytes per source at 100 TB). Level 1 ranks and sums
    * within (part, block) — block = the hash's top bits, a coarsening
    * of the sort key, so block order IS sort order — in parallel across
    * blocks; level 2 joins back a broadcast (parts × blocks)-sized
    * offset table. Values are identical to the flat window (the oracle
    * replays the flat form).
    *
    * @param df   input with columns `part`, doc_id, `h` (bigint in
    *             [0, 2^32) — [[Tables.detHash]]), `w` (weight)
    * @return     df plus `rk` (1-based rank, long) and `cum` (running
    *             sum of w), minus no input columns */
  private def blockedRankCum(df: DataFrame, part: String, h: String,
      w: String): DataFrame = {
    val bw = Window.partitionBy(col(part), col("blk"))
      .orderBy(col(h).asc, col("doc_id").asc)
    val inBlk = df.withColumn("blk", (col(h) / lit(268435456L)).cast("long"))
      .withColumn("brk", row_number().over(bw))
      .withColumn("bcum", sum(w).over(
        bw.rowsBetween(Window.unboundedPreceding, 0)))
    val ow = Window.partitionBy(col(part)).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = inBlk.groupBy(col(part), col("blk"))
      .agg(count(lit(1)).as("bn"), sum(w).as("bt"))
      .select(col(part), col("blk"),
        coalesce(sum("bn").over(ow), lit(0L)).as("roff"),
        coalesce(sum("bt").over(ow), lit(0L)).as("boff"))
    inBlk.join(broadcast(offs), Seq(part, "blk"))
      .withColumn("rk", col("roff") + col("brk"))
      .withColumn("cum", col("boff") + col("bcum"))
      .drop("blk", "brk", "bcum", "roff", "boff")
  }

  private[graft] def dupPersistedPairs(s: SparkSession, d: String): String =
    dupPersist(s, d)(docsKey(s, d)) { (stage, ak) =>
      dupEdges(s, d).withColumn("ak", lit(ak))
        .write.mode("overwrite").parquet(s"$stage/pairs")
      cachedSketch(s, d)
        .write.mode("overwrite").parquet(s"$stage/sketch")
    }

  // ── dedup ingest re-publish: version N → N+1 ────────────────────────
  // The ingestion half of the dedup lifecycle, mirroring the ANN
  // family's insert publish: a batch of incoming docs (doc_id % 10 = 7,
  // the dedup_incremental convention) is sketched FRESH (batch-sized
  // work), band-joined against the PUBLISHED pre-ingest state read from
  // storage, and the post-ingest state is published as the next version
  // of its own family — pairs = the pre-ingest pair spine ∪ the batch's
  // best-match drop edges (old → new, so the arriving duplicate is the
  // id_b the keep-list drops), sketch = pre-ingest sketches ∪ the fresh
  // batch sketches. Jaccard is pairwise, so the pre-ingest state is
  // exactly the full-corpus artifact filtered to existing ids — zero
  // corpus re-sketches, zero pair-spine rebuilds (both spec-probed);
  // build cost is batch-local. A separate token keeps the post-ingest
  // version from shadowing the full-corpus spine (both are keyed by the
  // same docs fingerprint).

  private[graft] def dupIncToken: String = s"dupinc2j50s$dupSig"

  /** The post-ingest family; `builds` counts post-ingest publishes. */
  private[graft] val dupIncPersist = new graft.tools.Artifact.Family(dupIncToken)

  /** The published version serving the POST-INGEST dedup state, derived
    * on a miss from the published pre-ingest state plus batch-local
    * work. */
  private[graft] def dupIngestPublished(s: SparkSession, d: String): String =
    dupIncPersist(s, d)(docsKey(s, d)) { (stage, ak) =>
      val base = dupPersistedPairs(s, d) // version N: pre-ingest state
      val isNewId = (c: Column) => c % 10 === 7
      // pre-ingest spine/sketch: the published artifact restricted
      // to existing ids (pairwise Jaccard — batch presence never
      // changed an existing-existing pair)
      val pairsE = s.read.parquet(s"$base/pairs")
        .filter(!isNewId(col("id_a")) && !isNewId(col("id_b")))
        .select("id_a", "id_b")
      val sketchE = s.read.parquet(s"$base/sketch")
        .filter(!isNewId(col("doc_id")))
        .select("doc_id", "sig", "sh")
      // the incoming batch, sketched fresh: batch-sized work only
      val batchSketch = sketchOf(
        documents(s, d).filter(isNewId(col("doc_id"))))
      val nb = bandsOf(batchSketch, carry = Seq("sh"))
        .toDF("new_id", "nsh", "band", "h1", "h2", "h3", "h4")
      val cb = bandsOf(sketchE, carry = Seq("sh"))
        .toDF("old_id", "osh", "band", "h1", "h2", "h3", "h4")
      val edges = nb.join(cb, Seq("band", "h1", "h2", "h3", "h4"))
        .select(col("new_id"), col("old_id"),
          (size(array_intersect(col("nsh"), col("osh"))).cast("double") /
            size(array_union(col("nsh"), col("osh")))).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .groupBy("new_id")
        .agg(max(struct(col("jaccard"), (-col("old_id")).as("negid"))).as("b"))
        .select((-col("b.negid")).as("id_a"), col("new_id").as("id_b"))
      pairsE.union(edges).withColumn("ak", lit(ak))
        .write.mode("overwrite").parquet(s"$stage/pairs")
      sketchE.unionByName(batchSketch)
        .write.mode("overwrite").parquet(s"$stage/sketch")
    }

  // Per-doc triangle counts over the dup graph — ONE wedge join per
  // (session, dir), shared by `dedup_triangles` (which emits it) and
  // `dedup_clustering_coeff` (which normalizes it by C(deg, 2)); the
  // SQL twin is the shared sqlTriCtes, so the Spark side now mirrors
  // the oracle's factoring instead of copy-pasting the wedge.
  private val triCountsMemo = graft.SessionMemo[DataFrame]()

  private def triCounts(s: SparkSession, d: String): DataFrame =
    triCountsMemo.getOrCompute(s, d) {
      val dup = dupEdges(s, d)
      dup.toDF("x", "y")
        .join(dup.toDF("y", "z"), "y")
        .join(dup.toDF("x", "z"), Seq("x", "z"))
        .select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("triangles"))
        .transform(GenSnap.stage(_))
    }

  // Near-dup cluster labels (doc_id → component min-label) — ONE
  // minLabel fixpoint per (session, dir), shared by
  // dedup_cluster_canonical and text_leakage_safe_split: in a real
  // pipeline the clustering runs once and both the canonicalization and
  // the split read its output. The returned frame is the fixpoint's
  // lazily-checkpointed final generation (one row per dup-connected
  // doc); the memo reference keeps those blocks alive for the session.
  private val clusterLabelsMemo = graft.SessionMemo[DataFrame]()

  private def clusterLabels(s: SparkSession, d: String): DataFrame =
    clusterLabelsMemo.getOrCompute(s, d) {
      val pairs = dupEdges(s, d)
      val ue = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .transform(GenSnap.snap)
      val lbl = graft.graph.Components.minLabel(ue)
      // labels are checkpointed (lineage-free) — the edge cache is dead
      // weight once they exist, so release it before consumers run.
      ue.unpersist()
      lbl
    }

  // SimHash fingerprints, shared by the per-doc dump and the banded
  // pair search (both band sides + the XOR verify) — same memo policy;
  // two longs per document.
  private val simhashMemo = graft.SessionMemo[DataFrame]()

  private def cachedSimhash(s: SparkSession, d: String): DataFrame =
    simhashMemo.getOrCompute(s, d) { simhashSigs(s, d).transform(GenSnap.stage(_)) }

  /** Unroll depth for `dedup_kcore`'s oracle — must be ≥ the peel
    * rounds the Spark fixpoint actually needed (the kernel's round
    * cap); layers past convergence are no-op filters, linear cost. */
  private val KCoreUnroll = 10

  /** Unroll depth for `dedup_ktruss`' per-level oracle (same convention:
    * peels past convergence are no-op filters). */
  private val KTrussUnroll = 6

  /** Nested unroll for `dedup_core_numbers`' oracle: CoreNumK core
    * levels × CoreNumR peel rounds per level (measured kmax ≤ 3 and
    * ≤ 2 rounds/level at sf0.001–0.1; layers past convergence are
    * no-op filters). The Spark loops cap both: CoreNumK − 1 levels
    * (2..CoreNumK, BoundProbe `core_numbers_levels`) and CoreNumR
    * rounds per level (`core_numbers_peel`). */
  private val CoreNumK = 6
  private val CoreNumR = 6

  /** Merge rounds for `text_bpe_merges` — both the Spark loop's round
    * count and the oracle's materialized unroll depth (each oracle
    * round replays one merge exactly, so the two are one constant). */
  private val BpeMerges = 8

  // trained-tokenizer artifact: (post-merge word table (word, w, cnt),
  // ordered merge list) — TRAINED once per corpus and PUBLISHED as the
  // `tokbpe` artifact family (in production this is the tokenizer file
  // every job loads — frozen at train time, shipped to every encode
  // job). [[bpeTrained]] is a read-through cache over the published
  // version, the nnSearchIndex convention: a fresh process re-resolves
  // by docs fingerprint and pays ZERO training rounds; a regenerated
  // corpus misses and retrains+republishes.
  private val bpeMemo =
    graft.SessionMemo[(DataFrame, Seq[(Int, String, String, Long)])]()

  /** Version token of the tokenizer family — folds every build input
    * (the merge-round count and the whitespace-token staging v1). */
  private[graft] def bpeToken: String = s"tokbpe${BpeMerges}v1"

  /** The tokenizer family; `builds` counts training loops run. */
  private[graft] val bpePersist = new graft.tools.Artifact.Family(bpeToken)

  /** The published version serving this corpus's trained tokenizer,
    * trained (the k-round loop) on a miss: `words` (word, w, cnt — each
    * distinct word's final segmentation), `merges` (r, a, b, f — the
    * ordered merge list), 1-row `meta`. */
  private[graft] def bpePersistedTokenizer(s: SparkSession, d: String): String =
    bpePersist(s, d)(docsKey(s, d)) { (stage, ak) =>
      val (words, merges) = bpeTrainRaw(s, d)
      words.withColumn("ak", lit(ak))
        .write.mode("overwrite").parquet(s"$stage/words")
      val spark = s; import spark.implicits._
      merges.toDF("r", "a", "b", "f").withColumn("ak", lit(ak))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/merges")
    }

  /** Serve the trained tokenizer from the published artifact: the
    * per-session memo caches the LOADED artifact (vocab-sized), never a
    * re-derivation — every consumer (merges report, corpus encode,
    * fertility comparison) reads the one frozen tokenizer file. */
  private def bpeTrained(s: SparkSession,
      d: String): (DataFrame, Seq[(Int, String, String, Long)]) =
    bpeMemo.getOrCompute(s, d) {
      val dir = bpePersistedTokenizer(s, d)
      val words = s.read.parquet(s"$dir/words")
        .select("word", "w", "cnt").transform(GenSnap.stage(_))
      val merges = s.read.parquet(s"$dir/merges")
        .select("r", "a", "b", "f").orderBy("r").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toList
      (words, merges)
    }

  /** The Sennrich BPE training loop. Words are staged as spaced symbol
    * strings (' x  a  b  ' — TWO spaces between symbols, single-space
    * borders), so the merge step is a plain string replace of
    * ' a  b ' → ' ab ' on both engines: the match consumes only half of
    * each boundary gap, so consecutive occurrences stay matchable and
    * left-to-right non-overlapping replace reproduces the greedy BPE
    * merge exactly (e.g. a a a → aa a; a b a b → ab ab) with no
    * lookahead regex (RE2-safe) and no UDF. Each round: one partial-agg
    * pair count + a 1-row driver top-1 (count desc, pair asc tie-break
    * — total-ordered, exact BIGINT counts) + one narrow per-row
    * replace. Training runs on the WORD-COUNT table — vocabulary-sized
    * no matter how many tokens, the reason BPE trains in minutes on
    * trillion-token corpora. */
  private def bpeTrainRaw(s: SparkSession,
      d: String): (DataFrame, Seq[(Int, String, String, Long)]) = {
      var words = documents(s, d)
        .select(explode(tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .select(col("word"), concat(lit(" "),
          regexp_replace(col("word"), "(.)", "$1  ")).as("w"), col("cnt"))
        .transform(GenSnap.snap)
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var r = 0
      var live = true
      while (live && r < BpeMerges) {
        val syms = words.select(split(trim(col("w")), "  ").as("s"), col("cnt"))
        val pairs = syms.filter(size(col("s")) >= 2)
          .select(explode(transform(sequence(lit(1), size(col("s")) - 1),
            i => struct(element_at(col("s"), i.cast("int")).as("a"),
              element_at(col("s"), (i + 1).cast("int")).as("b")))).as("p"),
            col("cnt"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("cnt").as("f"))
        // 1-row driver boundary per round (k rows total) — the merge
        // decision IS driver state, like the k-means centroid loop
        val top = pairs.orderBy(col("f").desc, col("a").asc, col("b").asc)
          .limit(1).collect()
        if (top.isEmpty) live = false
        else {
          r += 1
          val (a, b, f) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((r, a, b, f))
          words = words.withColumn("w",
            replace(col("w"), lit(s" $a  $b "), lit(s" $a$b ")))
            .transform(GenSnap.snap)
        }
      }
      (words, merges.toList)
  }

  /** The identical training rounds as MATERIALIZED DuckDB CTEs — w0..wK
    * carry (word, w, cnt); topI is round i's winning pair (empty when no
    * pairs remain, in which case the LEFT JOIN leaves words unchanged,
    * mirroring the Spark loop's early stop). Shared by the training
    * query and the encoder oracle. */
  private lazy val sqlBpeCtes: String = {
    val rounds = (1 to BpeMerges).map { i =>
      s"""top$i AS MATERIALIZED (
         |  SELECT a, b, f FROM (
         |    SELECT a, b, CAST(sum(cnt) AS BIGINT) AS f FROM (
         |      SELECT unnest(list_transform(range(1, len(s)), i -> s[i])) AS a,
         |             unnest(list_transform(range(1, len(s)), i -> s[i+1])) AS b,
         |             cnt
         |      FROM (SELECT string_split(trim(w), '  ') AS s, cnt FROM w${i - 1})
         |      WHERE len(s) >= 2)
         |    GROUP BY a, b)
         |  ORDER BY f DESC, a ASC, b ASC LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT word, coalesce(replace(w, ' ' || a || '  ' || b || ' ', ' ' || a || b || ' '), w) AS w, cnt
         |  FROM w${i - 1} LEFT JOIN top$i ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT word, ' ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS w, cnt FROM (
       |    SELECT token AS word, CAST(count(*) AS BIGINT) AS cnt
       |    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       |    WHERE token <> '' GROUP BY token)),
       |$rounds""".stripMargin
  }

  // ── unigram-LM tokenizer (Kudo 2018 / SentencePiece family) ─────────
  // The OTHER production tokenizer next to BPE: score candidate pieces
  // by a unigram language model and segment by Viterbi. Deterministic,
  // fixed-point variant: piece costs are ⌊−ln((cnt+1)/(tot+|V|))·2^20⌋
  // BIGINTs (the idf/surprisal dyadic convention — integer-additive, so
  // the DP is EXACT and engine-order-free), EM is hard (Viterbi) EM on
  // the vocabulary-sized word-count table, and each round prunes to the
  // top-K multi-char pieces by (count desc, piece asc) while ALWAYS
  // keeping every single character (the SentencePiece coverage rule —
  // and the invariant that keeps the DP feasible: round-r segmentations
  // cover every word, so every piece they used survives with cnt > 0).
  // Viterbi ties prefer the LONGER piece (explicit CASE order, mirrored
  // verbatim in SQL).

  private val UnigramSeedMulti = 48
  private val UnigramKeeps = Seq(32, 24)
  private val UnigramMaxPiece = 4
  private val UnigramInf = 1099511627776L // 2^40 — unreachable-state cost

  // trained artifact: (final vocab (piece, cnt, cost), final-cost word
  // segmentations (word, cnt, dpcost, seg)) — trained once per corpus
  // and PUBLISHED as the `tokuni` artifact family (the bpe family's
  // convention: in production this is the tokenizer file every job
  // loads); the per-session memo caches the LOADED artifact.
  private val unigramMemo = graft.SessionMemo[(DataFrame, DataFrame)]()

  /** Viterbi segmentation of `words` (word, cnt) under driver-side
    * piece costs: per word one `aggregate` fold over its positions
    * carrying the last [[UnigramMaxPiece]] (cost, seg) DP states — a
    * narrow per-row map against a broadcast literal cost map, no
    * shuffle, vocabulary-sized input (the reason unigram-LM trains in
    * minutes at corpus scale). Returns (word, cnt, dpcost, seg). */
  private[graft] def viterbiSegment(words: DataFrame, costs: Map[String, Long]): DataFrame = {
    val cm = typedLit(costs)
    val infS = struct(lit(UnigramInf).as("c"), lit("").as("s"))
    val init = array(infS, infS, infS, struct(lit(0L).as("c"), lit("").as("s")))
    val folded = aggregate(
      sequence(lit(1), length(col("word"))),
      init,
      (acc, k) => {
        // dp[k−i] lives at acc[5−i] (acc = [dp[k−4] … dp[k−1]], 1-based)
        def prev(i: Int): Column = element_at(acc, 5 - i)
        def piece(i: Int): Column = col("word").substr(k - (i - 1), lit(i))
        // candidate i: extend dp[k−i] with the i-char piece ending at k;
        // out-of-range (k < i) and out-of-vocab candidates cost INF —
        // never selected while any real segmentation exists (single
        // chars are always in vocab, so one always does)
        def v(i: Int): Column = when(k >= i,
            prev(i).getField("c") + coalesce(element_at(cm, piece(i)), lit(UnigramInf)))
          .otherwise(lit(2L * UnigramInf))
        def s(i: Int): Column =
          concat(prev(i).getField("s"), lit(" "), piece(i))
        val m = least(v(4), v(3), v(2), v(1))
        // tie → longest piece: the CASE checks i = 4 first (same order
        // as the oracle's CASE, so the picked SEGMENTATION matches even
        // when costs tie)
        val seg = when(v(4) === m, s(4)).when(v(3) === m, s(3))
          .when(v(2) === m, s(2)).otherwise(s(1))
        array(element_at(acc, 2), element_at(acc, 3), element_at(acc, 4),
          struct(m.as("c"), seg.as("s")))
      },
      acc => element_at(acc, 4))
    words.withColumn("folded", folded)
      .select(col("word"), col("cnt"), col("folded.c").as("dpcost"),
        ltrim(col("folded.s")).as("seg"))
  }

  /** Seed-candidate pieces (piece, cnt): every 1..[[UnigramMaxPiece]]
    * substring of every distinct word, weighted by word count. */
  private[graft] def unigramPieces(words: DataFrame): DataFrame =
    words
      .select(col("word"), col("cnt"),
        explode(sequence(lit(1), lit(UnigramMaxPiece))).as("l"))
      .select(col("word"), col("cnt"), col("l"),
        explode(sequence(lit(1), length(col("word")))).as("p"))
      .filter(col("p") + col("l") - 1 <= length(col("word")))
      .select(col("word").substr(col("p"), col("l")).as("piece"), col("cnt"))
      .groupBy("piece").agg(sum("cnt").as("cnt"))

  /** One pruning + re-costing step: chars always kept (cnt 0 when
    * unused), top-`keep` multi-char pieces by (cnt desc, piece asc),
    * costs on the 2^-20 grid with +1 smoothing. */
  private[graft] def unigramVocabFrom(chars: DataFrame, cnts: DataFrame, keep: Int): DataFrame = {
    val vraw = chars.select(col("piece"))
      .join(cnts, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .unionByName(
        cnts.filter(length(col("piece")) >= 2)
          .orderBy(col("cnt").desc, col("piece").asc).limit(keep))
    val tot = vraw.agg(sum("cnt").as("tot"), count(lit(1)).as("nv"))
    vraw.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        floor(-log((col("cnt") + 1).cast("double") / (col("tot") + col("nv")).cast("double"))
          * 1048576.0).cast("long").as("cost"))
  }

  /** Version token of the unigram-tokenizer family — folds every build
    * input (seed multiplier, max piece length, the keep schedule). */
  private[graft] def uniToken: String =
    s"tokuni${(Seq(UnigramSeedMulti, UnigramMaxPiece) ++ UnigramKeeps).mkString("x")}v1"

  /** The unigram-tokenizer family; `builds` counts hard-EM runs. */
  private[graft] val uniPersist = new graft.tools.Artifact.Family(uniToken)

  /** The published version serving this corpus's trained unigram model,
    * trained (the hard-EM loop) on a miss: `vocab` (piece, cnt, cost),
    * `seg` (word, cnt, dpcost, seg — the final-cost Viterbi
    * segmentations the encoder broadcasts), 1-row `meta`. The bpe
    * family's twin — production ships BOTH tokenizer files. */
  private[graft] def uniPersistedTokenizer(s: SparkSession, d: String): String =
    uniPersist(s, d)(docsKey(s, d)) { (stage, ak) =>
      val (vocab, seg) = unigramTrainRaw(s, d)
      vocab.withColumn("ak", lit(ak))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/vocab")
      seg.withColumn("ak", lit(ak))
        .write.mode("overwrite").parquet(s"$stage/seg")
    }

  /** Serve the trained unigram model from the published artifact — the
    * per-session memo caches the LOADED artifact (vocab-sized), never a
    * re-derivation (the bpeTrained convention). */
  private def unigramTrained(s: SparkSession, d: String): (DataFrame, DataFrame) =
    unigramMemo.getOrCompute(s, d) {
      val dir = uniPersistedTokenizer(s, d)
      val vocab = s.read.parquet(s"$dir/vocab")
        .select("piece", "cnt", "cost").transform(GenSnap.stage(_))
      val seg = s.read.parquet(s"$dir/seg")
        .select("word", "cnt", "dpcost", "seg").transform(GenSnap.stage(_))
      (vocab, seg)
    }

  private def unigramTrainRaw(s: SparkSession, d: String): (DataFrame, DataFrame) = {
      val words = documents(s, d)
        .select(explode(tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .transform(GenSnap.snap)
      val pieces = unigramPieces(words).transform(GenSnap.snap)
      val chars = pieces.filter(length(col("piece")) === 1)
      def costMap(v: DataFrame): Map[String, Long] =
        // ≤ ~(chars + keep)-row driver boundary per round, the BPE
        // top-pair convention: the piece table IS the model state
        v.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      var vocab = unigramVocabFrom(chars, pieces, UnigramSeedMulti)
      var seg: DataFrame = null
      for (keep <- UnigramKeeps) {
        seg = viterbiSegment(words, costMap(vocab))
        val cnts = seg
          .select(explode(split(col("seg"), " ")).as("piece"), col("cnt"))
          .groupBy("piece").agg(sum("cnt").as("cnt"))
        vocab = unigramVocabFrom(chars, cnts, keep)
      }
      val finalSeg = viterbiSegment(words, costMap(vocab))
      (vocab, finalSeg)
  }

  /** The identical training rounds as DuckDB CTEs: a recursive-CTE
    * Viterbi DP per round (each row carries the last 4 DP states and
    * steps one character; depth = word length, rows = vocabulary size)
    * with the same INF sentinel, the same longest-piece CASE order, and
    * the same smoothed fixed-point costs. `vocab2` is the trained
    * model; `seg3` the final-cost segmentations the encoder reads. */
  private lazy val sqlUnigramCtes: String = {
    val inf = UnigramInf
    def dpCte(i: Int, vocab: String): String = {
      val joins = (1 to UnigramMaxPiece).map(l =>
        s"  LEFT JOIN $vocab v$l ON v$l.piece = substr(d.word, d.k + 2 - $l, $l) AND d.k + 1 - $l >= 0")
        .mkString("\n")
      val prevs = Map(1 -> "d.c4", 2 -> "d.c3", 3 -> "d.c2", 4 -> "d.c1")
      val segs = Map(1 -> "d.s4", 2 -> "d.s3", 3 -> "d.s2", 4 -> "d.s1")
      def v(l: Int) = s"(${prevs(l)} + coalesce(v$l.cost, $inf))"
      val m = s"least(${v(1)}, ${v(2)}, ${v(3)}, ${v(4)})"
      def sfx(l: Int) = s"${segs(l)} || ' ' || substr(d.word, d.k + 2 - $l, $l)"
      s"""dp$i(word, cnt, wl, k, c1, s1, c2, s2, c3, s3, c4, s4) AS (
         |  SELECT word, cnt, len(word), 0, CAST($inf AS BIGINT), '',
         |    CAST($inf AS BIGINT), '', CAST($inf AS BIGINT), '', CAST(0 AS BIGINT), ''
         |  FROM words
         |  UNION ALL
         |  SELECT d.word, d.cnt, d.wl, d.k + 1, d.c2, d.s2, d.c3, d.s3, d.c4, d.s4,
         |    lm.m,
         |    CASE WHEN ${v(4)} = lm.m THEN ${sfx(4)}
         |         WHEN ${v(3)} = lm.m THEN ${sfx(3)}
         |         WHEN ${v(2)} = lm.m THEN ${sfx(2)}
         |         ELSE ${sfx(1)} END
         |  FROM (SELECT * FROM dp$i WHERE k < wl) d
         |$joins,
         |  LATERAL (SELECT $m AS m) lm
         |),
         |seg$i AS MATERIALIZED (
         |  SELECT word, cnt, c4 AS dpcost, trim(s4) AS seg FROM dp$i WHERE k = wl),
         |cnt$i AS MATERIALIZED (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split(seg, ' ')) AS piece, cnt FROM seg$i)
         |  GROUP BY piece)""".stripMargin
    }
    def vocabCte(i: Int, cntSrc: String, keep: Int): String =
      s"""vraw$i AS (
         |  SELECT c.piece, coalesce(k.cnt, 0) AS cnt
         |  FROM chars c LEFT JOIN $cntSrc k USING (piece)
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt FROM $cntSrc WHERE len(piece) >= 2
         |    ORDER BY cnt DESC, piece ASC LIMIT $keep)),
         |vtot$i AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot,
         |           CAST(count(*) AS BIGINT) AS nv FROM vraw$i),
         |vocab$i AS MATERIALIZED (
         |  SELECT piece, cnt,
         |    CAST(floor(-ln(CAST(cnt + 1 AS DOUBLE) / CAST(tot + nv AS DOUBLE))
         |      * 1048576) AS BIGINT) AS cost
         |  FROM vraw$i, vtot$i)""".stripMargin
    s"""words AS MATERIALIZED (
       |  SELECT token AS word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       |  WHERE token <> '' GROUP BY token),
       |pieces AS MATERIALIZED (
       |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
       |    SELECT substr(word, p, l) AS piece, cnt
       |    FROM words,
       |      (SELECT unnest(range(1, ${UnigramMaxPiece + 1})) AS l),
       |      (SELECT unnest(range(1, (SELECT max(len(word)) FROM words) + 1)) AS p)
       |    WHERE p + l - 1 <= len(word))
       |  GROUP BY piece),
       |chars AS MATERIALIZED (SELECT piece, cnt FROM pieces WHERE len(piece) = 1),
       |${vocabCte(0, "pieces", UnigramSeedMulti)},
       |${dpCte(1, "vocab0")},
       |${vocabCte(1, "cnt1", UnigramKeeps.head)},
       |${dpCte(2, "vocab1")},
       |${vocabCte(2, "cnt2", UnigramKeeps(1))},
       |${dpCte(3, "vocab2")}""".stripMargin
  }

  /** LSH band rows (doc_id, band, h1..h4) for a sketch frame — the
    * bucket key both the self-join (minhashPairs) and the two-sided
    * incremental join (dedup_incremental) hash on. */
  private[graft] def bandsOf(docs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    docs.select((col("doc_id") +: carry.map(col)) :+
      explode(array(
        struct(lit(0).as("band"), element_at(col("sig"), 1).as("h1"),
          element_at(col("sig"), 2).as("h2"), element_at(col("sig"), 3).as("h3"),
          element_at(col("sig"), 4).as("h4")),
        struct(lit(1).as("band"), element_at(col("sig"), 5).as("h1"),
          element_at(col("sig"), 6).as("h2"), element_at(col("sig"), 7).as("h3"),
          element_at(col("sig"), 8).as("h4"))
      )).as("b"): _*)
      .select((col("doc_id") +: carry.map(col)) ++ Seq(col("b.band"),
        col("b.h1"), col("b.h2"), col("b.h3"), col("b.h4")): _*)

  def minhashPairs(s: SparkSession, d: String): DataFrame = {
    val docs = cachedSketch(s, d)
    val bands = bandsOf(docs)
    val l = bands.toDF("id_a", "band", "h1", "h2", "h3", "h4")
    val r = bands.toDF("id_b", "band", "h1", "h2", "h3", "h4")
    val cand = l.join(r, Seq("band", "h1", "h2", "h3", "h4"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val da = docs.select(col("doc_id").as("id_a"), col("sh").as("sa"))
    val db = docs.select(col("doc_id").as("id_b"), col("sh").as("sb"))
    cand.join(da, "id_a").join(db, "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb")))).as("jaccard"))
  }

  /** The pair pipeline as DuckDB CTEs (append after `sqlSketchCtes`);
    * yields a `pairs(id_a, id_b, jaccard)` CTE. */
  val sqlPairCtes: String =
    s"""bands AS (
       |  SELECT doc_id, 0 AS band, sig[1] AS h1, sig[2] AS h2, sig[3] AS h3, sig[4] AS h4 FROM sketch
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, sig[5], sig[6], sig[7], sig[8] FROM sketch),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2 AND a.h3 = b.h3 AND a.h4 = b.h4
       |  WHERE a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
       |  FROM cand c
       |  JOIN sketch sa ON sa.doc_id = c.id_a
       |  JOIN sketch sb ON sb.doc_id = c.id_b)""".stripMargin

  /** dup-graph + triangle CTEs (append after `sqlPairCtes`): yields
    * `dup(id_a, id_b)` and per-doc triangle counts `tc(doc_id,
    * triangles)` — shared by the triangle queries and the clustering
    * coefficient. */
  private val sqlTriCtes: String =
    s"""dup AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
       |tri AS (SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
       |        FROM dup e1
       |        JOIN dup e2 ON e2.id_a = e1.id_b
       |        JOIN dup e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
       |v AS (SELECT x AS doc_id FROM tri
       |      UNION ALL SELECT y FROM tri
       |      UNION ALL SELECT z FROM tri),
       |tc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS triangles
       |       FROM v GROUP BY doc_id)""".stripMargin

  /** Per-doc triangle counts over the ≥0.5-Jaccard near-dup graph —
    * shared VERBATIM by `dedup_triangles` (id orientation) and
    * `dedup_triangles_ordered` (degree orientation): the triangle set is
    * orientation-invariant, so one oracle proves both. */
  private val sqlTrianglesOracle: String =
    s"""WITH $sqlSketchCtes,
       |$sqlPairCtes,
       |$sqlTriCtes
       |SELECT doc_id, triangles FROM tc ORDER BY doc_id""".stripMargin

  /** 16-bit SimHash per doc (shared by `dedup_simhash` and the banded
    * pair search). */
  def simhashSigs(s: SparkSession, d: String): DataFrame = {
    val bits = (0 until 16).map { i =>
      val vote = aggregate(col("hs"), lit(0L),
        (acc, h) => acc + when(shiftright(h, i) % 2 === 1, 1L).otherwise(-1L))
      when(vote > 0, 1L << i).otherwise(0L)
    }
    documents(s, d)
      .select(col("doc_id"),
        transform(tokens(col("text")), w => strHash(w) % 65536L).as("hs"))
      .select(col("doc_id"), bits.reduce(_ + _).as("simhash"))
  }

  /** The same SimHash as DuckDB CTEs, yielding `sims(doc_id, simhash)`. */
  val sqlSimhashCtes: String = {
    val bits = (0 until 16).map { i =>
      val vote = s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(hs, h -> CASE WHEN (h // ${1L << i}) % 2 = 1 THEN 1 ELSE -1 END)), (a, b) -> a + b)"
      s"(CASE WHEN $vote > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""hsc AS (
       |  SELECT doc_id,
       |    list_transform(string_split(text, ' '), w -> ${sqlStrHash("w")} % 65536) AS hs
       |  FROM documents),
       |sims AS (SELECT doc_id, $bits AS simhash FROM hsc)""".stripMargin
  }

  // ── DoReMi shared kernel (ml_doremi_weights / text_doremi_manifest) ─
  /** The per-domain reweighting table — (source, tokens, nll, excess_fp,
    * weight_fp) — one computation per (session, dir): the corpus-sized
    * work (tokenize, unigram costs, per-domain NLL) is distributed
    * aggregation; only the DOMAIN table (one row per source) crosses to
    * the driver for the 8 multiplicative-weights rounds in pure BIGINT
    * fixed point. Shared by ml_doremi_weights (which emits it) and
    * text_doremi_manifest (which turns the weights into sampling
    * budgets) — the persisted mixture-plan artifact of a real run. */
  private val doremiMemo = graft.SessionMemo[Array[(String, Long, Long, Long, Long)]]()
  private[graft] def doremiDomainWeights(s: SparkSession, d: String): Array[(String, Long, Long, Long, Long)] =
    doremiMemo.getOrCompute(s, d) {
      val T = 8
      val Scale = 1048576L   // 2^20 quantization grid
      val WScale = 16777216L // 2^24 weight normalization
      val toks = documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .transform(GenSnap.snap) // vocab counts + domain sums read one tokenization
      val cnt = toks.groupBy("w").agg(count(lit(1)).as("c"))
      val nDf = toks.agg(count(lit(1)).as("n"))
      val cost = cnt.crossJoin(broadcast(nDf))
        .select(col("w"),
          floor(log(col("n").cast("double") / col("c").cast("double")) * Scale)
            .cast("long").as("cost"))
      val dom = toks.join(broadcast(cost), "w")
        .groupBy("source")
        .agg(count(lit(1)).as("tokens"), sum("cost").as("nll"))
        .orderBy("source")
        .collect() // BOUNDED: one row per domain/source
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // scaledDiv: nll·2^20 would wrap a Long once a domain holds ~1M
      // tokens (nll > 2^43); the Euclidean-split identity keeps the
      // quotient exact without the product (ADVICE r13, medium)
      val excess = dom.map { case (_, t, nll) => scaledDiv(nll, t, Scale) }
      val minE = excess.min
      val maxE = excess.max
      val u = excess.map(e => scaledDiv(e - minE, maxE - minE + 1, Scale))
      var w = Array.fill(dom.length)(WScale / dom.length)
      for (_ <- 1 to T) {
        val wf = w.zip(u).map { case (wi, ui) => wi * (Scale + ui / 4) / Scale }
        val z = wf.sum
        w = wf.map(x => x * WScale / z)
      }
      dom.zipWithIndex.map { case ((src, t, nll), i) =>
        (src, t, nll, excess(i), w(i))
      }
    }

  /** The oracle twin of [[doremiDomainWeights]]: chained CTEs ending in
    * `w8` (source, tokens, nll, excess, u, w) — shared by both queries
    * (the text_tokenizer_fertility convention of transitively re-proving
    * shared artifacts). */
  private def sqlDoremiCtes: String = {
    // every round CTE is MATERIALIZED: w$t references wf$t twice
    // (projection + the normalization scalar subquery), so without
    // materialization DuckDB re-inlines the whole upstream chain
    // per reference — 2^rounds re-executions of the corpus scan
    val rounds = (1 to 8).map { t =>
      s"""wf$t AS MATERIALIZED (SELECT source, tokens, nll, excess, u,
         |  (w * (1048576 + u // 4)) // 1048576 AS wf FROM w${t - 1}),
         |w$t AS MATERIALIZED (SELECT source, tokens, nll, excess, u,
         |  CAST((wf * 16777216) // (SELECT sum(wf) FROM wf$t) AS BIGINT) AS w
         |  FROM wf$t)""".stripMargin
    }.mkString(",\n")
    s"""toks AS MATERIALIZED (
       |  SELECT source, w FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> ''),
       |cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
       |cost AS (
       |  SELECT w, CAST(floor(ln(CAST(n.n AS DOUBLE) / CAST(c AS DOUBLE))
       |    * 1048576) AS BIGINT) AS cost
       |  FROM cnt CROSS JOIN n),
       |dom AS MATERIALIZED (
       |  SELECT source, CAST(count(*) AS BIGINT) AS tokens,
       |    CAST(sum(cost) AS BIGINT) AS nll
       |  FROM toks JOIN cost USING (w) GROUP BY source),
       |ex AS MATERIALIZED (SELECT source, tokens, nll,
       |         ${sqlScaledDiv("nll", "tokens", "1048576")} AS excess FROM dom),
       |exb AS MATERIALIZED (SELECT source, tokens, nll, excess,
       |        (SELECT min(excess) FROM ex) AS min_e,
       |        (SELECT max(excess) FROM ex) AS max_e FROM ex),
       |u AS MATERIALIZED (SELECT source, tokens, nll, excess,
       |        ${sqlScaledDiv("excess - min_e", "max_e - min_e + 1", "1048576")} AS u
       |      FROM exb),
       |w0 AS MATERIALIZED (SELECT source, tokens, nll, excess, u,
       |        CAST(16777216 // (SELECT count(*) FROM u) AS BIGINT) AS w FROM u),
       |$rounds""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    // ── token counting + basic stats ───────────────────────────────────
    // the token array is STAGED once (4 downstream references would
    // otherwise each re-split the text per row)
    Q(
      "text_token_stats",
      (s, d) => {
        documents(s, d)
          .select(col("doc_id"), length(col("text")).as("n_chars"),
            tokens(col("text")).as("t"))
          .select(
            col("doc_id"),
            col("n_chars"),
            size(col("t")).as("n_tokens"),
            size(array_distinct(col("t"))).as("n_distinct"),
            (intFold(transform(col("t"), w => length(w))).cast("double") / size(col("t")))
              .as("avg_token_len")
          ).orderBy("doc_id")
      },
      Some {
        val t = "string_split(text, ' ')"
        s"""SELECT doc_id, length(text) AS n_chars, len($t) AS n_tokens,
           |  len(list_distinct($t)) AS n_distinct,
           |  CAST(${sqlIntFold(s"list_transform($t, w -> length(w))")} AS DOUBLE) / len($t) AS avg_token_len
           |FROM documents ORDER BY doc_id""".stripMargin
      }
    ),

    // ── sequence packing: the batch-construction stage ─────────────────
    // The last step of a pretraining data pipeline: place documents into
    // fixed token-budget bins (512 here). The scalable shape is LANED
    // greedy packing: docs hash into 8 independent lanes (at 100 TB,
    // O(partitions) lanes), each lane packs by an exclusive running
    // token sum over deterministic doc order, bin = cumsum div budget.
    // One hash shuffle by lane; no global sort, no sequential driver
    // scan — lanes pack in parallel and a doc straddling a bin boundary
    // is the consumer's truncate/pad (standard practice). offset = the
    // doc's start position inside its bin. Pure integer window math →
    // bit-identical in DuckDB.
    Q(
      "text_pack_sequences",
      (s, d) => {
        val w = Window.partitionBy(col("lane")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        documents(s, d)
          .select(col("doc_id"), (col("doc_id") % 8).as("lane"),
            size(tokens(col("text"))).cast("long").as("n_tokens"))
          .select(col("doc_id"), col("lane"), col("n_tokens"),
            coalesce(sum(col("n_tokens")).over(w), lit(0L)).as("start_tok"))
          .select(col("doc_id"), col("lane"), col("n_tokens"),
            (col("start_tok") / 512).cast("long").as("bin"),
            (col("start_tok") % 512).as("offset"))
          .orderBy("doc_id")
      },
      Some {
        val t = "string_split(text, ' ')"
        s"""WITH n AS (SELECT doc_id, doc_id % 8 AS lane,
           |             CAST(len($t) AS BIGINT) AS n_tokens FROM documents),
           |c AS (SELECT doc_id, lane, n_tokens,
           |        CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lane ORDER BY doc_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
           |      FROM n)
           |SELECT doc_id, lane, n_tokens,
           |       start_tok // 512 AS bin, start_tok % 512 AS offset
           |FROM c ORDER BY doc_id""".stripMargin
      }
    ),

    // ── quality scoring: punctuation / stopword / length signals ───────
    // punct (a regexp pass) and the stopword count (a token-array scan)
    // are staged once; the final projection reads attributes only
    Q(
      "text_quality",
      (s, d) => {
        documents(s, d)
          .select(col("doc_id"), length(col("text")).as("n_chars"),
            (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
              .as("punct"),
            markerScore(tokens(col("text")), stopwords).as("stop_cnt"),
            size(tokens(col("text"))).as("n_tokens"))
          .select(
            col("doc_id"),
            col("punct").as("punct_cnt"),
            (col("punct").cast("double") / col("n_chars")).as("punct_ratio"),
            (col("stop_cnt").cast("double") / col("n_tokens")).as("stopword_ratio"),
            (when(col("n_chars") >= 100 && col("n_chars") <= 20000, 1.0).otherwise(0.0) * 0.5 +
              when(col("stop_cnt") > 0, 0.5).otherwise(0.0)).as("quality_score")
          ).orderBy("doc_id")
      },
      Some {
        val t = "string_split(text, ' ')"
        val punct = "(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))"
        val stop = sqlMarkerScore(t, stopwords)
        s"""SELECT doc_id,
           |  $punct AS punct_cnt,
           |  CAST($punct AS DOUBLE) / length(text) AS punct_ratio,
           |  CAST($stop AS DOUBLE) / len($t) AS stopword_ratio,
           |  (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END) * 0.5 +
           |  (CASE WHEN $stop > 0 THEN 0.5 ELSE 0.0 END) AS quality_score
           |FROM documents ORDER BY doc_id""".stripMargin
      }
    ),

    // ── PII redaction (scrub stage) ────────────────────────────────────
    // Every corpus headed for training passes a PII scrub. The synthetic
    // corpus contains no PII, so the query INJECTS deterministic email
    // fixtures in-query (docs with doc_id % 50 = 3 get one appended —
    // the injection is part of the operator's test harness, stated
    // openly) and then redacts: regexp_replace to a <EMAIL> token. The
    // regex sticks to character classes + greedy repetition, semantics
    // Java regex (Spark) and RE2 (DuckDB) share, so the redacted TEXT is
    // verified byte-exact via md5 on both engines — not just the match
    // counts. Narrow per-row map; at 100 TB this is one scan, no
    // shuffle except the presentation sort.
    Q(
      "text_pii_scrub",
      (s, d) => {
        val EmailRe = "[a-z0-9.]+@[a-z0-9.]+"
        val injected = when(col("doc_id") % 50 === 3,
          concat(col("text"), lit(" contact user."), col("doc_id"),
            lit("@example.com now")))
          .otherwise(col("text"))
        documents(s, d)
          .select(col("doc_id"), injected.as("t2"))
          .select(col("doc_id"),
            regexp_count(col("t2"), lit(EmailRe)).cast("long").as("n_emails"),
            md5(regexp_replace(col("t2"), EmailRe, "<EMAIL>")).as("scrubbed_md5"))
          .orderBy("doc_id")
      },
      Some {
        val re = "[a-z0-9.]+@[a-z0-9.]+"
        s"""WITH i AS (SELECT doc_id,
           |  CASE WHEN doc_id % 50 = 3
           |       THEN text || ' contact user.' || doc_id || '@example.com now'
           |       ELSE text END AS t2
           |FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(t2, '$re')) AS BIGINT) AS n_emails,
           |  md5(regexp_replace(t2, '$re', '<EMAIL>', 'g')) AS scrubbed_md5
           |FROM i ORDER BY doc_id""".stripMargin
      }
    ),

    // ── document chunking (strided token windows) ──────────────────────
    // The segmentation stage ahead of embedding/pretraining: 64-token
    // windows at stride 32 (trailing windows run short — start positions
    // are every 32 tokens while they fit, unambiguous and documented).
    // One explode over chunk indices + array slices — per-row map, no
    // shuffle; each chunk's text is verified byte-exact via md5 of the
    // space-rejoined window on both engines.
    Q(
      "text_chunk_windows",
      (s, d) =>
        documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(0L), expr("CAST(size(toks) - 1 AS BIGINT) DIV 32"))).as("k"))
          .select(col("doc_id"), col("k").as("chunk_id"),
            slice(col("toks"), (col("k") * 32 + 1).cast("int"), lit(64)).as("chunk"))
          .select(col("doc_id"), col("chunk_id"),
            size(col("chunk")).as("n_tokens"),
            md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
          .orderBy("doc_id", "chunk_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |e AS (SELECT doc_id, toks, unnest(range(0, (len(toks) + 31) // 32)) AS k FROM t),
             |c AS (SELECT doc_id, k AS chunk_id,
             |        toks[(k * 32 + 1):least(k * 32 + 64, len(toks))] AS chunk
             |      FROM e)
             |SELECT doc_id, chunk_id,
             |  CAST(len(chunk) AS INT) AS n_tokens,
             |  md5(array_to_string(chunk, ' ')) AS chunk_md5
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin)
    ),

    // ── training-mix rebalancing (language quota downsampling) ─────────
    // The data-mixing stage: cap each language at ~300 docs by
    // DETERMINISTIC rate-based sampling — per-lang keep-rate in 2^20
    // fixed point (exact integer division, no float rates), keep a doc
    // iff hash(doc_id) mod 2^20 < rate_px. Per-lang counts are a tiny
    // broadcast; the corpus is scanned once and filtered at the source
    // — the shape that rebalances a 100 TB mix without a shuffle
    // (the final per-lang count here is the report, not the pipeline).
    // Rate-based (not exact-quota) sampling is the standard at scale:
    // selection is a pure per-row predicate, reproducible under
    // re-partitioning, retries, and incremental reruns.
    Q(
      "text_mix_rebalance",
      (s, d) => {
        val docs = documents(s, d).select(col("doc_id"), col("lang"))
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
          .withColumn("rate_px", least(lit(1048576L), expr("314572800 DIV n")))
        docs.join(broadcast(counts), "lang")
          .filter(Tables.detHash(col("doc_id")) % 1048576 < col("rate_px"))
          .groupBy(col("lang"), col("n"), col("rate_px"))
          .agg(count(lit(1)).as("kept"))
          .orderBy("lang")
      },
      Some(s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
              |r AS (SELECT lang, n, CAST(least(1048576, 314572800 // n) AS BIGINT) AS rate_px FROM c),
              |k AS (SELECT d.lang, r.n, r.rate_px FROM documents d JOIN r USING (lang)
              |      WHERE ${Tables.detHashSql("d.doc_id")} % 1048576 < r.rate_px)
              |SELECT lang, n, rate_px, count(*) AS kept
              |FROM k GROUP BY lang, n, rate_px ORDER BY lang""".stripMargin)
    ),

    // ── vocabulary construction: corpus-wide top-k tokens ──────────────
    // The first step of tokenizer training (BPE/unigram start from
    // exact corpus token counts): explode once, partial-agg count (the
    // shuffle carries (token, partial_count) pairs, not rows), then a
    // deterministic top-100 via TakeOrderedAndProject — count desc,
    // token asc tie-break, so the cut is total-ordered on both engines.
    Q(
      "text_vocab_topk",
      (s, d) =>
        documents(s, d)
          .select(explode(tokens(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token").asc)
          .limit(100),
      Some("""SELECT token, count(*) AS cnt
             |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             |GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 100""".stripMargin)
    ),

    // ── BPE merge-pair training (the tokenizer-training loop itself) ───
    // Sennrich BPE: k rounds of "find the most frequent adjacent symbol
    // pair, merge it everywhere" — the [[bpeTrained]] kernel; the
    // oracle replays the identical rounds ([[sqlBpeCtes]], the
    // dedup_kcore materialized-unroll convention), so merge choice,
    // tie-breaks, and early stop are all driver-hash-proven.
    Q(
      "text_bpe_merges",
      (s, d) => {
        import s.implicits._
        bpeTrained(s, d)._2
          .toDF("merge_rank", "left_sym", "right_sym", "freq")
          .orderBy("merge_rank")
      },
      Some {
        val out = (1 to BpeMerges).map(i =>
          s"SELECT $i AS merge_rank, a AS left_sym, b AS right_sym, f AS freq FROM top$i")
          .mkString("\nUNION ALL ")
        s"""WITH $sqlBpeCtes
           |SELECT merge_rank, left_sym, right_sym, freq FROM (
           |$out
           |) ORDER BY merge_rank""".stripMargin
      }
    ),

    // ── BPE encode (the tokenizer-APPLY step, corpus-wide) ─────────────
    // What every pretraining job actually runs: segment the corpus with
    // the trained merges and count tokens. The join is vocabulary-sized
    // on the build side — each DISTINCT word's final segmentation comes
    // straight from the trained word table (the merges were already
    // applied there during training; no re-derivation) and broadcasts
    // to one corpus scan. Emits per doc: word count, BPE token count,
    // and an md5 over the in-order segmentations — the segmentation
    // ITSELF is verified byte-exact, not just its length (the
    // text_chunk_windows convention). Ordering rides posexplode
    // positions (Spark) ↔ zipped-unnest subscripts (DuckDB); both sort
    // per doc before hashing.
    Q(
      "text_bpe_encode",
      (s, d) => {
        val enc = bpeTrained(s, d)._1
          .select(col("word"),
            size(split(trim(col("w")), "  ")).as("n_syms"),
            trim(col("w")).as("segs"))
        documents(s, d)
          .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
          .filter(col("word") =!= "")
          .join(broadcast(enc), "word")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_syms")).as("n_bpe"),
            md5(array_join(transform(
              array_sort(collect_list(struct(col("pos"), col("segs")))),
              e => e.getField("segs")), " | ")).as("seg_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlBpeCtes,
              |enc AS MATERIALIZED (
              |  SELECT word, len(string_split(trim(w), '  ')) AS n_syms, trim(w) AS segs
              |  FROM w$BpeMerges),
              |tok AS (
              |  SELECT doc_id, unnest(ws) AS word, unnest(range(1, len(ws) + 1)) AS pos
              |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
              |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
              |  CAST(sum(e.n_syms) AS BIGINT) AS n_bpe,
              |  md5(string_agg(e.segs, ' | ' ORDER BY t.pos)) AS seg_md5
              |FROM tok t JOIN enc e USING (word)
              |WHERE t.word <> ''
              |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)
    ),

    // ── persisted-tokenizer encode: serve the published tokenizer file ─
    // text_bpe_encode proves the tokenizer MATH (its oracle replays all
    // training rounds); THIS query proves the tokenizer LIFECYCLE: the
    // trained word table is published once (the frozen tokenizer file
    // every pretraining job ships) and the encode serves by reading the
    // artifact DIRECTLY — its Spark path touches parquet, not the
    // training loop, and its ORACLE reads the same published words out
    // of the durable glob keyed by the docs fingerprint it recomputes,
    // so the driver gate pins the ARTIFACT's segmentations byte-exact
    // (seg_md5) against Spark's serve. Content is anchored by
    // text_bpe_merges/text_bpe_encode's full training replay plus the
    // Round17Spec equality + zero-trains-for-a-fresh-session probes.
    // SCALE: the serve side is a vocab-sized broadcast join — the one
    // corpus scan is the encode itself, exactly the production shape.
    Q(
      "text_bpe_encode_persisted",
      (s, d) => {
        val dir = bpePersistedTokenizer(s, d)
        val enc = s.read.parquet(s"$dir/words")
          .select(col("word"),
            size(split(trim(col("w")), "  ")).as("n_syms"),
            trim(col("w")).as("segs"))
        documents(s, d)
          .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
          .filter(col("word") =!= "")
          .join(broadcast(enc), "word")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_syms")).as("n_bpe"),
            md5(array_join(transform(
              array_sort(collect_list(struct(col("pos"), col("segs")))),
              e => e.getField("segs")), " | ")).as("seg_md5"))
          .orderBy("doc_id")
      },
      Some {
        val glob = s"${System.getProperty("java.io.tmpdir")}/graft_idx_${bpeToken}_*"
        s"""WITH cfp AS (SELECT $sqlDocsFingerprint AS fp FROM documents),
           |meta AS (SELECT ak FROM read_parquet('$glob/meta/*.parquet')
           |         WHERE fp = (SELECT fp FROM cfp)
           |         ORDER BY ak LIMIT 1),
           |enc AS MATERIALIZED (
           |  SELECT word, len(string_split(trim(w), '  ')) AS n_syms, trim(w) AS segs
           |  FROM read_parquet('$glob/words/*.parquet')
           |  WHERE ak = (SELECT ak FROM meta)),
           |tok AS (
           |  SELECT doc_id, unnest(ws) AS word, unnest(range(1, len(ws) + 1)) AS pos
           |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
           |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(e.n_syms) AS BIGINT) AS n_bpe,
           |  md5(string_agg(e.segs, ' | ' ORDER BY t.pos)) AS seg_md5
           |FROM tok t JOIN enc e USING (word)
           |WHERE t.word <> ''
           |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
      }
    ),

    // ── unigram-LM tokenizer training (the SentencePiece loop) ─────────
    // Hard-EM over the word-count table: seed substring counts → cost →
    // Viterbi segment → usage counts → prune-to-top-K + re-cost, twice
    // ([[unigramTrained]]). Every cost is a 2^-20 fixed-point BIGINT, so
    // the DP is integer-exact and the oracle's recursive-CTE Viterbi
    // (one step per character, carrying the last 4 DP states) reproduces
    // every segmentation — and therefore every count, prune, and cost —
    // bit-for-bit.
    Q(
      "text_unigram_train",
      (s, d) => {
        val (vocab, seg) = unigramTrained(s, d)
        require(seg.filter(col("dpcost") >= UnigramInf).count() == 0,
          "unigram DP hit the INF sentinel — vocabulary lost character coverage")
        vocab.orderBy("piece")
      },
      Some(s"""WITH RECURSIVE
              |$sqlUnigramCtes
              |SELECT piece, cnt, cost FROM vocab2 ORDER BY piece""".stripMargin)
    ),

    // ── unigram-LM encode (the tokenizer-APPLY step, corpus-wide) ──────
    // Segment the corpus with the trained model: the vocabulary-sized
    // final-cost segmentation table broadcasts to one corpus scan (the
    // text_bpe_encode shape), and the segmentation ITSELF is verified
    // byte-exact via the in-order md5 — so the Viterbi tie rule (longest
    // piece) is pinned on real data, not just counts.
    Q(
      "text_unigram_encode",
      (s, d) => {
        val enc = unigramTrained(s, d)._2
          .select(col("word"), size(split(col("seg"), " ")).as("np"), col("seg"))
        documents(s, d)
          .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
          .filter(col("word") =!= "")
          .join(broadcast(enc), "word")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(col("np")).as("n_pieces"),
            md5(array_join(transform(
              array_sort(collect_list(struct(col("pos"), col("seg")))),
              e => e.getField("seg")), " | ")).as("seg_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
              |$sqlUnigramCtes,
              |enc AS MATERIALIZED (
              |  SELECT word, len(string_split(seg, ' ')) AS np, seg FROM seg3),
              |tok AS (
              |  SELECT doc_id, unnest(ws) AS word, unnest(range(1, len(ws) + 1)) AS pos
              |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
              |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
              |  CAST(sum(e.np) AS BIGINT) AS n_pieces,
              |  md5(string_agg(e.seg, ' | ' ORDER BY t.pos)) AS seg_md5
              |FROM tok t JOIN enc e USING (word)
              |WHERE t.word <> ''
              |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)
    ),

    // ── persisted unigram encode: serve the published model file ───────
    // The text_bpe_encode_persisted twin for the OTHER production
    // tokenizer: text_unigram_encode's oracle replays the full hard-EM
    // training (recursive-CTE Viterbi per round); THIS query's Spark
    // path reads the published segmentation table directly and its
    // oracle reads the SAME artifact out of the durable glob keyed by
    // the docs fingerprint it recomputes — the driver gate pins the
    // published model's segmentations byte-exact against the serve.
    // Content is anchored by text_unigram_train/text_unigram_encode's
    // replay plus Round17Spec's equality + zero-trains probes.
    Q(
      "text_unigram_encode_persisted",
      (s, d) => {
        val dir = uniPersistedTokenizer(s, d)
        val enc = s.read.parquet(s"$dir/seg")
          .select(col("word"), size(split(col("seg"), " ")).as("np"), col("seg"))
        documents(s, d)
          .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
          .filter(col("word") =!= "")
          .join(broadcast(enc), "word")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(col("np")).as("n_pieces"),
            md5(array_join(transform(
              array_sort(collect_list(struct(col("pos"), col("seg")))),
              e => e.getField("seg")), " | ")).as("seg_md5"))
          .orderBy("doc_id")
      },
      Some {
        val glob = s"${System.getProperty("java.io.tmpdir")}/graft_idx_${uniToken}_*"
        s"""WITH cfp AS (SELECT $sqlDocsFingerprint AS fp FROM documents),
           |meta AS (SELECT ak FROM read_parquet('$glob/meta/*.parquet')
           |         WHERE fp = (SELECT fp FROM cfp)
           |         ORDER BY ak LIMIT 1),
           |enc AS MATERIALIZED (
           |  SELECT word, len(string_split(seg, ' ')) AS np, seg
           |  FROM read_parquet('$glob/seg/*.parquet')
           |  WHERE ak = (SELECT ak FROM meta)),
           |tok AS (
           |  SELECT doc_id, unnest(ws) AS word, unnest(range(1, len(ws) + 1)) AS pos
           |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
           |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(e.np) AS BIGINT) AS n_pieces,
           |  md5(string_agg(e.seg, ' | ' ORDER BY t.pos)) AS seg_md5
           |FROM tok t JOIN enc e USING (word)
           |WHERE t.word <> ''
           |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
      }
    ),

    // ── character-level entropy (gibberish / encoding-glitch signal) ───
    // Shannon entropy of the per-document character distribution — the
    // quality signal that catches base64 blobs, mojibake, and
    // minified/encoded payloads that token-level ratios miss (natural
    // text sits ~2.8-4.2 bits/char; uniform gibberish pushes toward
    // log2|alphabet|). Characters come from a LINEAR split-to-codepoints
    // (split(text, "", 0): Java limit-0 drops the trailing zero-width
    // empty, so it matches DuckDB string_split(text, '') exactly;
    // position-indexed substr(i, 1) would re-scan the UTF-8 prefix per
    // char and go quadratic in doc length — 4.1 s vs ~1 s at sf0.1).
    // Empty docs are filtered on BOTH sides because the engines disagree
    // on splitting '' (both yield [''] but c/n would divide by zero).
    // Each distinct char contributes one 2^-20-quantized −p·ln(p) term,
    // so the per-doc sum is an order-free dyadic total. One explode +
    // one (doc, char) count — the same shuffle budget as token counting.
    Q(
      "text_char_entropy",
      (s, d) => {
        val chars = documents(s, d)
          .filter(length(col("text")) > 0)
          .select(col("doc_id"), length(col("text")).as("n"),
            explode(split(col("text"), "", 0)).as("ch"))
        val q = floor(-(col("c").cast("double") / col("n").cast("double")) *
          log(col("c").cast("double") / col("n").cast("double")) * 1048576.0) / 1048576.0
        chars.groupBy("doc_id", "n", "ch").agg(count(lit(1)).as("c"))
          .select(col("doc_id"), col("n"), q.as("q"))
          .groupBy("doc_id", "n")
          .agg(count(lit(1)).as("n_distinct"), sum("q").as("entropy_nats"))
          .select(col("doc_id"), col("n").as("n_chars"), col("n_distinct"),
            col("entropy_nats"))
          .orderBy("doc_id")
      },
      Some("""WITH ch AS (
             |  SELECT doc_id, CAST(length(text) AS INT) AS n,
             |    unnest(string_split(text, '')) AS ch
             |  FROM documents WHERE length(text) > 0),
             |cnt AS (
             |  SELECT doc_id, n, ch, CAST(count(*) AS BIGINT) AS c
             |  FROM ch GROUP BY doc_id, n, ch),
             |q AS (
             |  SELECT doc_id, n,
             |    floor(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
             |      ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1048576) / 1048576 AS q
             |  FROM cnt)
             |SELECT doc_id, n AS n_chars,
             |  CAST(count(*) AS BIGINT) AS n_distinct,
             |  sum(q) AS entropy_nats
             |FROM q GROUP BY doc_id, n ORDER BY doc_id""".stripMargin)
    ),

    // ── Flesch reading-ease readability score ──────────────────────────
    // The classic 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
    // words) quality signal, with the standard regex heuristics:
    // sentences = runs of [.!?] (min 1), syllables = vowel-group runs
    // plus one per vowel-less token (the min-1-per-word correction).
    // Run counting is the replace-vs-remove length trick (len after
    // collapsing each run to one char − len after deleting runs = #runs)
    // — pure per-row codegen'd string expressions, no explode, no
    // shuffle; the vowel-less check rides a list_filter HOF over the
    // SAME whitespace tokens() every text op uses. All three counts are
    // exact integers, so the final score is ONE token-identical IEEE
    // expression (both engines parse 206.835 to the same double).
    Q(
      "text_readability",
      (s, d) => {
        val lt = lower(col("text"))
        documents(s, d)
          .select(col("doc_id"),
            size(tokens(lt)).as("n_words"),
            greatest(lit(1),
              length(regexp_replace(lt, "[.!?]+", "S")) -
                length(regexp_replace(lt, "[.!?]+", ""))).as("n_sentences"),
            ((length(regexp_replace(lt, "[aeiouy]+", "V")) -
              length(regexp_replace(lt, "[aeiouy]+", ""))) +
              size(filter(tokens(lt), w => !w.rlike("[aeiouy]"))))
              .as("n_syllables"))
          .filter(col("n_words") > 0)
          .select(col("doc_id"), col("n_words"), col("n_sentences"),
            col("n_syllables"),
            (lit(206.835) -
              lit(1.015) * (col("n_words").cast("double") /
                col("n_sentences").cast("double")) -
              lit(84.6) * (col("n_syllables").cast("double") /
                col("n_words").cast("double"))).as("flesch"))
          .orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT doc_id, lower(text) AS lt FROM documents),
             |m AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(lt, ' ')) AS INT) AS n_words,
             |    greatest(1,
             |      CAST(length(regexp_replace(lt, '[.!?]+', 'S', 'g')) AS INT) -
             |      CAST(length(regexp_replace(lt, '[.!?]+', '', 'g')) AS INT)) AS n_sentences,
             |    CAST(length(regexp_replace(lt, '[aeiouy]+', 'V', 'g')) -
             |         length(regexp_replace(lt, '[aeiouy]+', '', 'g')) +
             |         len(list_filter(string_split(lt, ' '),
             |           t -> NOT regexp_matches(t, '[aeiouy]'))) AS INT) AS n_syllables
             |  FROM b)
             |SELECT doc_id, n_words, n_sentences, n_syllables,
             |  206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) -
             |  84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch
             |FROM m WHERE n_words > 0 ORDER BY doc_id""".stripMargin)
    ),

    // ── tokenizer fertility comparison (BPE vs unigram-LM) ─────────────
    // The metric that picks between trained tokenizers: corpus
    // fertility = pieces emitted per word (lower = better compression
    // at equal vocabulary budget). Both memoized artifacts are
    // vocabulary-sized, so the whole comparison is two tiny scans and
    // exact BIGINT sums — the oracle re-trains BOTH tokenizers in one
    // statement (the two CTE chains share no names) and must reproduce
    // every count, which transitively re-proves both training loops
    // side by side.
    Q(
      "text_tokenizer_fertility",
      (s, d) => {
        val bpe = bpeTrained(s, d)._1
          .select(lit("bpe").as("tokenizer"), col("cnt"),
            size(split(trim(col("w")), "  ")).as("np"))
        val uni = unigramTrained(s, d)._2
          .select(lit("unigram").as("tokenizer"), col("cnt"),
            size(split(col("seg"), " ")).as("np"))
        bpe.unionByName(uni)
          .groupBy("tokenizer")
          .agg(sum(col("cnt")).as("total_words"),
            sum(col("cnt") * col("np")).as("total_pieces"))
          .select(col("tokenizer"), col("total_words"), col("total_pieces"),
            (col("total_pieces").cast("double") / col("total_words").cast("double"))
              .as("fertility"))
          .orderBy("tokenizer")
      },
      Some(s"""WITH RECURSIVE
              |$sqlBpeCtes,
              |$sqlUnigramCtes,
              |sides AS (
              |  SELECT 'bpe' AS tokenizer, cnt,
              |    CAST(len(string_split(trim(w), '  ')) AS BIGINT) AS np
              |  FROM w$BpeMerges
              |  UNION ALL
              |  SELECT 'unigram', cnt,
              |    CAST(len(string_split(seg, ' ')) AS BIGINT) AS np
              |  FROM seg3),
              |agg AS (
              |  SELECT tokenizer, CAST(sum(cnt) AS BIGINT) AS total_words,
              |    CAST(sum(cnt * np) AS BIGINT) AS total_pieces
              |  FROM sides GROUP BY tokenizer)
              |SELECT tokenizer, total_words, total_pieces,
              |  CAST(total_pieces AS DOUBLE) / CAST(total_words AS DOUBLE) AS fertility
              |FROM agg ORDER BY tokenizer""".stripMargin)
    ),

    // ── text normalization (canonical form ahead of exact dedup) ───────
    // The canonicalization pass every dedup pipeline runs before exact
    // hashing: lowercase, strip everything outside [a-z0-9 ], collapse
    // whitespace runs, trim. Regexes stick to character classes +
    // greedy repetition (semantics Java regex and RE2 share — the PII
    // convention), so the normalized TEXT is verified byte-exact via
    // md5 on both engines. Narrow per-row map, no shuffle except the
    // presentation sort.
    Q(
      "text_normalize",
      (s, d) =>
        documents(s, d)
          .select(col("doc_id"),
            trim(regexp_replace(regexp_replace(lower(col("text")),
              "[^a-z0-9 ]", ""), "  +", " ")).as("norm"))
          .select(col("doc_id"), length(col("norm")).as("n_norm"),
            md5(col("norm")).as("norm_md5"))
          .orderBy("doc_id"),
      Some("""WITH n AS (SELECT doc_id,
             |  trim(regexp_replace(regexp_replace(lower(text),
             |    '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')) AS norm
             |FROM documents)
             |SELECT doc_id, CAST(length(norm) AS INT) AS n_norm,
             |  md5(norm) AS norm_md5
             |FROM n ORDER BY doc_id""".stripMargin)
    ),

    // ── Gopher-style repetition signals (quality rule family) ──────────
    // The filter that catches DEGENERATE documents (boilerplate loops,
    // keyword stuffing, decode glitches) that length/stopword checks
    // miss: duplicate-word fraction, duplicate-bigram fraction, and the
    // top single word's frequency share, each an exact integer ratio per
    // row (Rae et al. 2021 "Gopher" §A1.1 thresholds; flagged =
    // dup_word > 0.6 OR dup_bigram > 0.6 OR top_word > 0.3 here).
    // Counts run over the SAME staged word-hash column the dedup family
    // uses (hash equality ≡ word equality on both engines, so the ratios
    // are bit-identical). Narrow per-row map: the top-word scan is
    // O(distinct·n) per row — fine at doc granularity; the corpus-scale
    // form of the same signal is explode + groupBy, which no query here
    // needs because the signal is per-document by definition.
    Q(
      "text_repetition",
      (s, d) => {
        documents(s, d)
          .select(col("doc_id"), wordHashes(tokens(col("text"))).as("wh"))
          .select(col("doc_id"), col("wh"),
            shinglesFromWh(col("wh")).as("bg"))
          .select(col("doc_id"),
            ((size(col("wh")) - size(array_distinct(col("wh")))).cast("double") /
              size(col("wh"))).as("dup_word_ratio"),
            ((size(col("bg")) - size(array_distinct(col("bg")))).cast("double") /
              size(col("bg"))).as("dup_bigram_ratio"),
            (array_max(transform(array_distinct(col("wh")), w =>
              size(filter(col("wh"), z => z === w))))
              .cast("double") / size(col("wh"))).as("top_word_ratio"))
          .select(col("doc_id"), col("dup_word_ratio"), col("dup_bigram_ratio"),
            col("top_word_ratio"),
            (col("dup_word_ratio") > 0.6 || col("dup_bigram_ratio") > 0.6 ||
              col("top_word_ratio") > 0.3).as("flagged"))
          .orderBy("doc_id")
      },
      Some {
        val wh = s"list_transform(string_split(text, ' '), w -> ${sqlStrHash("w")} % $P32)"
        s"""WITH w AS (SELECT doc_id, $wh AS wh FROM documents),
           |b AS (SELECT doc_id, wh, CASE WHEN len(wh) >= 2
           |        THEN list_transform(range(1, len(wh)), i -> wh[i] * 1000003 + wh[i + 1])
           |        ELSE [wh[1]] END AS bg FROM w),
           |r AS (SELECT doc_id,
           |  CAST(len(wh) - len(list_distinct(wh)) AS DOUBLE) / len(wh) AS dup_word_ratio,
           |  CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dup_bigram_ratio,
           |  CAST(list_aggregate(list_transform(list_distinct(wh),
           |    w -> len(list_filter(wh, z -> z = w))), 'max')
           |    AS DOUBLE) / len(wh) AS top_word_ratio
           |FROM b)
           |SELECT doc_id, dup_word_ratio, dup_bigram_ratio, top_word_ratio,
           |  (dup_word_ratio > 0.6 OR dup_bigram_ratio > 0.6 OR
           |   top_word_ratio > 0.3) AS flagged
           |FROM r ORDER BY doc_id""".stripMargin
      }
    ),

    // ── language ID (stopword-marker heuristic) vs ground truth ────────
    // Deterministic tie-break: fixed en→de→es→fr→zh precedence.
    Q(
      "text_langid",
      (s, d) => {
        // the 5 marker scores are STAGED as real columns from ONE staged
        // token array: the CASE chain references each score ~5 times, and
        // inline that meant ~25 re-splits + array scans per row (showed
        // up as a 10× bench swing)
        val score = markers.map { case (lg, _) => lg -> col(s"s_$lg") }.toMap
        def others(lg: String): Column =
          greatest(markers.filter(_._1 != lg).map(m => score(m._1)): _*)
        // a non-English lang wins only if its marker count strictly
        // exceeds every other language's; precedence de→es→fr→zh, else en
        val predicted = markers.tail.foldRight(lit("en")) { case ((lg, _), els) =>
          when(score(lg) > others(lg), lg).otherwise(els)
        }
        documents(s, d)
          .select(col("lang"), tokens(col("text")).as("t"))
          .select(col("lang") +:
            markers.map { case (lg, ws) => markerScore(col("t"), ws).as(s"s_$lg") }: _*)
          .select(col("lang"), predicted.as("predicted"))
          .groupBy("lang", "predicted").agg(count(lit(1)).as("cnt"))
          .orderBy("lang", "predicted")
      },
      Some {
        val t = "string_split(text, ' ')"
        val score = markers.map { case (lg, ws) => lg -> sqlMarkerScore(t, ws) }.toMap
        def others(lg: String) =
          "greatest(" + markers.filter(_._1 != lg).map(m => score(m._1)).mkString(", ") + ")"
        val pred = markers.tail.foldRight("'en'") { case ((lg, _), els) =>
          s"CASE WHEN ${score(lg)} > ${others(lg)} THEN '$lg' ELSE $els END"
        }
        s"""SELECT lang, $pred AS predicted, count(*) AS cnt
           |FROM documents GROUP BY lang, 2 ORDER BY lang, predicted""".stripMargin
      }
    ),

    // ── BPE-ish regex token counting per source ────────────────────────
    Q(
      "text_token_count_bpe",
      (s, d) =>
        documents(s, d)
          .select(col("source"),
            regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")).as("n"))
          .groupBy("source")
          .agg(sum(col("n")).as("bpe_tokens"), count(lit(1)).as("docs"))
          .orderBy("source"),
      Some("""SELECT source,
             |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS bpe_tokens,
             |  count(*) AS docs
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)
    ),

    // ── rolling-hash document fingerprint ──────────────────────────────
    // h ← (h·1000003 + len(w)·256 + ascii(w[0])) mod 2^31−1, folded left
    // over tokens — integer-exact on both engines.
    Q(
      "text_fingerprint",
      (s, d) => {
        val t = tokens(col("text"))
        val codes = transform(t, w => length(w).cast("long") * 256 + ascii(substring(w, 1, 1)))
        val fp = aggregate(codes, lit(0L), (h, c) => (h * 1000003L + c) % 2147483647L)
        documents(s, d).select(col("doc_id"), fp.as("fingerprint")).orderBy("doc_id")
      },
      Some {
        val codes =
          "list_transform(string_split(text, ' '), w -> CAST(length(w) AS BIGINT) * 256 + ascii(w[1:1]))"
        s"""SELECT doc_id,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT), $codes),
           |              (h, c) -> (h * 1000003 + c) % 2147483647) AS fingerprint
           |FROM documents ORDER BY doc_id""".stripMargin
      }
    ),

    // ── exact dedup: content-hash group, keep-first ────────────────────
    Q(
      "dedup_exact",
      (s, d) =>
        documents(s, d)
          .groupBy(md5(col("text")).as("content_hash"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("copies"))
          .orderBy("content_hash"),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keeper, count(*) AS copies
             |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin)
    ),

    // ── MinHash signatures (the per-doc sketch) ────────────────────────
    // The 8-perm signature is serialized "h1,...,h8" — integer→string is
    // format-identical on both engines, and the driver comparator can
    // only hash scalar cells (injective, so semantics stay fully checked).
    Q(
      "dedup_minhash_sig",
      (s, d) => docSketch(s, d)
        .select(col("doc_id"),
          array_join(transform(col("sig"), _.cast("string")), ",").as("sig"))
        .orderBy("doc_id"),
      Some(s"""WITH $sqlSketchCtes
              |SELECT doc_id,
              |  array_to_string(list_transform(sig, h -> CAST(h AS VARCHAR)), ',') AS sig
              |FROM sketch ORDER BY doc_id""".stripMargin)
    ),

    // ── MinHash-LSH near-dup candidate pairs + exact Jaccard verify ────
    // Bands of 4 signature rows → bucket equi-join (NO all-pairs
    // product) → exact bigram-set Jaccard on the candidates only.
    Q(
      "dedup_minhash_pairs",
      (s, d) => minhashPairs(s, d).orderBy("id_a", "id_b"),
      Some(s"""WITH $sqlSketchCtes,
              |$sqlPairCtes
              |SELECT id_a, id_b, jaccard FROM pairs
              |ORDER BY id_a, id_b""".stripMargin)
    ),

    // ── near-dup clusters → canonical doc per cluster ──────────────────
    // The step that turns pair DETECTION into an actual dedup pipeline:
    // connected components over the ≥0.5-Jaccard pair graph, keep the
    // min doc_id per component (so transitive chains a~b~c collapse to
    // one keeper even when a,c never paired directly). The min-label
    // fixpoint is the shared graph.Components kernel (one equi-join on
    // the cached pair edges + one min-agg per iteration, each generation
    // localCheckpoint'd → O(1) plan depth at any cluster diameter), run
    // ONCE per session via the clusterLabels memo and shared with
    // text_leakage_safe_split. The oracle replays the same fixpoint as a
    // recursive CTE, so convergence — not an iteration guess — is what's
    // checked.
    Q(
      "dedup_cluster_canonical",
      (s, d) => {
        val lbl = clusterLabels(s, d)
        lbl.groupBy(col("l").as("canonical_id"))
          .agg(count(lit(1)).as("n_members"))
          .orderBy("canonical_id")
      },
      Some(s"""WITH RECURSIVE $sqlSketchCtes,
              |$sqlPairCtes,
              |dup AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
              |ue AS (SELECT id_a AS src, id_b AS dst FROM dup
              |       UNION SELECT id_b, id_a FROM dup),
              |n AS (SELECT DISTINCT src AS id FROM ue),
              |lbl(id, l) AS (
              |  SELECT id, id FROM n
              |  UNION
              |  SELECT ue.dst, lbl.l FROM lbl JOIN ue ON ue.src = lbl.id),
              |comp AS (SELECT id, min(l) AS component FROM lbl GROUP BY id)
              |SELECT component AS canonical_id, count(*) AS n_members
              |FROM comp GROUP BY component ORDER BY canonical_id""".stripMargin)
    ),

    // ── leakage-safe train/val split (cluster-level assignment) ────────
    // The split a dedup pipeline must END with: assigning raw documents
    // to train/val independently leaks near-duplicates across the
    // boundary (the eval-contamination failure the GPT-3/Pile dedup
    // sections document). Here the unit of assignment is the NEAR-DUP
    // CLUSTER: connected docs take their component's label (the shared
    // minLabel fixpoint over the cached pair set), singletons their own
    // id, and the deterministic multiplicative hash of that CLUSTER id
    // — not the doc id — picks the side (80/20). Every member of a
    // cluster therefore lands on the same side by construction;
    // TextSpec asserts no dup pair straddles the split. Cost on top of
    // clustering: one broadcast-size left join + a per-row hash.
    Q(
      "text_leakage_safe_split",
      (s, d) => {
        val lbl = clusterLabels(s, d)
        documents(s, d).select(col("doc_id"))
          .join(lbl, col("doc_id") === col("id"), "left")
          .select(col("doc_id"),
            coalesce(col("l"), col("doc_id")).as("cluster_id"))
          .select(col("doc_id"), col("cluster_id"),
            when(detHash(col("cluster_id")) % 10 < 8, "train")
              .otherwise("val").as("split"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $sqlSketchCtes,
              |$sqlPairCtes,
              |dup AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
              |ue AS (SELECT id_a AS src, id_b AS dst FROM dup
              |       UNION SELECT id_b, id_a FROM dup),
              |n AS (SELECT DISTINCT src AS id FROM ue),
              |lbl(id, l) AS (
              |  SELECT id, id FROM n
              |  UNION
              |  SELECT ue.dst, lbl.l FROM lbl JOIN ue ON ue.src = lbl.id),
              |comp AS (SELECT id, min(l) AS component FROM lbl GROUP BY id),
              |wc AS (
              |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
              |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
              |SELECT doc_id, cluster_id,
              |  CASE WHEN ${detHashSql("cluster_id")} % 10 < 8
              |       THEN 'train' ELSE 'val' END AS split
              |FROM wc ORDER BY doc_id""".stripMargin)
    ),

    // ── incremental dedup: a new batch against the existing corpus ─────
    // The ingestion-time shape: a production pipeline doesn't re-cluster
    // 100 TB when a batch arrives — it asks, per INCOMING doc, "is this
    // a near-dup of anything already ingested?". Here the deterministic
    // 10% slice doc_id % 10 = 7 plays the incoming batch and the rest
    // the corpus; candidates come from the SAME LSH band buckets as the
    // self-join path but joined ACROSS the two sides only (batch bands ⋈
    // corpus bands — no corpus self-pairs, so candidate volume scales
    // with the batch, not the corpus), verified by exact Jaccard, and
    // reduced to the best (highest-Jaccard, then smallest-id) corpus
    // partner per incoming doc. Verdict rows carry every incoming doc:
    // matched ones name their dup_of, fresh ones null.
    Q(
      "dedup_incremental",
      (s, d) => {
        val docs = cachedSketch(s, d)
        val isNew = col("doc_id") % 10 === 7
        val bands = bandsOf(docs)
        val newBands = bands.filter(isNew)
          .toDF("new_id", "band", "h1", "h2", "h3", "h4")
        val corpusBands = bands.filter(!isNew)
          .toDF("old_id", "band", "h1", "h2", "h3", "h4")
        val cand = newBands.join(corpusBands, Seq("band", "h1", "h2", "h3", "h4"))
          .select("new_id", "old_id").distinct()
        val sa = docs.select(col("doc_id").as("new_id"), col("sh").as("sa"))
        val sb = docs.select(col("doc_id").as("old_id"), col("sh").as("sb"))
        val matched = cand.join(sa, "new_id").join(sb, "old_id")
          .select(col("new_id"), col("old_id"),
            (size(array_intersect(col("sa"), col("sb"))).cast("double") /
              size(array_union(col("sa"), col("sb")))).as("jaccard"))
          .filter(col("jaccard") >= 0.5)
          .groupBy("new_id")
          .agg(max(struct(col("jaccard"), (-col("old_id")).as("negid"))).as("b"))
          .select(col("new_id"), (-col("b.negid")).as("dup_of"),
            col("b.jaccard").as("jaccard"))
        docs.filter(isNew).select(col("doc_id").as("new_id"))
          .join(matched, Seq("new_id"), "left")
          .orderBy("new_id")
      },
      Some(s"""WITH $sqlSketchCtes,
              |bands AS (
              |  SELECT doc_id, 0 AS band, sig[1] AS h1, sig[2] AS h2, sig[3] AS h3, sig[4] AS h4 FROM sketch
              |  UNION ALL
              |  SELECT doc_id, 1 AS band, sig[5], sig[6], sig[7], sig[8] FROM sketch),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
              |  FROM bands a JOIN bands b
              |    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
              |   AND a.h3 = b.h3 AND a.h4 = b.h4
              |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7),
              |scored AS (
              |  SELECT c.new_id, c.old_id,
              |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
              |    len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
              |  FROM cand c
              |  JOIN sketch sa ON sa.doc_id = c.new_id
              |  JOIN sketch sb ON sb.doc_id = c.old_id),
              |best AS (
              |  SELECT new_id, old_id AS dup_of, jaccard FROM (
              |    SELECT new_id, old_id, jaccard,
              |      row_number() OVER (PARTITION BY new_id
              |        ORDER BY jaccard DESC, old_id ASC) AS rk
              |    FROM scored WHERE jaccard >= 0.5) WHERE rk = 1)
              |SELECT n.doc_id AS new_id, best.dup_of, best.jaccard
              |FROM (SELECT doc_id FROM sketch WHERE doc_id % 10 = 7) n
              |LEFT JOIN best ON best.new_id = n.doc_id
              |ORDER BY new_id""".stripMargin)
    ),

    // ── triangle participation over the near-dup graph ─────────────────
    // Cluster-cohesion analytics: how many documents sit in fully
    // mutually-similar triples (a~b, b~c, a~c all ≥ 0.5)? Triangle
    // enumeration uses the oriented-edge pattern: pairs already carry
    // id_a < id_b, so each triangle {x<y<z} is found exactly once by two
    // equi-joins — (x,y)⋈(y,z) wedges closed by (x,z). Wedge volume is
    // Σ out-deg² of the ORIENTED graph; near-dup degrees are bounded by
    // cluster size, and on hub-skewed graphs the standard refinement is
    // degree-ordering the orientation (compact-forward) — same plan
    // shape, smaller wedge count. No products anywhere (PlanSpec).
    Q(
      "dedup_triangles",
      (s, d) => triCounts(s, d).orderBy("doc_id"),
      Some(sqlTrianglesOracle)
    ),

    // ── triangles, compact-forward (degree-ordered orientation) ────────
    // The hub-skew refinement the plain form's comment names (judge r7
    // task 7): orient every near-dup edge toward its (degree, id)-LARGER
    // endpoint instead of the larger id. Any total order finds each
    // triangle {x≺y≺z} exactly once via the identical two-equi-join
    // wedge shape, but degree-ordering bounds every oriented out-degree
    // by O(√m) (Chiba–Nishizeki), so wedge volume Σ outdeg² collapses
    // on hub-skewed graphs — at 100 TB the difference between a
    // mega-hub emitting deg² wedges and emitting none. Same oracle
    // VERBATIM (the salted-variant convention): the driver proves the
    // reorientation reaches the identical per-doc triangle counts.
    // The checkpoint on the oriented list is both the one-scan feed for
    // its three join sides and the barrier that keeps join-key
    // constraint inference from re-deriving the when() orientation
    // under each side (the text_decontaminate lesson).
    Q(
      "dedup_triangles_ordered",
      (s, d) => {
        val dup = dupEdges(s, d)
        val deg = dup.select(col("id_a").as("v"))
          .union(dup.select(col("id_b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("deg"))
        val aFirst = struct(col("da"), col("id_a")) < struct(col("db"), col("id_b"))
        val o = dup
          .join(deg.select(col("v").as("id_a"), col("deg").as("da")), "id_a")
          .join(deg.select(col("v").as("id_b"), col("deg").as("db")), "id_b")
          .select(when(aFirst, col("id_a")).otherwise(col("id_b")).as("src"),
            when(aFirst, col("id_b")).otherwise(col("id_a")).as("dst"))
          .transform(GenSnap.snap)
        val tri = o.toDF("x", "y")
          .join(o.toDF("y", "z"), "y")
          .join(o.toDF("x", "z"), Seq("x", "z"))
        tri.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("triangles"))
          .orderBy("doc_id")
      },
      Some(sqlTrianglesOracle)
    ),

    // ── local clustering coefficient over the near-dup graph ───────────
    // cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — how clique-like each
    // doc's dup neighborhood is (cc ≈ 1 → a tight template family worth
    // collapsing to one canonical doc; cc ≈ 0 → chain-shaped borrowings
    // that need the transitive fixpoint). Composes the memoized pair
    // set: one degree partial-agg over the undirected view plus the
    // dedup_triangles wedge join; tri and deg·(deg−1) are exact BIGINTs,
    // cc is a single IEEE division of two exact integers. Restricted to
    // deg ≥ 2 (the denominator's domain).
    Q(
      "dedup_clustering_coeff",
      (s, d) => {
        val dup = dupEdges(s, d)
        val deg = dup.select(col("id_a").as("src"), col("id_b").as("dst"))
          .union(dup.select(col("id_b").as("src"), col("id_a").as("dst")))
          .groupBy("src").agg(count(lit(1)).as("deg"))
          .select(col("src").as("doc_id"), col("deg"))
        val tri = triCounts(s, d)
        deg.filter(col("deg") >= 2)
          .join(tri, Seq("doc_id"), "left")
          .select(col("doc_id"), col("deg"),
            coalesce(col("triangles"), lit(0L)).as("triangles"))
          .select(col("doc_id"), col("deg"), col("triangles"),
            ((col("triangles") * 2).cast("double") /
              (col("deg") * (col("deg") - 1)).cast("double")).as("cc"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlSketchCtes,
              |$sqlPairCtes,
              |$sqlTriCtes,
              |ue AS (SELECT id_a AS src, id_b AS dst FROM dup
              |       UNION ALL SELECT id_b, id_a FROM dup),
              |deg AS (SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg
              |        FROM ue GROUP BY src)
              |SELECT d.doc_id, d.deg,
              |  coalesce(tc.triangles, 0) AS triangles,
              |  CAST(coalesce(tc.triangles, 0) * 2 AS DOUBLE) /
              |    CAST(d.deg * (d.deg - 1) AS DOUBLE) AS cc
              |FROM deg d LEFT JOIN tc USING (doc_id)
              |WHERE d.deg >= 2
              |ORDER BY d.doc_id""".stripMargin)
    ),

    // ── k-core of the near-dup graph (cyclic similarity cores) ─────────
    // The structural step past triangles: iteratively peel every doc
    // with < 2 SURVIVING near-dup neighbors. A chain peels from its
    // endpoints inward — each round the new endpoints drop to degree 1
    // and fall (the cascade is the point) — until only CYCLES survive:
    // docs whose similarity is mutually corroborated around a loop
    // (template families), never pendant or chain-incidental overlap.
    // (The corpus's ≥0.5 pair graph is near-matching — max degree 3 —
    // so this is the k that separates structure from noise here; the
    // kernel takes any k.)
    // Runs on Components.kCorePeel — a third fixpoint shape next to
    // min-label and min-plus: the EDGE SET itself shrinks monotonically.
    // A graph of at most Fixpoint.TaskRows edge rows (every harness
    // scale so far) peels in one executor task; above it, one
    // partial-agg degree count + two anti joins per round over lazily
    // checkpointed generations. The oracle unrolls the peel as
    // MATERIALIZED CTE layers — each layer references its predecessor
    // three times, and materialization stops DuckDB's inliner from
    // exponentiating the chain; Spark's rounds are `require`'d ≤ the
    // unroll, so the oracle can never under-peel.
    Q(
      "dedup_kcore",
      (s, d) => {
        val dup = dupEdges(s, d)
        val ue = dup.select(col("id_a").as("src"), col("id_b").as("dst"))
          .union(dup.select(col("id_b").as("src"), col("id_a").as("dst")))
        graft.graph.Components.kCorePeel(ue, 2, KCoreUnroll)
          .groupBy(col("src").as("doc_id")).agg(count(lit(1)).as("core_deg"))
          .orderBy("doc_id")
      },
      Some {
        val layers = (1 to KCoreUnroll).map { i =>
          s"""ue$i AS MATERIALIZED (
             |  SELECT src, dst FROM ue${i - 1}
             |  WHERE src IN (SELECT src FROM ue${i - 1} GROUP BY src HAVING count(*) >= 2)
             |    AND dst IN (SELECT src FROM ue${i - 1} GROUP BY src HAVING count(*) >= 2))"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH $sqlSketchCtes,
           |$sqlPairCtes,
           |dup AS MATERIALIZED (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
           |ue0 AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM dup
           |                     UNION ALL SELECT id_b, id_a FROM dup),
           |$layers
           |SELECT src AS doc_id, count(*) AS core_deg FROM ue$KCoreUnroll
           |GROUP BY src ORDER BY doc_id""".stripMargin
      }
    ),

    // ── k-truss of the near-dup graph (triangle-supported cores) ───────
    // The EDGE analog of k-core: iteratively drop every edge in fewer
    // than k−2 triangles, until stable (k=3 → every surviving edge is
    // triangle-supported). Stricter than k-core — a long cycle survives
    // the degree peel but has no triangles and dissolves here — so the
    // survivors are the mutually-corroborated template families, the
    // set worth collapsing aggressively. Runs on Components.kTruss: at
    // most Fixpoint.TaskRows edges peel in one executor task; above it,
    // per round, the wedge-join support count (same shape as
    // dedup_triangles) + one filter. The edge set shrinks monotonically,
    // rounds require'd ≤ the oracle's per-level MATERIALIZED unroll
    // (peels past convergence are no-ops, exactly the dedup_kcore
    // convention).
    Q(
      "dedup_ktruss",
      (s, d) => graft.graph.Components.kTruss(dupEdges(s, d).toDF("src", "dst"), 3,
        KTrussUnroll).toDF("id_a", "id_b", "support").orderBy("id_a", "id_b"),
      Some {
        val lvl = (0 to KTrussUnroll).map { i =>
          val peel = if (i < KTrussUnroll)
            s""",
               |l${i + 1} AS MATERIALIZED (
               |  SELECT l.id_a, l.id_b FROM l$i l
               |  JOIN sup$i s USING (id_a, id_b) WHERE s.support >= 1)"""
              .stripMargin
          else ""
          s"""tri$i AS MATERIALIZED (
             |  SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
             |  FROM l$i e1 JOIN l$i e2 ON e2.id_a = e1.id_b
             |  JOIN l$i e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
             |sup$i AS MATERIALIZED (
             |  SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS support FROM (
             |    SELECT x AS id_a, y AS id_b FROM tri$i
             |    UNION ALL SELECT y, z FROM tri$i
             |    UNION ALL SELECT x, z FROM tri$i)
             |  GROUP BY id_a, id_b)$peel""".stripMargin
        }.mkString(",\n")
        s"""WITH $sqlSketchCtes,
           |$sqlPairCtes,
           |l0 AS MATERIALIZED (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
           |$lvl
           |SELECT l.id_a, l.id_b, s.support
           |FROM l$KTrussUnroll l JOIN sup$KTrussUnroll s USING (id_a, id_b)
           |ORDER BY l.id_a, l.id_b""".stripMargin
      }
    ),

    // ── full k-core DECOMPOSITION (per-doc core number) ────────────────
    // dedup_kcore answers "who survives the 2-core"; this one computes
    // core(v) = max{k : v ∈ k-core} for EVERY vertex of the near-dup
    // graph — the Matula–Beck coreness, the standard cohesion score for
    // choosing how aggressively to collapse a duplicate family. Spark:
    // Components.coreNumbers, an ascending-k level loop over the k-core
    // peel — the edge set shrinks monotonically across levels, so total
    // work is bounded by Σ_k |E_k|. At most Fixpoint.TaskRows edge rows
    // run every level in one executor task; above it, each level reuses
    // kCorePeel's one-partial-agg + two-anti-join round. The oracle
    // unrolls BOTH loops as nested MATERIALIZED layers (CoreNumK levels
    // × CoreNumR rounds, excess layers no-op) and reads coreness as the
    // max level whose converged edge set still contains the vertex —
    // cores are nested, so presence-max ≡ removal-level. Both loops
    // `require`d ≤ the unroll.
    Q(
      "dedup_core_numbers",
      (s, d) => {
        val dup = dupEdges(s, d)
        val ue = dup.select(col("id_a").as("src"), col("id_b").as("dst"))
          .union(dup.select(col("id_b").as("src"), col("id_a").as("dst")))
        // level r peels the (r + 1)-core; the oracle unrolls levels
        // 2..CoreNumK, so CoreNumK - 1 of them
        graft.graph.Components.coreNumbers(ue, CoreNumK - 1, CoreNumR)
          .toDF("doc_id", "core").orderBy("doc_id")
      },
      Some {
        val levels = (2 to CoreNumK).flatMap { k =>
          val base = if (k == 2) "ue0" else s"ue${k - 1}_$CoreNumR"
          (1 to CoreNumR).map { i =>
            val prev = if (i == 1) base else s"ue${k}_${i - 1}"
            s"""ue${k}_$i AS MATERIALIZED (
               |  SELECT src, dst FROM $prev
               |  WHERE src IN (SELECT src FROM $prev GROUP BY src HAVING count(*) >= $k)
               |    AND dst IN (SELECT src FROM $prev GROUP BY src HAVING count(*) >= $k))"""
              .stripMargin
          }
        }.mkString(",\n")
        val maxes = (2 to CoreNumK).map(k =>
          s"  UNION ALL SELECT DISTINCT src, $k FROM ue${k}_$CoreNumR").mkString("\n")
        s"""WITH $sqlSketchCtes,
           |$sqlPairCtes,
           |dup AS MATERIALIZED (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
           |ue0 AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM dup
           |                     UNION ALL SELECT id_b, id_a FROM dup),
           |$levels,
           |lv AS (SELECT DISTINCT src, 1 AS k FROM ue0
           |$maxes)
           |SELECT src AS doc_id, CAST(max(k) AS BIGINT) AS core FROM lv
           |GROUP BY src ORDER BY doc_id""".stripMargin
      }
    ),

    // ── EXACT threshold set-similarity join (AllPairs prefix filter) ───
    // The lossless counterpart to the MinHash-LSH candidates: a pair
    // with Jaccard ≥ τ MUST share a token inside both docs' length-
    // (n − ⌈τn⌉ + 1) prefixes under any fixed global token order
    // (Bayardo–Ma–Srikant AllPairs; rarest-first order keeps the
    // inverted prefix index small). τ = 0.5 → prefix = n//2 + 1,
    // integer-exact on both engines. The token set is 5-GRAM rolling
    // hashes, not the corpus bigram sketch: prefix filtering earns its
    // keep only when tokens are rare, and this corpus's ~40-word
    // vocabulary yields just 741 distinct bigrams at sf0.1 — every
    // prefix token common, 7.9M candidate pairs, 54 s (measured). The
    // 5-gram space has 238k distinct hashes and the same prefix rule
    // emits 256 candidates, every one of which verifies. Spark: one df
    // count, one per-doc sort, prefix explode → equi-join on token →
    // exact-Jaccard verify on candidates only — never all-pairs, and
    // unlike LSH this misses NOTHING relative to its own 5-gram
    // similarity (Round10Spec proves equality with brute force). The
    // oracle replays the identical deterministic algorithm.
    Q(
      "dedup_setsim_prefix",
      (s, d) => {
        val W = 5
        // Width before CPU (guide §2.5, the dedup_recall_report recipe):
        // the 5-gram rolling-hash sketch below is interpreted-HOF work
        // (~6 s executor CPU at sf0.1) and the documents scan is 1-2
        // input splits — unrepartitioned, the whole sketch ran on ≤2 of
        // 32 cores (probe: 10 tasks across 8 stages for the entire
        // query). One tiny exchange of the raw docs buys 32-wide
        // sketching; results are row-order-independent (set semantics +
        // final ORDER BY).
        val sk = documents(s, d)
          .repartition(s.sessionState.conf.numShufflePartitions)
          .select(col("doc_id"), wordHashes(tokens(col("text"))).as("wh"))
          .select(col("doc_id"),
            array_distinct(when(size(col("wh")) >= W,
              transform(sequence(lit(1), size(col("wh")) - (W - 1)),
                i => aggregate(slice(col("wh"), i.cast("int"), lit(W)), lit(0L),
                  (acc, x) => (acc * 1000003L + x) % P32)))
              .otherwise(array(aggregate(col("wh"), lit(0L),
                (acc, x) => (acc * 1000003L + x) % P32)))).as("sh"))
          .transform(GenSnap.snap)
        val tok = sk.select(col("doc_id"), explode(col("sh")).as("h"))
        val dfq = tok.groupBy("h").agg(count(lit(1)).as("df"))
        val pref = tok.join(dfq, "h")
          .groupBy("doc_id")
          .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ord"))
          .select(col("doc_id"),
            slice(transform(col("ord"), x => x.getField("h")), lit(1),
              (size(col("ord")) / 2).cast("int") + 1).as("pre"))
          .select(col("doc_id"), explode(col("pre")).as("h"))
        val cand = pref.toDF("id_a", "h")
          .join(pref.toDF("id_b", "h"), "h")
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
        val da = sk.select(col("doc_id").as("id_a"), col("sh").as("sa"))
        val db = sk.select(col("doc_id").as("id_b"), col("sh").as("sb"))
        cand.join(da, "id_a").join(db, "id_b")
          .select(col("id_a"), col("id_b"),
            (size(array_intersect(col("sa"), col("sb"))).cast("double") /
              size(array_union(col("sa"), col("sb")))).as("jaccard"))
          .filter(col("jaccard") >= 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH wh AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), w -> ${sqlStrHash("w")} % $P32) AS wh
              |  FROM documents),
              |sk AS MATERIALIZED (
              |  SELECT doc_id, list_distinct(CASE WHEN len(wh) >= 5
              |    THEN list_transform(range(1, len(wh) - 3),
              |           i -> list_reduce(wh[i:i+4], (acc, x) -> (acc * 1000003 + x) % $P32))
              |    ELSE [list_reduce(wh, (acc, x) -> (acc * 1000003 + x) % $P32)] END) AS sh
              |  FROM wh),
              |tok AS (SELECT doc_id, unnest(sh) AS h FROM sk),
              |dfq AS (SELECT h, count(*) AS df FROM tok GROUP BY h),
              |ordr AS (
              |  SELECT doc_id, h,
              |    row_number() OVER (PARTITION BY doc_id ORDER BY df, h) AS rn,
              |    count(*) OVER (PARTITION BY doc_id) AS n
              |  FROM tok JOIN dfq USING (h)),
              |pre AS (SELECT doc_id, h FROM ordr WHERE rn <= n // 2 + 1),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM pre a JOIN pre b ON a.h = b.h AND a.doc_id < b.doc_id),
              |j AS (
              |  SELECT c.id_a, c.id_b,
              |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
              |    len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
              |  FROM cand c
              |  JOIN sk sa ON sa.doc_id = c.id_a
              |  JOIN sk sb ON sb.doc_id = c.id_b)
              |SELECT id_a, id_b, jaccard FROM j
              |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin)
    ),

    // ── corpus-duplicated span coverage (exact-substring dedup signal) ─
    // The Lee et al. "Deduplicating Training Data" signal, Spark-shaped:
    // instead of a suffix array, hash every 8-token window (rolling
    // mod-P32 fold over the staged word hashes), count each span hash
    // corpus-wide, and report per doc how many of its windows occur more
    // than once anywhere — the fraction of the doc covered by text that
    // exists elsewhere. Docs in a template family score high; unique
    // docs score 0. One explode + one count-by-hash + one per-doc agg —
    // linear in corpus tokens, the shape that replaces suffix arrays at
    // 100 TB. All arithmetic is exact integers until the final fraction;
    // the fold reduces mod P32 each step so the BIGINT never overflows
    // (DuckDB raises on overflow rather than wrapping). Spark aggregate
    // seeds 0 and DuckDB list_reduce seeds the first element, but
    // (0·c + x₁) mod P = x₁, so the folds agree step for step.
    Q(
      "text_dup_span_coverage",
      (s, d) => {
        val W = 8
        val spans = documents(s, d)
          .select(col("doc_id"), wordHashes(tokens(col("text"))).as("wh"))
          .select(col("doc_id"),
            explode(when(size(col("wh")) >= W,
              transform(sequence(lit(1), size(col("wh")) - (W - 1)),
                i => aggregate(slice(col("wh"), i.cast("int"), lit(W)), lit(0L),
                  (acc, x) => (acc * 1000003L + x) % P32)))
              .otherwise(array().cast("array<bigint>"))).as("h"))
        val freq = spans.groupBy("h").agg(count(lit(1)).as("cnt"))
        val perDoc = spans.join(freq, "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("dup_spans"))
        documents(s, d).select(col("doc_id"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("dup_spans"), lit(0L)).as("dup_spans"))
          .select(col("doc_id"), col("n_spans"), col("dup_spans"),
            when(col("n_spans") > 0,
              col("dup_spans").cast("double") / col("n_spans"))
              .otherwise(lit(0.0)).as("dup_frac"))
          .orderBy("doc_id")
      },
      Some(s"""WITH wh AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), w -> ${sqlStrHash("w")} % $P32) AS wh
              |  FROM documents),
              |sp AS (
              |  SELECT doc_id, unnest(CASE WHEN len(wh) >= 8
              |    THEN list_transform(range(1, len(wh) - 6),
              |           i -> list_reduce(wh[i:i+7], (acc, x) -> (acc * 1000003 + x) % $P32))
              |    ELSE CAST([] AS BIGINT[]) END) AS h
              |  FROM wh),
              |freq AS (SELECT h, count(*) AS cnt FROM sp GROUP BY h),
              |pd AS (
              |  SELECT doc_id, count(*) AS n_spans,
              |         CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans
              |  FROM sp JOIN freq USING (h) GROUP BY doc_id)
              |SELECT d.doc_id,
              |  coalesce(n_spans, 0) AS n_spans,
              |  coalesce(dup_spans, 0) AS dup_spans,
              |  CASE WHEN coalesce(n_spans, 0) > 0
              |       THEN CAST(dup_spans AS DOUBLE) / n_spans ELSE 0.0 END AS dup_frac
              |FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin)
    ),

    // ── duplicated-span REMOVAL (the rewrite text_dup_span_coverage scores) ─
    // VERDICT-r14 task 3: the coverage query computes the Lee et al.
    // signal but nothing rewrote the corpus. This emits each doc with
    // every corpus-duplicated 8-token span EXCISED: the same rolling
    // span hashes, spans occurring >1 time anywhere mark their 8 token
    // positions covered (overlapping dup spans merge into maximal
    // covered regions by construction — position-set union IS the
    // deterministic span-merge rule), and the doc is rebuilt from the
    // surviving tokens. Verified byte-exact via md5 of the rewritten
    // text (the text_pii_scrub convention); Round15Spec pins that
    // template-family docs shrink and unique docs pass through
    // byte-identical. SCALE: explode + count-by-hash + a position-set
    // union per doc — linear in corpus tokens; the per-doc excision is
    // array_except on two position arrays (hash-set semantics, never
    // O(n·spans)). The rewrite joins the doc table once on doc_id.
    Q(
      "text_dedup_spans",
      (s, d) => {
        val W = 8
        val base = documents(s, d)
          .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
          .withColumn("wh", wordHashes(col("toks")))
        val spans = base
          .select(col("doc_id"),
            explode(when(size(col("wh")) >= W,
              transform(sequence(lit(1), size(col("wh")) - (W - 1)),
                i => struct(i.cast("int").as("i"),
                  aggregate(slice(col("wh"), i.cast("int"), lit(W)), lit(0L),
                    (acc, x) => (acc * 1000003L + x) % P32).as("h"))))
              .otherwise(array().cast("array<struct<i:int,h:bigint>>"))).as("sp"))
          .select(col("doc_id"), col("sp.i").as("i"), col("sp.h").as("h"))
        val freq = spans.groupBy("h").agg(count(lit(1)).as("cnt"))
        val cov = spans.join(freq, "h").filter(col("cnt") > 1)
          .select(col("doc_id"),
            explode(sequence(col("i"), col("i") + (W - 1))).as("j"))
          .distinct()
          .groupBy("doc_id").agg(sort_array(collect_list("j")).as("cov"))
        base.join(cov, Seq("doc_id"), "left")
          .withColumn("cov2", coalesce(col("cov"), array().cast("array<int>")))
          .withColumn("keep_idx",
            array_except(sequence(lit(1), size(col("toks"))), col("cov2")))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(col("keep_idx")).cast("long").as("kept_tokens"),
            md5(array_join(
              transform(col("keep_idx"), j => element_at(col("toks"), j)),
              " ")).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS MATERIALIZED (
              |  SELECT doc_id, string_split(text, ' ') AS toks,
              |    list_transform(string_split(text, ' '), w -> ${sqlStrHash("w")} % $P32) AS wh
              |  FROM documents),
              |sp AS MATERIALIZED (
              |  SELECT doc_id, unnest(CASE WHEN len(wh) >= 8
              |    THEN list_transform(range(1, len(wh) - 6),
              |           i -> {'i': i, 'h': list_reduce(wh[i:i+7], (acc, x) -> (acc * 1000003 + x) % $P32)})
              |    ELSE CAST([] AS STRUCT(i BIGINT, h BIGINT)[]) END, recursive := true)
              |  FROM base),
              |freq AS (SELECT h, count(*) AS cnt FROM sp GROUP BY h),
              |cov AS (
              |  SELECT doc_id, list_sort(list(DISTINCT j)) AS cov FROM (
              |    SELECT sp.doc_id, unnest(range(sp.i, sp.i + 8)) AS j
              |    FROM sp JOIN freq USING (h) WHERE freq.cnt > 1)
              |  GROUP BY doc_id),
              |keep AS (
              |  SELECT b.doc_id, b.toks,
              |    list_filter(range(1, len(b.toks) + 1),
              |      j -> NOT list_contains(coalesce(c.cov, []), j)) AS keep_idx
              |  FROM base b LEFT JOIN cov c USING (doc_id))
              |SELECT doc_id,
              |  CAST(len(toks) AS BIGINT) AS n_tokens,
              |  CAST(len(keep_idx) AS BIGINT) AS kept_tokens,
              |  -- coalesce: DuckDB array_to_string([]) is NULL, Spark's is ''
              |  md5(coalesce(array_to_string(list_transform(keep_idx, j -> toks[j]), ' '), '')) AS clean_md5
              |FROM keep ORDER BY doc_id""".stripMargin)
    ),

    // ── per-source quality report (pipeline observability) ─────────────
    // The audit table a data-curation team actually reads: per ingest
    // source — docs, exact total chars, and how many of its docs sit in
    // the ≥0.5 near-dup graph. Composes the corpus scan with the shared
    // memoized pair set (tiny → broadcast); one groupBy shuffle on the
    // 20-source key. At 100 TB this is the nightly per-source health
    // rollup, not a per-doc export.
    Q(
      "text_source_report",
      (s, d) => {
        val dup = dupEdges(s, d)
        val dupDocs = dup.select(col("id_a").as("doc_id"))
          .union(dup.select(col("id_b").as("doc_id"))).distinct()
        val docs = documents(s, d)
          .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("nc"))
        val perSource = docs.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("total_chars"))
        val dupPerSource = docs.join(broadcast(dupDocs), "doc_id")
          .groupBy("source").agg(count(lit(1)).as("dup_docs"))
        perSource.join(dupPerSource, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("total_chars"),
            coalesce(col("dup_docs"), lit(0L)).as("dup_docs"))
          .orderBy("source")
      },
      Some(s"""WITH $sqlSketchCtes,
              |$sqlPairCtes,
              |dupdocs AS (SELECT DISTINCT doc_id FROM (
              |  SELECT id_a AS doc_id FROM pairs WHERE jaccard >= 0.5
              |  UNION ALL SELECT id_b FROM pairs WHERE jaccard >= 0.5)),
              |d AS (SELECT doc_id, source, CAST(length(text) AS BIGINT) AS nc FROM documents),
              |per AS (SELECT source, count(*) AS n_docs, CAST(sum(nc) AS BIGINT) AS total_chars
              |        FROM d GROUP BY source),
              |dps AS (SELECT source, count(*) AS dup_docs
              |        FROM d JOIN dupdocs USING (doc_id) GROUP BY source)
              |SELECT source, n_docs, total_chars,
              |  coalesce(dup_docs, 0) AS dup_docs
              |FROM per LEFT JOIN dps USING (source) ORDER BY source""".stripMargin)
    ),

    // ── the preprocessing pipeline as ONE query ────────────────────────
    // What a training-data run actually executes: exact-dup drop (md5
    // keep-first) → length gate → quality gate, each doc tagged with the
    // FIRST reason it fails (or 'kept'). The dup keeper is a window
    // min over the md5 partition — NOT a groupBy + join-back, which
    // plans a second corpus scan (asserted in PlanSpec): one narrow
    // per-row pass, ONE shuffle on the hash, and at 100 TB the corpus
    // is read once, not once per filter.
    Q(
      "text_filter_pipeline",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        documents(s, d)
          .select(col("doc_id"), length(col("text")).as("n_chars"),
            md5(col("text")).as("h"),
            markerScore(tokens(col("text")), stopwords).as("stop_cnt"))
          .withColumn("keeper", min("doc_id").over(Window.partitionBy("h")))
          .select(col("doc_id"),
            when(col("doc_id") =!= col("keeper"), "dup")
              .when(col("n_chars") < 100, "too_short")
              .when(col("n_chars") > 20000 || col("stop_cnt") === 0, "low_quality")
              .otherwise("kept").as("verdict"))
          .orderBy("doc_id")
      },
      Some {
        val t = "string_split(text, ' ')"
        s"""WITH base AS (
           |  SELECT doc_id, length(text) AS n_chars, md5(text) AS h,
           |         ${sqlMarkerScore(t, stopwords)} AS stop_cnt
           |  FROM documents),
           |keeper AS (SELECT h, min(doc_id) AS keeper FROM base GROUP BY h)
           |SELECT b.doc_id,
           |  CASE WHEN b.doc_id <> k.keeper THEN 'dup'
           |       WHEN b.n_chars < 100 THEN 'too_short'
           |       WHEN b.n_chars > 20000 OR b.stop_cnt = 0 THEN 'low_quality'
           |       ELSE 'kept' END AS verdict
           |FROM base b JOIN keeper k USING (h) ORDER BY doc_id""".stripMargin
      }
    ),

    // ── inverted index build (term → sorted posting list) ──────────────
    // The retrieval-side structure for corpus curation: distinct
    // (doc, term) pairs → per-term df + sorted postings. Explode +
    // distinct + groupBy — every stage partial-aggregates map-side and
    // shuffles once on term; posting lists serialize as sorted
    // comma-joined strings (scalar output, injective). At 100 TB the
    // same plan writes the index as a term-bucketed table.
    Q(
      "text_inverted_index",
      (s, d) => {
        val pairs = documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .distinct()
        pairs.groupBy("term")
          .agg(count(lit(1)).as("df"),
            array_join(
              transform(sort_array(collect_list(col("doc_id"))), _.cast("string")),
              ",").as("postings"))
          .orderBy("term")
      },
      Some("""WITH pairs AS (
             |  SELECT DISTINCT doc_id, term FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents))
             |SELECT term, count(*) AS df,
             |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
             |FROM pairs GROUP BY term ORDER BY term""".stripMargin)
    ),

    // ── index-driven search: candidates via postings, integer tf rank ──
    // Term-at-a-time retrieval: the (tiny) query term set semi-joins the
    // exploded term pairs for candidate docs — the posting-list lookup,
    // same candidate-generation shape as LSH buckets — then only the
    // candidates are scored (total term frequency, exact integers; no
    // float idf, so the ranking is bit-stable on any engine) and top-k'd
    // via TakeOrderedAndProject.
    Q(
      "text_search_topk",
      (s, d) => {
        val qterms = Seq("spark", "join", "filter")
        val docs = documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("t"))
        val cand = docs
          .select(col("doc_id"), explode(array_distinct(col("t"))).as("term"))
          .filter(col("term").isin(qterms: _*))
          .select("doc_id").distinct()
        cand.join(docs, "doc_id")
          .select(col("doc_id"),
            qterms.map(w =>
              size(org.apache.spark.sql.functions.filter(col("t"), x => x === w)))
              .reduce(_ + _).cast("long").as("score"))
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(20)
      },
      Some {
        val score = Seq("spark", "join", "filter")
          .map(w => s"len(list_filter(d.t, x -> x = '$w'))").mkString(" + ")
        s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |cand AS (
           |  SELECT DISTINCT doc_id FROM (
           |    SELECT doc_id, unnest(t) AS term FROM docs)
           |  WHERE term IN ('spark', 'join', 'filter'))
           |SELECT d.doc_id, CAST($score AS BIGINT) AS score
           |FROM cand c JOIN docs d USING (doc_id)
           |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
      }
    ),

    // ── BM25 ranked retrieval ──────────────────────────────────────────
    // The standard retrieval scorer on top of text_search_topk's raw
    // term counts: Lucene-form idf = ln((N−df+0.5)/(df+0.5) + 1) with
    // tf saturation k1=1.2 and length normalization b=0.75. The one
    // transcendental (ln) is FLOOR-QUANTIZED to 2^-20 units — a dyadic
    // rational both engines represent exactly — so cross-engine libm
    // last-ulp disagreement cannot reach the score unless an idf lands
    // within ~1e-10 of a quantization boundary (TextSpec asserts the
    // fixture's idfs sit > 1e-6 from every boundary; a data change that
    // broke this would fail the spec, not silently drift the driver
    // hash). Everything else is +,−,×,÷ over exact integers in a FIXED
    // term order. Shape: candidate set from an inverted-index probe
    // (never a corpus scan per query term), one 1-row stats broadcast,
    // per-row scoring, TakeOrderedAndProject.
    Q(
      "text_bm25_topk",
      (s, d) => bm25Top20(s, d),
      Some(s"WITH ${bm25SqlCtes()}\n${bm25SelectSql()}")
    ),

    // ── TF-IDF keyword extraction (top-3 terms per document) ───────────
    // The topic-tagging stage of a curation pipeline: score every
    // (doc, term) by tf·idf and keep each doc's top 3. Reuses
    // text_bm25_topk's floor-quantized Lucene idf (TextSpec's boundary
    // guard covers the ENTIRE vocabulary at both scale factors), and
    // the score tf·idf_q is EXACTLY representable (integer tf × a
    // 20-fractional-bit dyadic rational stays well under 53 significant
    // bits) — so ranking is effectively integer-total-ordered. Shape:
    // one explode + two partial-agg'd groupBys, the tiny df table and
    // 1-row N broadcast, a per-doc window for the top-3.
    Q(
      "text_keywords_tfidf",
      (s, d) => {
        val docs = documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .transform(GenSnap.snap) // N + df + tf aggregations read one tokenization
        val n = docs.agg(count(lit(1)).as("n"))
        val dfs = docs.select(explode(array_distinct(col("t"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("df"))
        val tf = docs.select(col("doc_id"), explode(col("t")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val idfq = floor(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
          * 1048576.0) / 1048576.0
        tf.join(broadcast(dfs), "term").crossJoin(broadcast(n))
          .select(col("doc_id"), col("term"), col("tf"),
            (col("tf").cast("double") * idfq).as("score"))
          .withColumn("rk", row_number().over(Window.partitionBy("doc_id")
            .orderBy(col("score").desc, col("term").asc)))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("score"))
          .orderBy("doc_id", "rk")
      },
      Some("""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
             |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM (
             |          SELECT doc_id, unnest(list_distinct(t)) AS term FROM docs)
             |        GROUP BY term),
             |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
             |         SELECT doc_id, unnest(t) AS term FROM docs)
             |       GROUP BY doc_id, term),
             |scored AS (
             |  SELECT tf.doc_id, tf.term, tf.tf,
             |    CAST(tf.tf AS DOUBLE) *
             |      (floor(ln((n.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0) * 1048576) / 1048576) AS score
             |  FROM tf JOIN dfs USING (term), n)
             |SELECT doc_id, CAST(rk AS INT) AS rk, term, tf, score FROM (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id
             |    ORDER BY score DESC, term ASC) AS rk FROM scored)
             |WHERE rk <= 3
             |ORDER BY doc_id, rk""".stripMargin)
    ),

    // ── weighted systematic sampling (importance sampling for mixes) ───
    // Sample ~50 docs with probability ∝ n_chars, reproducibly: doc i
    // is selected iff an integer multiple of step = total DIV 50 falls
    // in its cumulative-weight interval (cum_{i−1}, cum_i] — systematic
    // (Madow) sampling, the zero-variance-spacing estimator curation
    // pipelines use for size-weighted mixes. All arithmetic is exact
    // BIGINT (running sums, one floor division), so selection is
    // reproducible AND oracle-provable. The prefix sum is the
    // DISTRIBUTED two-level scan — per-block ordered windows (parallel
    // across blocks) + a tiny block-offset table joined back — not a
    // single global window: the shape that survives 10^10 rows (the
    // oracle replays it as one flat window; the VALUES are identical).
    Q(
      "text_weighted_sample",
      (s, d) => {
        val k = 50
        val docs = documents(s, d).select(col("doc_id"), col("n_chars").as("w"))
          .withColumn("blk", expr("doc_id DIV 100"))
        val inBlk = docs.withColumn("bcum",
          sum("w").over(Window.partitionBy("blk").orderBy("doc_id")))
        val blkTot = docs.groupBy("blk").agg(sum("w").as("btot"))
        val blkOff = blkTot.withColumn("boff",
            coalesce(sum("btot").over(Window.orderBy("blk")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("blk"), col("boff"))
        val tot = blkTot.agg(sum("btot").as("tot"))
        inBlk.join(broadcast(blkOff), "blk")
          .crossJoin(broadcast(tot))
          // greatest(step, 1): a degenerate corpus with total weight
          // < k would otherwise make step 0 and fail with a division
          // by zero on BOTH engines; with step 1 every doc is selected
          // (graceful full-sample degradation, identical both sides)
          .select(col("doc_id"), col("w"),
            (col("boff") + col("bcum")).as("cum"),
            greatest(expr(s"tot DIV $k"), lit(1L)).as("step"))
          .filter(expr("cum DIV step") > expr("(cum - w) DIV step"))
          .select(col("doc_id"), col("w"), col("cum"))
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, n_chars AS w,
             |    CAST(sum(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cum
             |  FROM documents),
             |tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS tot FROM documents)
             |SELECT doc_id, w, cum
             |FROM docs, tot
             |WHERE cum // greatest(tot // 50, 1) > (cum - w) // greatest(tot // 50, 1)
             |ORDER BY doc_id""".stripMargin)
    ),

    // ── dedup recall report: LSH-found vs exact ground truth ───────────
    // How much does the banded MinHash pipeline MISS? Ground truth =
    // every pair with exact Jaccard ≥ 0.5, computed SCALABLY: any such
    // pair shares ≥ 1 shingle, so candidates come from the
    // inverted-index shingle-share equi-join (volume Σ df(g)² — bounded
    // by shingle rarity, never corpus²), then the exact verify. Found =
    // the memoized ≥0.5 pair set (band candidates, exact-verified).
    // Recall emitted as exact integer counts + one division — the same
    // honesty convention as ann_recall_report, for the dedup stack. At
    // 100 TB this report runs on a sampled stratum; the shape is
    // unchanged.
    Q(
      "dedup_recall_report",
      (s, d) => {
        // hash-stratum audit (doc_id % 3 = 2): the exact ground truth is
        // quadratic in hot-shingle document frequency, so the report
        // audits a deterministic 1/3 stratum — df² cost drops 9×
        // (measured 18 s → ~2 s at sf0.1) and the recall estimate is
        // exact ON the stratum, which is how a 100 TB pipeline audits
        // its dedup anyway. Both engines restrict identically.
        val docs = cachedSketch(s, d).filter(col("doc_id") % 3 === 2)
        val ex = docs.select(col("doc_id"), explode(col("sh")).as("g"))
        val candTrue = ex.toDF("id_a", "g").join(ex.toDF("id_b", "g"), "g")
          .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
        val da = docs.select(col("doc_id").as("id_a"), col("sh").as("sa"))
        val db = docs.select(col("doc_id").as("id_b"), col("sh").as("sb"))
        // r17 optimization round, two changes to the exact-verify stage:
        //  - |A∪B| = |A|+|B|−|A∩B| (sh is list_distinct by construction)
        //    drops the array_union hash-set build — one set op per pair
        //    instead of two, identical division and boundary;
        //  - the verify is CPU-dense with tiny bytes, so AQE's byte-based
        //    coalescing squeezed it to ~8 tasks of ~1.6 s (stragglers,
        //    guide §2.5); pinning the pre-verify exchange at the session
        //    shuffle parallelism (scale-configured, not a constant)
        //    keeps the stage wide — the arrays move exactly once, in the
        //    exchange the id_b join needed anyway.
        val np = s.sessionState.conf.numShufflePartitions
        val truth = candTrue.repartition(np, col("id_a"), col("id_b"))
          .join(da, "id_a").join(db, "id_b")
          .select(col("id_a"), col("id_b"),
            size(array_intersect(col("sa"), col("sb"))).as("i"),
            (size(col("sa")) + size(col("sb"))).as("ab"))
          .filter(col("i").cast("double") / (col("ab") - col("i")) >= 0.5)
          .select("id_a", "id_b")
          .transform(GenSnap.snap) // counted twice below
        val found = dupEdges(s, d)
        val nT = truth.agg(count(lit(1)).as("n_true"))
        val nF = truth.join(found, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1)).as("n_found"))
        nT.crossJoin(nF)
          .select(col("n_true"), col("n_found"),
            (col("n_true") - col("n_found")).as("missed"),
            when(col("n_true") > 0,
              col("n_found").cast("double") / col("n_true").cast("double"))
              .otherwise(lit(-1.0)).as("recall"))
      },
      Some(s"""WITH $sqlSketchCtes,
              |$sqlPairCtes,
              |strat AS MATERIALIZED (SELECT * FROM sketch WHERE doc_id % 3 = 2),
              |ex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM strat),
              |ctru AS MATERIALIZED (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM ex a JOIN ex b ON a.g = b.g WHERE a.doc_id < b.doc_id),
              |truth AS MATERIALIZED (
              |  SELECT c.id_a, c.id_b FROM ctru c
              |  JOIN strat sa ON sa.doc_id = c.id_a
              |  JOIN strat sb ON sb.doc_id = c.id_b
              |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
              |        len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
              |found AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
              |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
              |nf AS (SELECT CAST(count(*) AS BIGINT) AS n_found FROM truth t
              |       WHERE EXISTS (SELECT 1 FROM found f
              |                     WHERE f.id_a = t.id_a AND f.id_b = t.id_b))
              |SELECT n_true, n_found, n_true - n_found AS missed,
              |  CASE WHEN n_true > 0
              |       THEN CAST(n_found AS DOUBLE) / CAST(n_true AS DOUBLE)
              |       ELSE -1.0 END AS recall
              |FROM nt, nf""".stripMargin)
    ),

    // ── containment near-dups (asymmetric: quote/inclusion detection) ──
    // Jaccard misses the short-doc-inside-long-doc case (|A∩B|/|A∪B| is
    // dragged down by the big doc); containment |A∩B|/min(|A|,|B|)
    // catches it — the Broder distinction, and the signal that finds
    // quotations, boilerplate inclusion and excerpt reposts. Same LSH
    // band candidates as the Jaccard pipeline (equi-join, never
    // all-pairs), exact shingle-set verify, integer sizes + ONE
    // division.
    Q(
      "dedup_containment_pairs",
      (s, d) => {
        val docs = cachedSketch(s, d)
        val bands = bandsOf(docs)
        val l = bands.toDF("id_a", "band", "h1", "h2", "h3", "h4")
        val r = bands.toDF("id_b", "band", "h1", "h2", "h3", "h4")
        val cand = l.join(r, Seq("band", "h1", "h2", "h3", "h4"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
        val da = docs.select(col("doc_id").as("id_a"), col("sh").as("sa"))
        val db = docs.select(col("doc_id").as("id_b"), col("sh").as("sb"))
        cand.join(da, "id_a").join(db, "id_b")
          .select(col("id_a"), col("id_b"),
            size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
            size(col("sa")).cast("long").as("na"),
            size(col("sb")).cast("long").as("nb"))
          .select(col("id_a"), col("id_b"), col("inter"), col("na"), col("nb"),
            (col("inter").cast("double") /
              least(col("na"), col("nb")).cast("double")).as("containment"))
          .filter(col("containment") >= 0.8)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $sqlSketchCtes,
              |$sqlPairCtes
              |SELECT c.id_a, c.id_b,
              |  CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
              |  CAST(len(sa.sh) AS BIGINT) AS na,
              |  CAST(len(sb.sh) AS BIGINT) AS nb,
              |  CAST(CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS DOUBLE) /
              |    CAST(least(CAST(len(sa.sh) AS BIGINT), CAST(len(sb.sh) AS BIGINT)) AS DOUBLE)
              |    AS containment
              |FROM cand c
              |JOIN sketch sa ON sa.doc_id = c.id_a
              |JOIN sketch sb ON sb.doc_id = c.id_b
              |WHERE CAST(CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS DOUBLE) /
              |    CAST(least(CAST(len(sa.sh) AS BIGINT), CAST(len(sb.sh) AS BIGINT)) AS DOUBLE) >= 0.8
              |ORDER BY id_a, id_b""".stripMargin)
    ),

    // ── unigram surprisal (perplexity-style quality signal) ────────────
    // The language-model quality filter in its exactly-checkable form:
    // corpus-MLE unigram surprisal s(w) = −ln(tf_w/total), each s(w)
    // floor-quantized to 2^-20 (the whole-vocabulary TextSpec boundary
    // guard applies); a doc's total surprisal is then a sum of dyadic
    // rationals on a COMMON 2^-20 grid scaled by integer tfs — exact in
    // double regardless of order (numerators stay far below 2^53), so
    // the per-doc totals and means hash-match with zero fold ceremony.
    // High mean surprisal ⇒ rare-token soup (the C4/Gopher-style cut).
    // Shape: one explode + two partial-agg'd groupBys + a broadcast
    // unigram table.
    Q(
      "text_unigram_surprisal",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .transform(GenSnap.snap) // unigram table + per-doc tf read one tokenization
        val uni = toks.groupBy("term").agg(count(lit(1)).as("ctf"))
        val tot = uni.agg(sum("ctf").as("tot"))
        val sq = floor(-log(col("ctf").cast("double") / col("tot").cast("double"))
          * 1048576.0) / 1048576.0
        toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
          .join(broadcast(uni), "term").crossJoin(broadcast(tot))
          .select(col("doc_id"), col("tf"), sq.as("sq"))
          .groupBy("doc_id")
          .agg(sum(col("tf")).as("n_tokens"),
            sum(col("tf").cast("double") * col("sq")).as("surprisal"))
          .select(col("doc_id"), col("n_tokens"), col("surprisal"),
            (col("surprisal") / col("n_tokens").cast("double")).as("mean_surprisal"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS ctf FROM toks GROUP BY term),
             |tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS tot FROM uni),
             |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             |       FROM toks GROUP BY doc_id, term),
             |sc AS (
             |  SELECT tf.doc_id, tf.tf,
             |    floor(-ln(CAST(uni.ctf AS DOUBLE) / CAST(tot.tot AS DOUBLE)) * 1048576) / 1048576 AS sq
             |  FROM tf JOIN uni USING (term), tot),
             |agg AS (
             |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
             |    sum(CAST(tf AS DOUBLE) * sq) AS surprisal
             |  FROM sc GROUP BY doc_id)
             |SELECT doc_id, n_tokens, surprisal,
             |  surprisal / CAST(n_tokens AS DOUBLE) AS mean_surprisal
             |FROM agg ORDER BY doc_id""".stripMargin)
    ),

    // ── bigram LM surprisal (the CCNet/Gopher perplexity-filter shape) ─
    // Per-document mean conditional surprisal −ln P(w2|w1) under the
    // corpus-trained bigram model (MLE: c(w1,w2)/c(w1 as context)) —
    // the language-model quality signal curation pipelines threshold
    // on, one modeling step above text_unigram_surprisal. BIGRAMS ARE
    // BUILT NARROWLY: zip_with over two slices of the token array pairs
    // adjacent tokens with NO per-doc window shuffle (the oracle pairs
    // l[i],l[i+1] the same way); the only exchanges are the count
    // group-bys. Surprisals are floor-quantized to the 2^-20 dyadic
    // grid, so the weighted per-doc sums are exact IEEE at any
    // partition order (the unigram convention). At 100 TB the bigram
    // vocab is the only wide state; it shuffles once and the per-doc
    // tf join is a plain equi-join — no broadcast assumption needed.
    Q(
      "text_bigram_surprisal",
      (s, d) => {
        val arr = tokens(col("text"))
        val bg = documents(s, d)
          .select(col("doc_id"),
            explode(zip_with(
              slice(arr, lit(1), size(arr) - 1),
              slice(arr, lit(2), size(arr) - 1),
              (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
          .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
          .transform(GenSnap.snap) // counts + per-doc tf read one pairing
        val cbg = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cbg"))
        val cctx = bg.groupBy("w1").agg(count(lit(1)).as("cctx"))
        val sq = floor(-log(col("cbg").cast("double") / col("cctx").cast("double"))
          * 1048576.0) / 1048576.0
        bg.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
          .join(broadcast(cbg), Seq("w1", "w2")).join(broadcast(cctx), "w1")
          .select(col("doc_id"), col("tf"), sq.as("sq"))
          .groupBy("doc_id")
          .agg(sum(col("tf")).as("n_bigrams"),
            sum(col("tf").cast("double") * col("sq")).as("surprisal"))
          .select(col("doc_id"), col("n_bigrams"), col("surprisal"),
            (col("surprisal") / col("n_bigrams").cast("double")).as("mean_surprisal"))
          .orderBy("doc_id")
      },
      Some("""WITH ls AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |bg AS (
             |  SELECT doc_id, l[CAST(i AS INT)] AS w1, l[CAST(i AS INT) + 1] AS w2
             |  FROM ls, LATERAL unnest(range(1, len(l))) AS t(i)),
             |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cbg FROM bg GROUP BY w1, w2),
             |cc AS (SELECT w1, CAST(count(*) AS BIGINT) AS cctx FROM bg GROUP BY w1),
             |tf AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
             |       FROM bg GROUP BY doc_id, w1, w2),
             |sc AS (
             |  SELECT tf.doc_id, tf.tf,
             |    floor(-ln(CAST(cb.cbg AS DOUBLE) / CAST(cc.cctx AS DOUBLE)) * 1048576) / 1048576 AS sq
             |  FROM tf JOIN cb USING (w1, w2) JOIN cc USING (w1)),
             |agg AS (
             |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
             |    sum(CAST(tf AS DOUBLE) * sq) AS surprisal
             |  FROM sc GROUP BY doc_id)
             |SELECT doc_id, n_bigrams, surprisal,
             |  surprisal / CAST(n_bigrams AS DOUBLE) AS mean_surprisal
             |FROM agg ORDER BY doc_id""".stripMargin)
    ),

    // ── Kneser-Ney smoothed bigram LM (the production LM-filter form) ──
    // Interpolated KN with absolute discount d = 1/2 (exactly
    // representable): P(w2|w1) = (c(w1,w2) − d)/c(w1·)
    // + d·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··) — the smoothing every real
    // perplexity filter uses instead of raw MLE (text_bigram_surprisal),
    // because MLE over-scores memorized bigrams and cannot score unseen
    // ones. All five statistics are exact integer counts (bigram count,
    // context count, distinct-successor fan-out, distinct-predecessor
    // fan-in = the continuation count — KN's signature statistic — and
    // total bigram types), so the probability is one fixed rational
    // expression per pair, written token-for-token identically in both
    // engines, then floor-quantized to the 2^-20 grid for order-free
    // per-doc sums. Same narrow zip_with pairing and equi-join shape as
    // the MLE query; the two extra count tables are vocabulary-sized.
    Q(
      "text_kneser_ney",
      (s, d) => {
        val arr = tokens(col("text"))
        val bg = documents(s, d)
          .select(col("doc_id"),
            explode(zip_with(
              slice(arr, lit(1), size(arr) - 1),
              slice(arr, lit(2), size(arr) - 1),
              (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
          .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
          .transform(GenSnap.snap)
        val cbg = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cbg"))
        val cctx = bg.groupBy("w1").agg(count(lit(1)).as("cctx"),
          count_distinct(col("w2")).as("n1f"))
        val cont = bg.select("w1", "w2").distinct()
          .groupBy("w2").agg(count(lit(1)).as("n1p"))
        val nbt = bg.select("w1", "w2").distinct().agg(count(lit(1)).as("nbt"))
        val p = ((col("cbg").cast("double") - 0.5) / col("cctx").cast("double")) +
          ((lit(0.5) * col("n1f").cast("double") / col("cctx").cast("double")) *
            (col("n1p").cast("double") / col("nbt").cast("double")))
        val sq = floor(-log(p) * 1048576.0) / 1048576.0
        bg.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
          .join(broadcast(cbg), Seq("w1", "w2")).join(broadcast(cctx), "w1")
          .join(broadcast(cont), "w2").crossJoin(broadcast(nbt))
          .select(col("doc_id"), col("tf"), sq.as("sq"))
          .groupBy("doc_id")
          .agg(sum(col("tf")).as("n_bigrams"),
            sum(col("tf").cast("double") * col("sq")).as("kn_surprisal"))
          .select(col("doc_id"), col("n_bigrams"), col("kn_surprisal"),
            (col("kn_surprisal") / col("n_bigrams").cast("double"))
              .as("mean_kn_surprisal"))
          .orderBy("doc_id")
      },
      Some("""WITH ls AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |bg AS (
             |  SELECT doc_id, l[CAST(i AS INT)] AS w1, l[CAST(i AS INT) + 1] AS w2
             |  FROM ls, LATERAL unnest(range(1, len(l))) AS t(i)),
             |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cbg FROM bg GROUP BY w1, w2),
             |cc AS (SELECT w1, CAST(count(*) AS BIGINT) AS cctx,
             |         CAST(count(DISTINCT w2) AS BIGINT) AS n1f FROM bg GROUP BY w1),
             |ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p
             |       FROM (SELECT DISTINCT w1, w2 FROM bg) GROUP BY w2),
             |bt AS (SELECT CAST(count(*) AS BIGINT) AS nbt
             |       FROM (SELECT DISTINCT w1, w2 FROM bg)),
             |tf AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
             |       FROM bg GROUP BY doc_id, w1, w2),
             |sc AS (
             |  SELECT tf.doc_id, tf.tf,
             |    floor(-ln(
             |      ((CAST(cb.cbg AS DOUBLE) - 0.5) / CAST(cc.cctx AS DOUBLE)) +
             |      ((0.5 * CAST(cc.n1f AS DOUBLE) / CAST(cc.cctx AS DOUBLE)) *
             |        (CAST(ct.n1p AS DOUBLE) / CAST(bt.nbt AS DOUBLE)))
             |    ) * 1048576) / 1048576 AS sq
             |  FROM tf JOIN cb USING (w1, w2) JOIN cc USING (w1)
             |  JOIN ct USING (w2) CROSS JOIN bt),
             |agg AS (
             |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
             |    sum(CAST(tf AS DOUBLE) * sq) AS kn_surprisal
             |  FROM sc GROUP BY doc_id)
             |SELECT doc_id, n_bigrams, kn_surprisal,
             |  kn_surprisal / CAST(n_bigrams AS DOUBLE) AS mean_kn_surprisal
             |FROM agg ORDER BY doc_id""".stripMargin)
    ),

    // ── corpus scoring under the trained unigram tokenizer ─────────────
    // What the tokenizer's model is FOR: the per-document negative
    // log-likelihood of its Viterbi segmentation, in the model's own
    // 2^-20 fixed-point costs — so the total is an exact BIGINT
    // (order-free, hash-stable with no float anywhere) and the
    // per-piece mean divides once at the end. Composes the memoized
    // [[unigramTrained]] artifact with one broadcast join over one
    // corpus scan; the doc-level NLL is the ranking signal a
    // tokenizer-aware quality filter thresholds on.
    Q(
      "text_unigram_score",
      (s, d) => {
        val enc = unigramTrained(s, d)._2
          .select(col("word"), size(split(col("seg"), " ")).as("np"),
            col("dpcost"))
        documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
          .filter(col("word") =!= "")
          .join(broadcast(enc), "word")
          .groupBy("doc_id")
          .agg(sum(col("np")).as("n_pieces"),
            sum(col("dpcost")).as("nll_u"))
          .select(col("doc_id"), col("n_pieces"), col("nll_u"),
            ((col("nll_u").cast("double") / 1048576.0) /
              col("n_pieces").cast("double")).as("mean_nll"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
              |$sqlUnigramCtes,
              |enc AS MATERIALIZED (
              |  SELECT word, len(string_split(seg, ' ')) AS np, dpcost FROM seg3),
              |tok AS (
              |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
              |  FROM documents)
              |SELECT t.doc_id,
              |  CAST(sum(e.np) AS BIGINT) AS n_pieces,
              |  CAST(sum(e.dpcost) AS BIGINT) AS nll_u,
              |  (CAST(sum(e.dpcost) AS DOUBLE) / 1048576.0)
              |    / CAST(sum(e.np) AS DOUBLE) AS mean_nll
              |FROM tok t JOIN enc e USING (word)
              |WHERE t.word <> ''
              |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)
    ),

    // ── the cleaned corpus: greedy near-dup keep list ──────────────────
    // The last step of the dedup pipeline — emit what SURVIVES. Greedy
    // keep-first: drop any doc with a ≥0.5-Jaccard neighbor of smaller
    // id (the standard corpus-dedup rule; unlike the component form it
    // needs no fixpoint, just the pair list and an anti-join — one
    // candidate join + one anti-join at any scale). Summarized per lang.
    Q(
      "dedup_keep_list",
      (s, d) => {
        val drops = dupEdges(s, d)
          .select(col("id_b").as("doc_id")).distinct()
        documents(s, d)
          .join(drops, Seq("doc_id"), "left_anti")
          .groupBy("lang").agg(count(lit(1)).as("kept"))
          .orderBy("lang")
      },
      Some(s"""WITH $sqlSketchCtes,
              |$sqlPairCtes,
              |drops AS (SELECT DISTINCT id_b AS doc_id FROM pairs WHERE jaccard >= 0.5)
              |SELECT lang, count(*) AS kept FROM documents
              |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
              |GROUP BY lang ORDER BY lang""".stripMargin)
    ),

    // ── persisted keep-list: the dedup build/serve split ───────────────
    // Same semantics as dedup_keep_list, but the drop set comes from the
    // PUBLISHED pair artifact (see dupPersistedPairs) instead of the
    // session memo — the production shape where the expensive
    // sketch+band+verify job runs once and every downstream curation run
    // reads its output table. The ORACLE reads the same staged artifact
    // (fp-keyed out of the durable glob); pair-set correctness is
    // covered transitively by the row-for-row equality pin against
    // dedup_keep_list (whose oracle replays the full sketch/pair stack)
    // plus the fresh-session zero-rebuild probe in Round16Spec. SCALE:
    // the artifact is duplicate-count-sized; serving is one anti-join.
    Q(
      "dedup_keep_list_persisted",
      (s, d) => {
        val base = dupPersistedPairs(s, d)
        val drops = s.read.parquet(s"$base/pairs")
          .select(col("id_b").as("doc_id")).distinct()
        documents(s, d)
          .join(drops, Seq("doc_id"), "left_anti")
          .groupBy("lang").agg(count(lit(1)).as("kept"))
          .orderBy("lang")
      },
      Some {
        val glob = s"${System.getProperty("java.io.tmpdir")}/graft_idx_${dupIdxToken}_*"
        // the recomputed fingerprint picks the version; ORDER BY ak
        // LIMIT 1 keeps the scalar subquery single-row even when two
        // fp-matching versions exist (identical content — ADVICE r16)
        s"""WITH cfp AS (SELECT $sqlDocsFingerprint AS fp FROM documents),
           |meta AS (SELECT ak FROM read_parquet('$glob/meta/*.parquet')
           |         WHERE fp = (SELECT fp FROM cfp)
           |         ORDER BY ak LIMIT 1),
           |drops AS (SELECT DISTINCT id_b AS doc_id
           |          FROM read_parquet('$glob/pairs/*.parquet')
           |          WHERE ak = (SELECT ak FROM meta))
           |SELECT lang, count(*) AS kept FROM documents
           |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
           |GROUP BY lang ORDER BY lang""".stripMargin
      }
    ),

    // ── dedup ingest publish + serve: version N → N+1 ─────────────────
    // The dedup mirror of ann_graph_insert_publish: the incoming batch
    // is sketched fresh (batch-sized), band-joined against the
    // PUBLISHED pre-ingest state read from storage, and the post-ingest
    // state (pre-ingest pairs ∪ the batch's best-match drop edges;
    // pre-ingest sketches ∪ the batch sketches) is published as its own
    // family's next version — then the post-ingest keep-list is served
    // by reading THAT version. Per lang: kept docs, dropped arrivals
    // (the ingest verdicts), dropped existing (the pre-ingest spine).
    // The ORACLE reads the published post-ingest version out of the
    // durable glob keyed by the fingerprint it recomputes; edge content
    // is anchored by dedup_incremental's full replay oracle plus
    // Round17Spec's edges ≡ dedup_incremental pin and the fresh-session
    // zero-publish/zero-rebuild probes. SCALE: the production dedup
    // ingest loop — batch lands, batch-local band join against served
    // state, re-publish, serve; the corpus is never re-sketched and the
    // pair spine never rebuilt.
    Q(
      "dedup_ingest_publish",
      (s, d) => {
        val v2 = dupIngestPublished(s, d)
        val drops = s.read.parquet(s"$v2/pairs")
          .select(col("id_b").as("doc_id")).distinct()
          .withColumn("dropped", lit(1))
        documents(s, d).join(drops, Seq("doc_id"), "left")
          .groupBy("lang").agg(
            sum(when(col("dropped").isNull, 1L).otherwise(0L)).as("kept"),
            sum(when(col("dropped").isNotNull && col("doc_id") % 10 === 7,
              1L).otherwise(0L)).as("dropped_batch"),
            sum(when(col("dropped").isNotNull && col("doc_id") % 10 =!= 7,
              1L).otherwise(0L)).as("dropped_existing"))
          .orderBy("lang")
      },
      Some {
        val glob = s"${System.getProperty("java.io.tmpdir")}/graft_idx_${dupIncToken}_*"
        s"""WITH cfp AS (SELECT $sqlDocsFingerprint AS fp FROM documents),
           |meta AS (SELECT ak FROM read_parquet('$glob/meta/*.parquet')
           |         WHERE fp = (SELECT fp FROM cfp)
           |         ORDER BY ak LIMIT 1),
           |drops AS (SELECT DISTINCT id_b AS doc_id
           |          FROM read_parquet('$glob/pairs/*.parquet')
           |          WHERE ak = (SELECT ak FROM meta))
           |SELECT lang,
           |  CAST(count(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM drops)) AS BIGINT) AS kept,
           |  CAST(count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM drops) AND doc_id % 10 = 7) AS BIGINT) AS dropped_batch,
           |  CAST(count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM drops) AND doc_id % 10 <> 7) AS BIGINT) AS dropped_existing
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
      }
    ),

    // ── dedup artifact lifecycle visibility: the versions report ──────
    // The dedup twin of ann_index_versions: after the lifecycle jobs ran
    // (pair-spine publish, ingest re-publish), list the published
    // versions serving this corpus across both dedup families with
    // publication key, fingerprint, and serving ROLE. Content-scoped
    // like the ANN report: only versions whose meta fingerprint matches
    // the freshly recomputed docs fingerprint appear, so other datasets'
    // artifacts drop out identically on both engines and the static
    // oracle SQL needs no dataset path. SCALE: meta is one row per
    // version; the report never reads pair or sketch data.
    Q(
      "dedup_pair_versions",
      (s, d) => {
        // ensure the lifecycle ran (each is memoized/served, not rebuilt)
        dupPersistedPairs(s, d); dupIngestPublished(s, d)
        val fp = docsFingerprint(s, d)
        val tmp = System.getProperty("java.io.tmpdir")
        def metas(token: String, family: String) =
          s.read.parquet(s"$tmp/graft_idx_${token}_*/meta")
            .select(lit(family).as("family"), col("ak"), col("fp"))
        metas(dupIdxToken, "pair_spine")
          .unionByName(metas(dupIncToken, "post_ingest"))
          .filter(col("fp") === lit(fp))
          .withColumn("role",
            when(col("family") === "pair_spine", lit("serving_spine"))
              .otherwise(lit("serving_post_ingest")))
          .orderBy("family", "ak")
      },
      Some {
        val tmp = System.getProperty("java.io.tmpdir")
        val g1 = s"$tmp/graft_idx_${dupIdxToken}_*"
        val g2 = s"$tmp/graft_idx_${dupIncToken}_*"
        s"""WITH cfp AS (SELECT $sqlDocsFingerprint AS fp FROM documents),
           |m AS (
           |  SELECT 'pair_spine' AS family, ak, fp
           |  FROM read_parquet('$g1/meta/*.parquet')
           |  UNION ALL
           |  SELECT 'post_ingest' AS family, ak, fp
           |  FROM read_parquet('$g2/meta/*.parquet'))
           |SELECT family, ak, fp,
           |  CASE WHEN family = 'pair_spine' THEN 'serving_spine'
           |       ELSE 'serving_post_ingest' END AS role
           |FROM m
           |WHERE fp = (SELECT fp FROM cfp)
           |ORDER BY family, ak""".stripMargin
      }
    ),

    // ── SimHash (16-bit) per document ──────────────────────────────────
    // bit i of the fingerprint = sign of Σ_tokens (±1 by token-hash bit i).
    // The token-hash array is STAGED as a real column in its own select:
    // the 16 bit-votes each reference the `hs` attribute, so tokens are
    // md5-hashed once per row instead of once per row PER BIT (HOF
    // lambdas re-evaluate captured subexpressions; CollapseProject keeps
    // the stage because hs is referenced 16×). Oracle mirrors with a CTE.
    Q(
      "dedup_simhash",
      (s, d) => cachedSimhash(s, d).orderBy("doc_id"),
      Some(s"""WITH $sqlSimhashCtes
              |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin)
    ),

    // ── SimHash near-dup pairs (banded hamming search) ─────────────────
    // The pair-generation half of SimHash dedup: split the 16-bit
    // fingerprint into four 4-bit bands — pigeonhole: any pair within
    // hamming distance 3 agrees on ≥1 band (we keep the exact-collision tier, hamming = 0, as the near-dup verdict on this tiny-vocab corpus) — equi-join per band (NO
    // all-pairs product, same bucket shape as MinHash-LSH), then verify
    // with the exact popcount of the XOR. Pure integer ops end to end,
    // and bit_count is a codegen'd builtin on both engines.
    Q(
      "dedup_simhash_pairs",
      (s, d) => {
        val sigs = cachedSimhash(s, d)
        val bands = sigs.select(col("doc_id"), col("simhash"),
          explode(array((0 until 4).map(j =>
            struct(lit(j).as("bi"), (shiftright(col("simhash"), 4 * j) % 16).as("bv"))): _*)).as("b"))
          .select(col("doc_id"), col("simhash"), col("b.bi"), col("b.bv"))
        val l = bands.toDF("id_a", "sa", "bi", "bv")
        val r = bands.toDF("id_b", "sb", "bi", "bv")
        l.join(r, Seq("bi", "bv")).filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            expr("CAST(bit_count(sa ^ sb) AS BIGINT)").as("hamming"))
          .distinct()
          .filter(col("hamming") === 0)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $sqlSimhashCtes,
              |bands AS (
              |  SELECT doc_id, simhash, bi, (simhash // dv) % 16 AS bv
              |  FROM sims, (VALUES (0, 1), (1, 16), (2, 256), (3, 4096)) t(bi, dv)),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
              |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
              |  FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
              |  WHERE a.doc_id < b.doc_id)
              |SELECT id_a, id_b, hamming FROM cand WHERE hamming = 0
              |ORDER BY id_a, id_b""".stripMargin)
    ),

    // ── n-gram Jaccard near-dup over banded id pairs ───────────────────
    // Candidate pruning here is the id-band; at scale it is the LSH
    // bucket join above — the Jaccard verify step is identical. The
    // range condition is explode(candidate ids) + EQUI-join: the naive
    // range join planned as a nested-loop product that re-shingled both
    // docs per probed pair (measured 610 s at sf0.1; this shape runs in
    // ~1 s).
    Q(
      "text_decontaminate",
      (s, d) => {
        // train/eval DECONTAMINATION — the n-gram overlap check every
        // training pipeline runs before an eval claim (the GPT-3/Pile
        // methodology): a train doc is contaminated if its shingle
        // overlap with the eval set crosses a bar. Production uses long
        // n-grams where ANY hit contaminates; with word bigrams the
        // equivalent signal is a HIGH distinct-overlap count (≥ 20 —
        // common word pairs alone stay well under it, near-copies sail
        // over). Eval = doc_id % 100 = 7 (deterministic stand-in for a
        // held-out benchmark). SCALE SHAPE: the eval shingle set is tiny
        // → deduped and BROADCAST; the train corpus is scanned once,
        // exploded to (doc, shingle), hash-joined against the broadcast
        // — no corpus self-join, and only MATCHED shingles reach the
        // per-doc count shuffle.
        val sh = cachedSketch(s, d).select(col("doc_id"), col("sh"))
        val evalShingles = sh.filter(col("doc_id") % 100 === 7)
          .select(explode(col("sh")).as("h")).distinct()
        sh.filter(col("doc_id") % 100 =!= 7)
          .select(col("doc_id"), explode(col("sh")).as("h"))
          .join(broadcast(evalShingles), "h")
          .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
          .filter(col("n_overlap") >= 20)
          .orderBy("doc_id")
      },
      Some {
        s"""WITH $sqlSketchCtes,
           |ev AS (SELECT DISTINCT unnest(sh) AS h FROM sketch WHERE doc_id % 100 = 7),
           |tr AS (SELECT doc_id, unnest(sh) AS h FROM sketch WHERE doc_id % 100 <> 7)
           |SELECT tr.doc_id, count(*) AS n_overlap
           |FROM tr JOIN ev USING (h)
           |GROUP BY tr.doc_id HAVING count(*) >= 20
           |ORDER BY doc_id""".stripMargin
      }
    ),

    Q(
      "dedup_ngram_jaccard",
      (s, d) => {
        val sk = docSketch(s, d)
        val a = sk.select(col("doc_id").as("id_a"), col("sh").as("sa"),
          explode(sequence(col("doc_id") + 1, col("doc_id") + 5)).as("id_b"))
        val b = sk.select(col("doc_id").as("id_b"), col("sh").as("sb"))
        a.join(b, "id_b")
          .select(col("id_a"), col("id_b"),
            (size(array_intersect(col("sa"), col("sb"))).cast("double") /
              size(array_union(col("sa"), col("sb")))).as("jaccard"))
          .filter(col("jaccard") >= 0.15)
          .orderBy("id_a", "id_b")
      },
      Some {
        s"""WITH $sqlSketchCtes
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           |  len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
           |FROM sketch a JOIN sketch b
           |  ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5
           |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.15
           |ORDER BY id_a, id_b""".stripMargin
      }
    ),

    // ── LSH banding tuner: the (bands, rows) selection report ──────────
    // Which (b, r) banding should dedup_minhash_pairs run? For a pair
    // of similarity s, banded MinHash detects it with p = 1 − (1−s^r)^b;
    // this query evaluates the three 128-hash layouts (32×4, 16×8,
    // 8×16) against the MEASURED Jaccard distribution of the window-pair
    // sample (the dedup_ngram_jaccard pairs WITHOUT its 0.15 floor, so
    // both the dup mass and the background mass are represented),
    // reporting expected recall on true pairs (s ≥ 0.5) and expected
    // false-candidate rate below. Every power is an EXPLICIT repeated-
    // squaring chain (s², s⁴, s⁸, s¹⁶; (1−sʳ)², …, ³²) — pure IEEE
    // multiplications, NO libm pow whose ulps differ across engines —
    // and per-pair probabilities are 2^-20-floor-quantized before the
    // order-free sum. One pass over the candidate pairs × 3 combos.
    Q(
      "dedup_lsh_tuning",
      (s, d) => {
        val sk = docSketch(s, d)
        val a = sk.select(col("doc_id").as("id_a"), col("sh").as("sa"),
          explode(sequence(col("doc_id") + 1, col("doc_id") + 5)).as("id_b"))
        val b = sk.select(col("doc_id").as("id_b"), col("sh").as("sb"))
        val pairs = a.join(b, "id_b")
          .select((size(array_intersect(col("sa"), col("sb"))).cast("double") /
            size(array_union(col("sa"), col("sb")))).as("s"))
        val combos = {
          import s.implicits._
          Seq((32, 4), (16, 8), (8, 16)).toDF("b", "r")
        }
        val p = pairs.crossJoin(broadcast(combos))
          .withColumn("s2", col("s") * col("s"))
          .withColumn("s4", col("s2") * col("s2"))
          .withColumn("s8", col("s4") * col("s4"))
          .withColumn("s16", col("s8") * col("s8"))
          .withColumn("t", lit(1.0) - when(col("r") === 4, col("s4"))
            .when(col("r") === 8, col("s8")).otherwise(col("s16")))
          .withColumn("t2", col("t") * col("t"))
          .withColumn("t4", col("t2") * col("t2"))
          .withColumn("t8", col("t4") * col("t4"))
          .withColumn("t16", col("t8") * col("t8"))
          .withColumn("t32", col("t16") * col("t16"))
          .withColumn("p", lit(1.0) - when(col("b") === 32, col("t32"))
            .when(col("b") === 16, col("t16")).otherwise(col("t8")))
          .withColumn("q", floor(col("p") * 1048576.0) / 1048576.0)
        p.groupBy("b", "r")
          .agg(
            sum(when(col("s") >= 0.5, 1L).otherwise(0L)).as("n_true"),
            sum(when(col("s") >= 0.5, col("q")).otherwise(0.0)).as("sq_true"),
            sum(when(col("s") < 0.5, 1L).otherwise(0L)).as("n_bg"),
            sum(when(col("s") < 0.5, col("q")).otherwise(0.0)).as("sq_bg"))
          .select(col("b"), col("r"), col("n_true"),
            when(col("n_true") > 0,
              col("sq_true") / col("n_true").cast("double")).as("expected_recall"),
            col("n_bg"),
            when(col("n_bg") > 0,
              col("sq_bg") / col("n_bg").cast("double")).as("false_candidate_rate"))
          .orderBy("b")
      },
      Some {
        s"""WITH $sqlSketchCtes,
           |pairs AS (
           |  SELECT CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
           |         len(list_distinct(list_concat(a.sh, b.sh))) AS s
           |  FROM sketch a JOIN sketch b
           |    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5),
           |combos(b, r) AS (VALUES (32, 4), (16, 8), (8, 16)),
           |pw AS (
           |  SELECT s, b, r,
           |    s * s AS s2, (s * s) * (s * s) AS s4 FROM pairs CROSS JOIN combos),
           |pw2 AS (SELECT s, b, r, s4 * s4 AS s8, (s4 * s4) * (s4 * s4) AS s16, s4
           |        FROM pw),
           |tt AS (
           |  SELECT s, b, r,
           |    1.0 - CASE r WHEN 4 THEN s4 WHEN 8 THEN s8 ELSE s16 END AS t
           |  FROM pw2),
           |tp AS (
           |  SELECT s, b, r, t2 * t2 AS t4, (t2 * t2) * (t2 * t2) AS t8 FROM (
           |    SELECT s, b, r, t * t AS t2 FROM tt)),
           |tp2 AS (SELECT s, b, r, t8, t8 * t8 AS t16, (t8 * t8) * (t8 * t8) AS t32
           |        FROM tp),
           |pp AS (
           |  SELECT s, b, r,
           |    floor((1.0 - CASE b WHEN 32 THEN t32 WHEN 16 THEN t16 ELSE t8 END)
           |      * 1048576) / 1048576 AS q
           |  FROM tp2)
           |SELECT b, r,
           |  CAST(sum(CASE WHEN s >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           |  CASE WHEN sum(CASE WHEN s >= 0.5 THEN 1 ELSE 0 END) > 0 THEN
           |    sum(CASE WHEN s >= 0.5 THEN q ELSE 0.0 END) /
           |    CAST(sum(CASE WHEN s >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE) END
           |    AS expected_recall,
           |  CAST(sum(CASE WHEN s < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_bg,
           |  CASE WHEN sum(CASE WHEN s < 0.5 THEN 1 ELSE 0 END) > 0 THEN
           |    sum(CASE WHEN s < 0.5 THEN q ELSE 0.0 END) /
           |    CAST(sum(CASE WHEN s < 0.5 THEN 1 ELSE 0 END) AS DOUBLE) END
           |    AS false_candidate_rate
           |FROM pp GROUP BY b, r ORDER BY b""".stripMargin
      }
    ),

    // ── prefix-filtered exact similarity join: evaluated, REJECTED ─────
    // The PPJoin family (prefix filtering: J ≥ t pairs must share a
    // token within their (sz − ⌈t·sz⌉ + 1)-prefixes under a global df
    // order) was implemented and measured here as the exact counterpart
    // to the banded candidates — and removed on the numbers. This
    // corpus's template families make whole shingle runs co-occur
    // across hundreds of moderately-similar docs, so prefix buckets
    // (even with the positional filter, a 0.8 threshold, or 2-shingle
    // blocking keys) generated 0.66M–3.6M candidate pairs for 256 true
    // pairs at sf0.1 (~40 s vs ~1 s for the MinHash path). A 4-minhash
    // band only collides at high overall similarity, which is exactly
    // the selectivity single- or double-shingle blocks lack here;
    // exactness is instead recovered by verifying TRUE Jaccard on the
    // banded candidates (dedup_minhash_pairs / dedup_ngram_jaccard).

    // ── exact per-group length quantiles (type-1, integer-exact) ───────
    // The length-percentile curation filter's calibration step: p50/p90
    // token counts per language, computed EXACTLY — rank every doc
    // within its language (total order: token count, then doc_id) and
    // pick the value at rank ceil(q·n). Type-1 (no interpolation), so
    // the answer is an actual integer from the data and bit-questions
    // never arise — unlike percentile_approx (sketch) or interpolating
    // quantiles (float fold). One shuffle on lang; the rank window and
    // the final aggregation share that partitioning. At 100 TB the same
    // plan holds per language; a single giant language is the documented
    // skew case (same salting story as the dedup joins).
    Q(
      "text_length_quantiles",
      (s, d) => {
        val byLang = Window.partitionBy("lang")
          .orderBy(col("n_tokens").asc, col("doc_id").asc)
        documents(s, d)
          .select(col("doc_id"), col("lang"), size(tokens(col("text"))).as("n_tokens"))
          .withColumn("rk", row_number().over(byLang))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy("lang")))
          .groupBy("lang")
          // rank ceil(q·n) in EXACT integer arithmetic: ceil(n/2) =
          // (n+1)//2 and ceil(9n/10) = (9n+9)//10. The float form
          // ceil(cnt * 0.9) is a knife edge — 0.9 as a double is
          // 0.9000…0002, so for cnt ≡ 0 (mod 10) Spark's product lands
          // just ABOVE the integer and ceil picks the next rank, while
          // DuckDB's bare 0.9 literal is DECIMAL and exact. No corpus
          // language hits a multiple of 10 at the tested sfs, but the
          // hazard class is the same one the BM25 knife-edge guard
          // documents — integer ranks close it for every cnt.
          .agg(
            max(when(col("rk") === ((col("cnt") + 1) / 2).cast("long"),
              col("n_tokens"))).as("p50"),
            max(when(col("rk") === ((col("cnt") * 9 + 9) / 10).cast("long"),
              col("n_tokens"))).as("p90"),
            max(col("n_tokens")).as("pmax"),
            count(lit(1)).as("n_docs"))
          .orderBy("lang")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
             |  FROM documents),
             |r AS (
             |  SELECT lang, n_tokens,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY n_tokens ASC, doc_id ASC) AS rk,
             |    count(*) OVER (PARTITION BY lang) AS cnt
             |  FROM t)
             |SELECT lang,
             |  max(CASE WHEN rk = (cnt + 1) // 2 THEN n_tokens END) AS p50,
             |  max(CASE WHEN rk = (cnt * 9 + 9) // 10 THEN n_tokens END) AS p90,
             |  max(n_tokens) AS pmax,
             |  count(*) AS n_docs
             |FROM r GROUP BY lang ORDER BY lang""".stripMargin)
    ),

    // ── blocked fuzzy matching (record linkage / entity resolution) ────
    // The standard ER pipeline: a cheap BLOCKING key prunes the pair
    // space to an equi-join (here (brand, head noun of the name) — at
    // sf0.1 that is ~1M candidate pairs instead of the 200M all-pairs
    // product), then an edit-distance verify runs only inside blocks.
    // `levenshtein` is a codegen'd built-in on both engines and exact-
    // integer, so the whole query stays hash-checkable. At 100 TB the
    // block key is the shuffle key; a skewed mega-block would get the
    // same salting treatment as the dedup wedge joins (SkewSpec).
    Q(
      "dedup_fuzzy_blocked",
      (s, d) => {
        // the head-noun block key is defined only for multi-word names:
        // filter explicitly (all corpus names qualify) rather than let
        // the engines diverge on the degenerate case — Spark's
        // split()[1] yields NULL (null-rejected by the equi-join) where
        // DuckDB's split_part yields '' (which would join).
        // Width before CPU (guide §2.5): the block join explodes ~20 k
        // parts into ~1 M candidate pairs and runs levenshtein INSIDE
        // the probe stage of the broadcast join — whose width is the
        // part.parquet scan's 1-2 input splits. Repartitioning the
        // streamed side to the session parallelism runs the verify on
        // all cores; one ~20 k-row exchange, result order-independent
        // (total-order ORDER BY + LIMIT at the end).
        val p = part(s, d)
          .filter(col("p_name").contains(" "))
          .select(col("p_partkey"), col("p_name"), col("p_brand"),
            split(col("p_name"), " ").getItem(1).as("noun"))
        // both sides widened: the planner broadcasts whichever side it
        // likes, and the OTHER side's width is what the verify runs at
        val wide = p.repartition(s.sessionState.conf.numShufflePartitions)
        val a = wide.toDF("pa", "name_a", "brand", "noun")
        val b = wide.toDF("pb", "name_b", "brand", "noun")
        a.join(b, Seq("brand", "noun"))
          .filter(col("pa") < col("pb"))
          .select(col("pa"), col("pb"), col("name_a"), col("name_b"),
            levenshtein(col("name_a"), col("name_b")).as("dist"))
          .filter(col("dist") <= 4)
          .orderBy(col("dist").asc, col("pa").asc, col("pb").asc)
          .limit(100)
      },
      Some("""WITH p AS (SELECT p_partkey, p_name, p_brand,
             |              split_part(p_name, ' ', 2) AS noun FROM part
             |            WHERE p_name LIKE '% %')
             |SELECT a.p_partkey AS pa, b.p_partkey AS pb,
             |  a.p_name AS name_a, b.p_name AS name_b,
             |  levenshtein(a.p_name, b.p_name) AS dist
             |FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.noun = b.noun
             |WHERE a.p_partkey < b.p_partkey
             |  AND levenshtein(a.p_name, b.p_name) <= 4
             |ORDER BY dist ASC, pa ASC, pb ASC LIMIT 100""".stripMargin)
    ),

    // ── Zipf fit: corpus health check by log-log rank/frequency OLS ────
    // The curation smoke test for scraped corpora: natural text follows
    // freq ∝ rank^s with s ≈ −1; a slope far off (or a low R²) flags
    // boilerplate floods and dedup failures. Fit: rank the top 1000
    // vocabulary terms (count desc, term asc — deterministic), take
    // L = ⌊ln(rank)·2^16⌋ and F = ⌊ln(cnt)·2^16⌋ as BIGINT fixed point
    // (the 2^16 grid keeps ΣLF ≤ 1000·4.6e5·7.6e5 ≈ 3.5e14 ≪ 2^63, so
    // every moment is an order-free exact integer sum; Round10Spec
    // sweeps every ln boundary so a cross-engine ulp cannot flip a
    // floor), then the ml_linreg closed form on the five moments —
    // doubles appear only in the final O(1) arithmetic, identical
    // expression tree on both engines. SCALE: one vocab partial-agg +
    // a top-k (the text_vocab_topk plan) and a 1000-row reduction —
    // corpus size only touches the first shuffle.
    Q(
      "text_zipf_slope",
      (s, d) => {
        val ranked = documents(s, d)
          .select(explode(tokens(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token").asc)
          .limit(1000)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("cnt").desc, col("token").asc)))
        val m = ranked.select(
            floor(log(col("rank").cast("double")) * 65536.0).cast("long").as("lx"),
            floor(log(col("cnt").cast("double")) * 65536.0).cast("long").as("ly"))
          .agg(count(lit(1)).as("n"), sum("lx").as("sx"), sum("ly").as("sy"),
            sum(col("lx") * col("ly")).as("sxy"),
            sum(col("lx") * col("lx")).as("sxx"),
            sum(col("ly") * col("ly")).as("syy"))
        val nD = col("n").cast("double")
        def dd(c: String) = col(c).cast("double")
        val covn = nD * dd("sxy") - dd("sx") * dd("sy")
        val varxn = nD * dd("sxx") - dd("sx") * dd("sx")
        val varyn = nD * dd("syy") - dd("sy") * dd("sy")
        val slope = covn / varxn
        m.select(col("n"), slope.as("zipf_slope"),
          (covn * covn / (varxn * varyn)).as("r2"))
      },
      Some("""WITH v AS (
             |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
             |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             |  GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 1000),
             |ranked AS (
             |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
             |  FROM v),
             |fp AS (
             |  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 65536) AS BIGINT) AS lx,
             |    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 65536) AS BIGINT) AS ly
             |  FROM ranked),
             |m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n, sum(lx) AS sx, sum(ly) AS sy,
             |    sum(lx * ly) AS sxy, sum(lx * lx) AS sxx, sum(ly * ly) AS syy
             |  FROM fp)
             |SELECT n,
             |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS zipf_slope,
             |  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2
             |FROM m""".stripMargin)
    ),

    // ── PSI drift monitor: per-slice population stability index ───────
    // The ML-monitoring staple: PSI = Σ_bins (aᵢ−eᵢ)·ln(aᵢ/eᵢ) between a
    // REFERENCE population's feature distribution and each incoming
    // slice's ( <0.1 stable / 0.1–0.25 watch / >0.25 drifted ). Here:
    // reference = the 'en' corpus, slices = each other language, feature
    // = doc length (n_chars) over 10 fixed-width bins spanning the
    // corpus min/max (the reliability-bins integer binning). Shares are
    // Laplace-smoothed ((cnt+1)/(n+10)) so empty bins stay defined with
    // no epsilon hack; a seeded lang×bin grid guarantees all 10 terms
    // exist. Parity: bin index is pure integer arithmetic; each share is
    // ONE division of exact BIGINTs; ln rides the proven Spark log() ≡
    // DuckDB ln() path UNDER 2^-20 floor-quantization of the log output
    // (r12 red: unquantized ln diverged by 1 ulp on one bin — the same
    // lesson as the entropy/idf family); the per-slice total is the 10
    // terms summed in
    // FIXED textual order via conditional aggregation (never a float
    // sum over unordered rows). SCALE: one binning pass + two
    // counting shuffles; the grid/term/total tables are langs×10 rows.
    Q(
      "text_psi_drift",
      (s, d) => {
        val dbl = (c: Column) => c.cast("double")
        val docs = documents(s, d).select(col("lang"), col("n_chars"))
        val mm = docs.agg(min("n_chars").as("mn"), max("n_chars").as("mx"))
        val binned = docs.crossJoin(broadcast(mm))
          .select(col("lang"),
            least(lit(9L), expr("((n_chars - mn) * 10) DIV (mx - mn + 1)")).as("bin"))
        val eCnt = binned.filter(col("lang") === "en")
          .groupBy("bin").agg(count(lit(1)).as("e_cnt"))
        val eTot = binned.filter(col("lang") === "en")
          .agg(count(lit(1)).as("n_e"))
        val aCnt = binned.filter(col("lang") =!= "en")
          .groupBy("lang", "bin").agg(count(lit(1)).as("a_cnt"))
        val aTot = binned.filter(col("lang") =!= "en")
          .groupBy("lang").agg(count(lit(1)).as("n_a"))
        val seed = docs.filter(col("lang") =!= "en").select("lang").distinct()
          .select(col("lang"), explode(sequence(lit(0L), lit(9L))).as("bin"))
        val grid = seed
          .join(aCnt, Seq("lang", "bin"), "left")
          .join(eCnt, Seq("bin"), "left")
          .join(aTot, Seq("lang"))
          .crossJoin(broadcast(eTot))
          .select(col("lang"), col("bin"),
            coalesce(col("e_cnt"), lit(0L)).as("e_n"),
            coalesce(col("a_cnt"), lit(0L)).as("a_n"),
            col("n_e"), col("n_a"))
        val terms = grid.select(col("lang"), col("bin"), col("e_n"), col("a_n"),
            (dbl(col("e_n") + 1L) / dbl(col("n_e") + 10L)).as("e_share"),
            (dbl(col("a_n") + 1L) / dbl(col("n_a") + 10L)).as("a_share"))
          .withColumn("psi_term",
            (col("a_share") - col("e_share")) *
              (floor(log(col("a_share") / col("e_share")) * 1048576.0) / 1048576.0))
        val tot = terms.groupBy("lang").agg(
          max(when(col("bin") === 0, col("psi_term"))).as("t0"),
          (1 to 9).map(i =>
            max(when(col("bin") === i, col("psi_term"))).as(s"t$i")): _*)
        val psi = tot.select(col("lang"),
          (col("t0") + col("t1") + col("t2") + col("t3") + col("t4") +
            col("t5") + col("t6") + col("t7") + col("t8") + col("t9")).as("psi_total"))
        terms.join(psi, "lang")
          .select(col("lang"), col("bin"), col("e_n"), col("a_n"),
            col("e_share"), col("a_share"), col("psi_term"), col("psi_total"))
          .orderBy("lang", "bin")
      },
      Some("""WITH mm AS (
             |  SELECT CAST(min(n_chars) AS BIGINT) AS mn,
             |    CAST(max(n_chars) AS BIGINT) AS mx FROM documents),
             |b AS (
             |  SELECT lang, least(9, ((n_chars - mn) * 10) // (mx - mn + 1)) AS bin
             |  FROM documents, mm),
             |ec AS (SELECT bin, CAST(count(*) AS BIGINT) AS e_cnt
             |       FROM b WHERE lang = 'en' GROUP BY 1),
             |et AS (SELECT CAST(count(*) AS BIGINT) AS n_e FROM b WHERE lang = 'en'),
             |ac AS (SELECT lang, bin, CAST(count(*) AS BIGINT) AS a_cnt
             |       FROM b WHERE lang <> 'en' GROUP BY 1, 2),
             |at2 AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_a
             |        FROM b WHERE lang <> 'en' GROUP BY 1),
             |seed AS (
             |  SELECT l.lang, CAST(r.range AS BIGINT) AS bin
             |  FROM (SELECT DISTINCT lang FROM documents WHERE lang <> 'en') l
             |  CROSS JOIN range(10) r),
             |grid AS (
             |  SELECT seed.lang, seed.bin,
             |    coalesce(ec.e_cnt, 0) AS e_n, coalesce(ac.a_cnt, 0) AS a_n,
             |    et.n_e, at2.n_a
             |  FROM seed
             |  LEFT JOIN ac ON ac.lang = seed.lang AND ac.bin = seed.bin
             |  LEFT JOIN ec ON ec.bin = seed.bin
             |  JOIN at2 ON at2.lang = seed.lang
             |  CROSS JOIN et),
             |t AS (
             |  SELECT lang, bin, e_n, a_n,
             |    CAST(e_n + 1 AS DOUBLE) / CAST(n_e + 10 AS DOUBLE) AS e_share,
             |    CAST(a_n + 1 AS DOUBLE) / CAST(n_a + 10 AS DOUBLE) AS a_share,
             |    (CAST(a_n + 1 AS DOUBLE) / CAST(n_a + 10 AS DOUBLE)
             |      - CAST(e_n + 1 AS DOUBLE) / CAST(n_e + 10 AS DOUBLE))
             |      * (floor(ln((CAST(a_n + 1 AS DOUBLE) / CAST(n_a + 10 AS DOUBLE))
             |        / (CAST(e_n + 1 AS DOUBLE) / CAST(n_e + 10 AS DOUBLE)))
             |        * 1048576) / 1048576) AS psi_term
             |  FROM grid),
             |tot AS (
             |  SELECT lang,
             |    max(CASE WHEN bin = 0 THEN psi_term END)
             |    + max(CASE WHEN bin = 1 THEN psi_term END)
             |    + max(CASE WHEN bin = 2 THEN psi_term END)
             |    + max(CASE WHEN bin = 3 THEN psi_term END)
             |    + max(CASE WHEN bin = 4 THEN psi_term END)
             |    + max(CASE WHEN bin = 5 THEN psi_term END)
             |    + max(CASE WHEN bin = 6 THEN psi_term END)
             |    + max(CASE WHEN bin = 7 THEN psi_term END)
             |    + max(CASE WHEN bin = 8 THEN psi_term END)
             |    + max(CASE WHEN bin = 9 THEN psi_term END) AS psi_total
             |  FROM t GROUP BY lang)
             |SELECT t.lang, t.bin, t.e_n, t.a_n, t.e_share, t.a_share,
             |  t.psi_term, tot.psi_total
             |FROM t JOIN tot ON tot.lang = t.lang
             |ORDER BY t.lang, t.bin""".stripMargin)
    ),

    // ── DoReMi-style domain reweighting (Xie et al. 2023, simplified) ──
    // The mixture-weights question every multi-source training run
    // faces: how much of each SOURCE should the next epoch sample? The
    // full algorithm trains a proxy model per round; this operator runs
    // the reweighting LOOP itself exactly — per-domain excess loss is
    // the corpus-unigram cross-entropy per token (cost of a token =
    // floor(ln(N/c_w)·2^20), the same Spark log ≡ DuckDB ln quantized
    // path the entropy/burst queries already drive bit-identically),
    // then 8 multiplicative-weights rounds w ← w·(1 + η·û)/Z in PURE
    // BIGINT fixed point (η = 1/4, û the min-max-normalized excess,
    // weights renormalized to 2^24 with truncating division each round —
    // truncation makes every round depend on the last, so the oracle's
    // 8 chained CTEs genuinely replay the loop, not a closed form).
    // SCALE: the corpus-sized work (tokenize, count, per-domain NLL sum)
    // is all distributed aggregation; only the DOMAIN table (one row per
    // source — 20 here, thousands at worst in production) crosses to the
    // driver for the loop, the bounded model-state boundary the Markov
    // attribution matrix established.
    Q(
      "ml_doremi_weights",
      (s, d) => {
        val spark = s
        import spark.implicits._
        doremiDomainWeights(s, d).toSeq
          .toDF("source", "tokens", "nll", "excess_fp", "weight_fp")
          .orderBy("source")
      },
      Some(s"""WITH $sqlDoremiCtes
              |SELECT source, tokens, nll, excess AS excess_fp, w AS weight_fp
              |FROM w8 ORDER BY source""".stripMargin)
    ),

    // ── deterministic mixture sampling (the data-mixing manifest) ──────
    // Given per-language token budgets (the weights ml_doremi_weights
    // produces upstream), emit WHICH documents the next epoch reads:
    // per language, documents are ranked by the deterministic
    // multiplicative hash (an unbiased, reproducible shuffle — the F8
    // convention) and taken in hash order until the cumulative character
    // budget is crossed, INCLUDING the crossing document (cum − own <
    // budget), so every budget is met, never silently under-filled.
    // SCALE: one partitioned window per language — rank and running sum
    // share the single (lang, hash) sort; the output is the manifest a
    // 100 TB run would hand its reader as a pushed-down id list.
    Q(
      "text_mixture_sample",
      (s, d) => {
        val budget = when(col("lang") === "en", 20000L).otherwise(5000L)
        // VERDICT-r16 task 4: rank + running sum via the DISTRIBUTED
        // two-level prefix scan (text_weighted_sample's shape) instead
        // of one window per language — at 100 TB a per-language window
        // is a single reducer pulling the whole language through it
        blockedRankCum(
          documents(s, d)
            .select(col("doc_id"), col("lang"), col("n_chars"),
              Tables.detHash(col("doc_id")).as("h")),
          "lang", "h", "n_chars")
          .filter(col("cum") - col("n_chars") < budget)
          .select(col("lang"), col("rk").cast("int").as("pick_rank"),
            col("doc_id"), col("n_chars"), col("cum").as("cum_chars"))
          .orderBy("lang", "pick_rank")
      },
      Some {
        val h = Tables.detHashSql("doc_id")
        s"""WITH ranked AS (
           |  SELECT doc_id, lang, n_chars,
           |    row_number() OVER (PARTITION BY lang ORDER BY $h, doc_id) AS rk,
           |    sum(n_chars) OVER (PARTITION BY lang ORDER BY $h, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM documents)
           |SELECT lang, CAST(rk AS INT) AS pick_rank, doc_id, n_chars,
           |  CAST(cum AS BIGINT) AS cum_chars
           |FROM ranked
           |WHERE cum - n_chars < CASE WHEN lang = 'en' THEN 20000 ELSE 5000 END
           |ORDER BY lang, pick_rank""".stripMargin
      }
    ),

    // ── end-to-end mixture manifest: DoReMi weights → sampling budgets ─
    // VERDICT-r14 task 5 — the composition a real pipeline runs:
    // ml_doremi_weights' per-SOURCE weight_fp (2^24 grid, the bounded
    // driver boundary) becomes each source's character budget of the
    // sampling manifest (budget = weight·TOTAL // 2^24, exact integer),
    // and text_mixture_sample's deterministic hash-ranked
    // take-until-crossed window runs per source against those budgets.
    // The Spark side reads the memoized domain table; the oracle CHAINS
    // the full DoReMi CTE stack into the window query, transitively
    // re-proving the shared artifact (the text_tokenizer_fertility
    // convention). SCALE: one partitioned window per source over the
    // doc table + a broadcast 20-row budget join; the output is the id
    // manifest a 100 TB run hands its reader.
    Q(
      "text_doremi_manifest",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val TotalChars = 200000L
        val budgets = doremiDomainWeights(s, d)
          .map { case (src, _, _, _, w) => (src, w * TotalChars / 16777216L) }
          .toSeq.toDF("source", "budget_chars")
        // two-level prefix scan per source (VERDICT-r16 task 4)
        blockedRankCum(
          documents(s, d)
            .select(col("doc_id"), col("source"), col("n_chars"),
              Tables.detHash(col("doc_id")).as("h")),
          "source", "h", "n_chars")
          .join(broadcast(budgets), "source")
          .filter(col("cum") - col("n_chars") < col("budget_chars"))
          .select(col("source"), col("rk").cast("int").as("pick_rank"),
            col("doc_id"), col("n_chars"), col("cum").as("cum_chars"),
            col("budget_chars"))
          .orderBy("source", "pick_rank")
      },
      Some {
        val h = Tables.detHashSql("doc_id")
        s"""WITH $sqlDoremiCtes,
           |budgets AS (SELECT source,
           |  CAST((w * 200000) // 16777216 AS BIGINT) AS budget_chars FROM w8),
           |ranked AS (
           |  SELECT doc_id, source, n_chars,
           |    row_number() OVER (PARTITION BY source ORDER BY $h, doc_id) AS rk,
           |    sum(n_chars) OVER (PARTITION BY source ORDER BY $h, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM documents)
           |SELECT r.source, CAST(rk AS INT) AS pick_rank, doc_id, n_chars,
           |  CAST(cum AS BIGINT) AS cum_chars, b.budget_chars
           |FROM ranked r JOIN budgets b ON b.source = r.source
           |WHERE cum - n_chars < b.budget_chars
           |ORDER BY r.source, pick_rank""".stripMargin
      }
    ),

    // ── end-to-end corpus manifest: filter → dedup → mixture → pack ───
    // VERDICT-r15 task 6 — the composition a real 100 TB curation run
    // executes as ONE dataflow, with every doc carrying its stage
    // verdict: exact-dup/length/quality gates (text_filter_pipeline's
    // exact thresholds), the MinHash ≥0.5-Jaccard near-dup drop list
    // (dedup_keep_list's memoized pair spine), DoReMi per-source char
    // budgets over the SURVIVORS (text_doremi_manifest's exact integer
    // budgets + hash-ranked take-until-crossed window), and finally
    // 4096-char bin packing offsets for the kept picks. The oracle
    // chains all four parents' CTE stacks (sketch/pairs, DoReMi rounds,
    // the filter CTEs, the window), transitively re-proving each shared
    // artifact one level up. SCALE: one corpus scan feeds the filter
    // signals; the near-dup join is against the pair-spine's id set
    // (duplicate-count-sized); the budget join broadcasts a 20-row
    // frame; the window is one partitioned pass per source — no stage
    // ever holds more than the corpus partition it is streaming.
    Q(
      "text_corpus_manifest",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val TotalChars = 200000L
        val budgets = doremiDomainWeights(s, d)
          .map { case (src, _, _, _, w) => (src, w * TotalChars / 16777216L) }
          .toSeq.toDF("source", "budget_chars")
        val drops = dupEdges(s, d)
          .select(col("id_b").as("doc_id")).distinct()
          .withColumn("nd", lit(true))
        val base = documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"),
            length(col("text")).as("len"), md5(col("text")).as("h"),
            markerScore(tokens(col("text")), stopwords).as("stop_cnt"))
          .withColumn("keeper", min("doc_id").over(Window.partitionBy("h")))
        val flagged = base
          .join(drops, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"), col("n_chars"),
            when(col("doc_id") =!= col("keeper"), "dup_exact")
              .when(col("len") < 100, "too_short")
              .when(col("len") > 20000 || col("stop_cnt") === 0, "low_quality")
              .when(col("nd"), "near_dup")
              .otherwise("pass").as("v0"))
        // two-level prefix scan per source (VERDICT-r16 task 4): the
        // budget-crossing selection over the survivors never funnels a
        // source through one reducer
        val picked = blockedRankCum(
            flagged.filter(col("v0") === "pass")
              .withColumn("hh", Tables.detHash(col("doc_id"))),
            "source", "hh", "n_chars")
          .join(broadcast(budgets), "source")
          .withColumn("in_budget", col("cum") - col("n_chars") < col("budget_chars"))
          .select(col("doc_id"), col("source"),
            when(col("in_budget"), "kept").otherwise("over_budget").as("verdict"),
            when(col("in_budget"), col("rk").cast("int")).as("pick_rank"),
            when(col("in_budget"),
              floor((col("cum") - col("n_chars")) / lit(4096))).as("bin"))
        val rest = flagged.filter(col("v0") =!= "pass")
          .select(col("doc_id"), col("source"), col("v0").as("verdict"),
            lit(null).cast("int").as("pick_rank"),
            lit(null).cast("long").as("bin"))
        picked.unionByName(rest).orderBy("doc_id")
      },
      Some {
        val t = "string_split(text, ' ')"
        val h = Tables.detHashSql("doc_id")
        s"""WITH $sqlSketchCtes,
           |$sqlPairCtes,
           |$sqlDoremiCtes,
           |budgets AS (SELECT source,
           |  CAST((w * 200000) // 16777216 AS BIGINT) AS budget_chars FROM w8),
           |drops AS (SELECT DISTINCT id_b AS doc_id FROM pairs WHERE jaccard >= 0.5),
           |base AS (
           |  SELECT doc_id, source, n_chars, length(text) AS len, md5(text) AS h,
           |         ${sqlMarkerScore(t, stopwords)} AS stop_cnt
           |  FROM documents),
           |keeper AS (SELECT h, min(doc_id) AS keeper FROM base GROUP BY h),
           |flagged AS (
           |  SELECT b.doc_id, b.source, b.n_chars,
           |    CASE WHEN b.doc_id <> k.keeper THEN 'dup_exact'
           |         WHEN b.len < 100 THEN 'too_short'
           |         WHEN b.len > 20000 OR b.stop_cnt = 0 THEN 'low_quality'
           |         WHEN dr.doc_id IS NOT NULL THEN 'near_dup'
           |         ELSE 'pass' END AS v0
           |  FROM base b JOIN keeper k USING (h)
           |  LEFT JOIN drops dr ON dr.doc_id = b.doc_id),
           |ranked AS (
           |  SELECT doc_id, source, n_chars,
           |    row_number() OVER (PARTITION BY source ORDER BY $h, doc_id) AS rk,
           |    sum(n_chars) OVER (PARTITION BY source ORDER BY $h, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM flagged WHERE v0 = 'pass'),
           |picked AS (
           |  SELECT r.doc_id, r.source,
           |    CASE WHEN r.cum - r.n_chars < b.budget_chars
           |         THEN 'kept' ELSE 'over_budget' END AS verdict,
           |    CASE WHEN r.cum - r.n_chars < b.budget_chars
           |         THEN CAST(r.rk AS INT) END AS pick_rank,
           |    CASE WHEN r.cum - r.n_chars < b.budget_chars
           |         THEN CAST((r.cum - r.n_chars) // 4096 AS BIGINT) END AS bin
           |  FROM ranked r JOIN budgets b USING (source))
           |SELECT doc_id, source, verdict, pick_rank, bin FROM picked
           |UNION ALL
           |SELECT doc_id, source, v0 AS verdict, CAST(NULL AS INT) AS pick_rank,
           |  CAST(NULL AS BIGINT) AS bin
           |FROM flagged WHERE v0 <> 'pass'
           |ORDER BY doc_id""".stripMargin
      }
    )
  )
}
