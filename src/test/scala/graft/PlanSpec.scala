package graft

/** Physical-plan shape assertions: the properties that make these
  * operators survive a 100 TB scale-up must be visible in the plan, not
  * just hoped for. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** A query's executed plan, unwrapping the AQE leaf wrapper. */
  private def executed(name: String): org.apache.spark.sql.execution.SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case o => o
    }

  /** Parquet scans of a query plan, unwrapping the AQE leaf wrapper. */
  private def scansOf(name: String): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    executed(name).collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }

  test("filters are pushed down to the parquet scan") {
    val p = plan("rel_scan_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)") ||
      p.contains("GreaterThan(l_quantity,30.0)") ||
      p.matches("(?s).*PushedFilters: \\[[^\\]]*l_quantity[^\\]]*\\].*"),
      s"expected quantity filter pushed to scan:\n$p")
  }

  test("projection pruning reaches the scan (ReadSchema is narrow)") {
    // lineitem has 11 columns; the query needs 4 projected + 2 filter cols
    val scans = scansOf("rel_scan_filter_project")
    assert(scans.nonEmpty)
    val cols = scans.head.requiredSchema.fields.length
    assert(cols <= 6, s"scan reads $cols columns, expected <= 6")
  }

  test("star join broadcasts the dimension tables") {
    val p = plan("rel_star_join")
    assert(p.contains("BroadcastHashJoin"), s"dims should broadcast:\n$p")
  }

  test("top-k is TakeOrderedAndProject, not a full sort") {
    val p = plan("rel_top100_orders")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("k-means assignment broadcasts the centroid side") {
    val p = plan("kmeans_assign")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroids must broadcast:\n$p")
  }

  test("near-dup candidate join is an equi-join, not a nested-loop product") {
    val p = plan("dedup_ngram_jaccard")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"banded near-dup must not plan a product join:\n$p")
  }

  test("semi join stays a semi join in the physical plan") {
    val p = plan("rel_semi_join")
    assert(p.contains("LeftSemi"), s"expected semi join:\n$p")
  }

  test("vec_stats stages the mean as a real column (no per-element refold)") {
    // if CollapseProject inlined the mean back into the std lambda, the
    // staged attribute would vanish from the optimized plan and the fold
    // would re-run per element (O(d²) per row)
    val p = SparkEntry.queries("vec_stats")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("mean#"), s"mean must survive as a staged attribute:\n$p")
  }

  test("dedup_simhash stages the token-hash array as a real column") {
    // the memoized serve path is a staged leaf since r17, so the pin
    // moves to the BUILD plan (the one place the HOF lambdas live): if
    // CollapseProject inlined hs back into the per-bit lambdas, the
    // staged attribute would vanish and the fold would re-run per bit
    val p = ops.Text.simhashSigs(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("hs#"), s"hs must survive as a staged attribute:\n$p")
  }

  test("LSH top-k probes via an equi-join on the bucket, not a product") {
    val p = plan("ann_lsh_topk")
    assert(!p.contains("CartesianProduct"), s"bucket probe must be a join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe side should broadcast:\n$p")
  }

  test("MinHash-LSH candidate generation never plans a product join") {
    val p = plan("dedup_minhash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band-bucket candidates must equi-join:\n$p")
  }

  test("embedding near-dup joins candidates by key, not by range product") {
    val p = plan("dedup_embedding_cosine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"exploded id-band must equi-join:\n$p")
  }

  test("per-row vector ops shuffle only for their final global sort") {
    // vec_histogram_hsv includes a 48-way per-row explode; still narrow —
    // one scan, no join/agg, only the presentation-sort exchange
    for (q <- Seq("vec_blur", "vec_glcm_texture", "vec_stats", "vec_edge_energy",
                  "vec_histogram_hsv")) {
      val p = plan(q)
      val exchanges = "Exchange ".r.findAllIn(p).size
      assert(exchanges <= 1, s"$q should be map-only + one sort exchange:\n$p")
    }
  }

  test("contour extraction is a narrow per-row map: no joins, one sort exchange") {
    // the component graph is row-local (64 cells) — the plan must be a
    // single scan + flatMap, not a distributed fixpoint (no join, no
    // aggregate); the only exchange is the final presentation sort.
    val p = plan("vec_contours")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"row-local kernel must not shuffle for joins/aggs:\n$p")
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected only the orderBy exchange:\n$p")
  }

  test("interval range join plans as a bucketed equi-join, not a theta join") {
    val p = plan("evt_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join must equi-join on (user, bucket):\n$p")
  }

  test("index-driven search plans candidate semi-join + top-k, no product") {
    val p = plan("text_search_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"posting lookup must stay an equi-join:\n$p")
  }

  test("fusion join prunes both scans to the needed columns") {
    val scans = scansOf("mm_fusion_features")
    assert(scans.size == 2, s"expected two scans, got ${scans.size}")
    scans.foreach { sc =>
      assert(sc.requiredSchema.fields.length <= 2,
        s"scan should read <=2 columns, got ${sc.requiredSchema.catalogString}")
    }
  }

  test("preprocessing funnel scans the corpus once") {
    val scans = scansOf("text_filter_pipeline")
    assert(scans.size == 1, s"expected one documents scan, got ${scans.size}")
  }

  test("elbow curve scans the embeddings corpus once (r10 one-pass refactor)") {
    // the query itself collects the 8-row centroid prefix (one tiny
    // TakeOrdered scan at build time); the SCORING plan — what runs per
    // corpus row — must read embeddings exactly once and shuffle only
    // the 1-row partial agg.
    val scans = scansOf("kmeans_elbow")
    assert(scans.size == 1, s"expected ONE embeddings scan, got ${scans.size}")
    val p = plan("kmeans_elbow")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("SortMergeJoin"),
      s"elbow scoring must be join-free:\n$p")
  }

  test("pivot plans as one conditional aggregation, no join or transpose") {
    val p = plan("rel_pivot")
    assert(!p.contains("Join"), s"pivot must not join:\n$p")
    assert(p.contains("HashAggregate"), s"pivot must be an aggregate:\n$p")
  }

  test("wHash candidate generation joins on the band bucket, never a product") {
    val p = plan("vec_whash_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"banded wHash search must be an equi-join:\n$p")
  }

  test("round-11 analytics plan equi-joins and windows, never products") {
    for (q <- Seq("graph_triads", "graph_reciprocity", "evt_interval_union",
        "rel_set_ops_all", "evt_cohort_ltv", "evt_rfm")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q must not plan a cartesian product:\n$p")
      // BroadcastNestedLoopJoin is legal only for the 1-row stat sides
      // (cross joins of single aggregates); a BNLJ with a non-trivial
      // build would pair with a product-shaped row count — covered by
      // the cartesian assert plus the oracle row counts.
    }
    // interval union: exactly one exchange keys the per-user windows +
    // aggregation; only the presentation sort adds a second
    val p = plan("evt_interval_union")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"interval union should shuffle once by user:\n$p")
  }

  test("common-neighbors and keep-list plan equi/anti joins, never products") {
    for (q <- Seq("graph_common_neighbors", "dedup_keep_list", "evt_retention",
        "dedup_triangles", "dedup_triangles_ordered")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must not plan a product join:\n$p")
    }
    assert(plan("dedup_keep_list").contains("LeftAnti"),
      "keep list should drop via an anti join")
  }

  test("native as-of join plans the custom operator, not a window composition") {
    val p = plan("evt_asof_join_native")
    assert(p.contains("AsOfJoin"),
      s"the custom strategy must plan AsOfJoinExec:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"the native operator replaces the union + carry-forward window:\n$p")
    // Catalyst must have satisfied the operator's requirements itself:
    // hash exchanges on the key and per-partition (key, time) sorts
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size >= 2,
      s"both children must hash-partition on the join key:\n$p")
    assert(p.contains("Sort "), s"children must be sorted for the merge:\n$p")
  }

  test("decontamination broadcasts the eval shingle set, never a product") {
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"the tiny eval shingle set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"train corpus must hash-join the broadcast, not product:\n$p")
  }

  test("events scan prunes to the columns the window query needs") {
    val scans = scansOf("evt_top_purchasers")
    assert(scans.nonEmpty)
    assert(!scans.head.requiredSchema.fieldNames.contains("props"),
      "props column must be pruned from the purchase aggregation")
  }

  test("forward/nearest as-of modes plan the same custom operator") {
    for (q <- Seq("evt_asof_join_forward", "evt_asof_join_nearest")) {
      val p = plan(q)
      assert(p.contains("AsOfJoin"), s"$q must plan AsOfJoinExec:\n$p")
      assert(!p.contains("Window"), s"$q must not fall back to windows:\n$p")
    }
  }

  test("mix rebalance broadcasts the per-language rate table") {
    val p = plan("text_mix_rebalance")
    assert(p.contains("BroadcastHashJoin"),
      s"the tiny per-lang counts must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"selection must be a hash join against the broadcast:\n$p")
  }

  test("source report broadcasts the dup-doc set against one corpus pass") {
    val p = plan("text_source_report")
    assert(p.contains("BroadcastHashJoin"),
      s"the tiny dup-doc set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no products:\n$p")
  }

  test("per-row pipeline stages shuffle only for their presentation sort") {
    // chunking, audio framing, and the JL projection are narrow maps —
    // exactly ONE exchange (the final ORDER BY's range partitioning)
    for (q <- Seq("text_chunk_windows", "mm_audio_energy", "vec_random_projection")) {
      val p = plan(q)
      val exchanges = "Exchange ".r.findAllIn(p).size
      assert(exchanges <= 1, s"$q plans $exchanges exchanges, expected <= 1:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q must not product-join:\n$p")
    }
  }

  test("vocab top-k partial-aggregates before the shuffle and takes ordered k") {
    val p = plan("text_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must be TakeOrderedAndProject, not a full sort:\n$p")
    assert(p.contains("partial_count") || p.matches("(?s).*HashAggregate.*partial.*"),
      s"token counts must map-side combine before the shuffle:\n$p")
  }

  test("shipping-priority pushes both date filters to the scans, takes ordered 10") {
    val p = plan("rel_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be TakeOrderedAndProject, not a global sort:\n$p")
    val scans = scansOf("rel_shipping_priority")
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("o_orderdate") && pushed.contains("l_shipdate"),
      s"date filters must reach the parquet scans:\n$pushed")
    assert(!p.contains("CartesianProduct"), s"no products:\n$p")
  }

  test("OHLC resample is one partial-agg'd shuffle plus the presentation sort") {
    val p = plan("evt_ohlc_resample")
    assert(!p.contains("Join"), s"OHLC is a single-table aggregation:\n$p")
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected bar-key shuffle + sort only, got $exchanges:\n$p")
    assert(p.matches("(?s).*HashAggregate.*partial.*") || p.contains("partial_"),
      s"bar aggregates must map-side combine:\n$p")
  }

  test("incremental dedup joins batch bands against corpus bands, no self-pairs") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"batch-vs-corpus candidates must come from the band equi-join:\n$p")
  }

  test("IVF-PQ probes cells and ranks via broadcasts, never a large product") {
    val p = plan("ann_ivfpq_topk")
    // the probe-cell filter and the 1-row codebook/query sides broadcast;
    // the corpus side must never be the build side of a product over
    // anything non-tiny — assert top-k operators carry the two limits
    assert(p.contains("TakeOrderedAndProject"),
      s"PQ top-40 and exact top-10 must be TakeOrderedAndProject:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"probe cells / codebook / query vector must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian product anywhere in IVF-PQ:\n$p")
  }

  test("fuzzy-match blocking is an equi-join; levenshtein runs inside blocks only") {
    val p = plan("dedup_fuzzy_blocked")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocked ER must equi-join on the block key, not product:\n$p")
    assert(p.contains("levenshtein"),
      s"edit-distance verify must appear above the join, not in a scan:\n$p")
  }

  test("fuzzy-match verify reads both block sides through an exchange, never at scan width") {
    // the levenshtein verify runs in the join's stage; a side read
    // straight from the part scan would run it at the scan's 1-2 splits
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def shuffledBeforeScan(p: SparkPlan): Boolean = p match {
      case _: ShuffleExchangeExec => true
      case _: FileSourceScanExec => false
      case o => o.children.forall(shuffledBeforeScan)
    }
    val joins = operators(SparkEntry.queries("dedup_fuzzy_blocked")(spark, sf))
      .collect { case j: BaseJoinExec => j }
    assert(joins.size == 1, joins.mkString("\n"))
    assert(joins.head.children.forall(shuffledBeforeScan),
      s"a block side reaches the join unshuffled:\n${joins.head}")
  }

  test("jaccard link prediction builds candidates from the wedge equi-join") {
    val p = plan("graph_jaccard_linkpred")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate pairs must come from the shared-part equi-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-30 must be TakeOrderedAndProject:\n$p")
  }

  test("BM25 broadcasts the 1-row stats and takes ordered top-k") {
    val p = plan("text_bm25_topk")
    assert(p.contains("BroadcastExchange"),
      s"corpus stats (N/avgdl/df) must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrderedAndProject, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product joins:\n$p")
  }

  test("basket-lift pairs come from the order equi-join, never a product") {
    val p = plan("rel_basket_lift")
    assert(!p.contains("CartesianProduct"),
      s"pair stage must equi-join on the order key:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrderedAndProject:\n$p")
  }

  test("percentile rank lookups are equi-joins with no collect-style aggregation") {
    val p = plan("rel_percentile_cont")
    assert(!p.contains("CartesianProduct") && !p.contains("collect_list"),
      s"rank selection must join, not collect:\n$p")
  }

  test("SQ8 top-k scans the quantized corpus once with a broadcast probe") {
    val p = plan("ann_sq8_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be TakeOrderedAndProject:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product joins:\n$p")
  }

  test("prefix-filter set-similarity join is equi-join candidates, never a product") {
    val p = plan("dedup_setsim_prefix")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"AllPairs candidates must come from the token equi-join:\n$p")
  }

  test("span-coverage dedup signal is explode + two hash aggregations, no product") {
    val p = plan("text_dup_span_coverage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span frequency must be a hash agg + equi-join:\n$p")
    assert(p.contains("Generate"), s"windows must come from one explode:\n$p")
  }

  test("link predictors build candidates from the wedge equi-join, no product") {
    Seq("graph_link_scores", "graph_jaccard_linkpred").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: wedge candidates must be an equi-join:\n$p")
    }
  }

  test("range search scans the corpus once with a broadcast query, result-side sort only") {
    val p = plan("ann_range_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row query side must broadcast:\n$p")
    val scans = scansOf("ann_range_search").filter(_.toString.contains("embeddings"))
    assert(scans.size <= 2, s"corpus must scan once (+1 for the query row):\n${scans.size}")
  }

  test("attribution plans one user window plus one small-key aggregation, no product") {
    val p = plan("evt_attribution")
    assert(!p.contains("CartesianProduct"), s"no products:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"as-of credit must be a window, not a self-join:\n$p")
  }

  test("naive Bayes broadcasts the tiny class tables; tf-weight join is an equi-join") {
    // the NB chain runs once per (session, dir, fold), when its scoring
    // leaf is staged, so this pins the plans of that build's actions,
    // caught by a listener on a fresh session (fresh memo keys)
    val fresh = spark.newSession()
    val built = new java.util.concurrent.ConcurrentLinkedQueue[String]
    fresh.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = built.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    })
    cluster.Classify.nbNlls(fresh, sf)
    org.apache.spark.sql.graft.Bridge.drainListeners(spark.sparkContext)
    val p = built.toArray.mkString("\n")
    assert(p.contains("BroadcastExchange"), s"class totals/priors must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no products:\n$p")
  }

  test("neighbor sampling is two seed-side joins + per-parent windows, no product") {
    val p = plan("graph_neighbor_sampling")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fanout must come from equi-joins:\n$p")
  }

  test("window top-k partial-aggregates before its two shuffles") {
    val p = plan("evt_window_topk")
    assert(p.contains("partial"), s"the (window,type) agg must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"no products:\n$p")
  }

  test("skyline is a range-partitioned sort-sweep: no O(n²) self-join") {
    val p = plan("rel_skyline")
    // dominance comes from partitioned windows + a broadcast of the tiny
    // per-block carry table — never a product join over the data
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the O(n²) NOT EXISTS shape must not appear:\n$p")
    assert(p.contains("Window"), s"dominance must come from the windows:\n$p")
    assert(p.contains("BroadcastExchange"), s"block carry must broadcast:\n$p")
  }

  test("butterfly counting reuses the wedge equi-join; only the 1-row total broadcasts") {
    val p = plan("graph_butterflies")
    assert(!p.contains("CartesianProduct"), s"no products:\n$p")
    assert(p.contains("BroadcastExchange"), s"the 1-row total must broadcast:\n$p")
    assert(p.contains("partial"), s"pair counts must map-side combine:\n$p")
  }

  test("AUC ranks over grouped scores, not raw rows") {
    val p = plan("ml_auc")
    assert(p.contains("partial"),
      s"scores must reduce to distinct-score groups before the window:\n$p")
    assert(!p.contains("CartesianProduct"), s"no pairwise product:\n$p")
  }

  test("confusion matrix reduces to cells before the per-class pivot") {
    val p = plan("ml_confusion_prf")
    assert(!p.contains("CartesianProduct"), s"no products:\n$p")
    assert(p.contains("partial"), s"cell counts must map-side combine:\n$p")
  }

  test("SCD2 lookup joins facts to versions by key equi-join, not a range product") {
    val p = plan("rel_scd2_lookup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the validity predicate must ride the custkey equi-join:\n$p")
    assert(p.contains("partial"), s"the rollup must map-side combine:\n$p")
  }

  test("zipf fit reduces the corpus to one vocab shuffle plus a 1000-row tail") {
    val p = plan("text_zipf_slope")
    assert(p.contains("partial"), s"vocab counts must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"no products:\n$p")
  }

  test("eccentricity reads the per-level counts, no product") {
    val p = plan("graph_eccentricity")
    assert(!p.contains("CartesianProduct"), s"no products:\n$p")
  }

  test("sequence mining plans ONE per-user window for both leads") {
    val p = plan("evt_seq_patterns")
    assert(!p.contains("CartesianProduct"), s"no products:\n$p")
    assert("Window".r.findAllIn(p).size <= 2,
      s"both lead() columns must share one window operator:\n$p")
    assert(p.contains("partial"), s"triple counts must map-side combine:\n$p")
  }

  test("CUSUM is a daily rollup plus two stacked windows, no self-join") {
    val p = plan("evt_cusum")
    assert(!p.contains("Join"), s"the clamp recurrence must not become a join:\n$p")
    assert(p.contains("partial"), s"the daily rollup must map-side combine:\n$p")
  }

  test("rich club is ONE conditional-aggregation edge pass, all thresholds") {
    val p = plan("graph_rich_club")
    // the only nested-loop joins are the two 1-row stat sides
    assert(!p.contains("CartesianProduct"), s"no raw products:\n$p")
    // all four thresholds ride one aggregate over the pairs (no per-k scan):
    // the degree-annotated pair join appears ONCE
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r
      .findAllIn(p).size <= 4,
      s"per-threshold rescans would multiply the join count:\n$p")
    assert(p.contains("partial"), s"threshold sums must map-side combine:\n$p")
  }

  test("key-skew report's rank window is partitioned BY PROFILED COLUMN") {
    val p = plan("rel_key_skew_report")
    // never an unpartitioned global sort: every window partitions by kc
    val specs = "windowspecdefinition\\(([^)]*)".r.findAllMatchIn(p).toSeq
    assert(specs.nonEmpty)
    specs.foreach(m => assert(m.group(1).contains("kc"),
      s"window must partition by the profiled column:\n${m.matched}"))
  }

  test("char entropy plans a LINEAR split, not positional substring indexing") {
    val p = plan("text_char_entropy")
    assert(!p.contains("substring"),
      s"substr(i,1) re-scans the UTF-8 prefix per char (quadratic):\n$p")
    assert(p.contains("partial"), s"char counts must map-side combine:\n$p")
  }

  test("LSH tuner broadcasts the 3-row combo table over the pair stream") {
    val p = plan("dedup_lsh_tuning")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"combos must broadcast:\n$p")
    assert(p.contains("partial"), s"per-combo sums must map-side combine:\n$p")
  }

  test("compaction plan: one per-source window, one aggregate, no join") {
    val p = plan("rel_compaction_plan")
    assert(!p.contains("Join"), s"the running-sum rule needs no join:\n$p")
    val specs = "windowspecdefinition\\(([^)]*)".r.findAllMatchIn(p).toSeq
    specs.foreach(m => assert(m.group(1).contains("source"),
      s"the packing window must partition by source:\n${m.matched}"))
  }

  test("NN-descent round is equi-joins only — never a corpus² product") {
    val p = plan("ann_nndescent_graph")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the local join must stay an equi-join on the pivot/id:\n$p")
    assert(p.contains("Window"), s"per-node top-k must be a partitioned window:\n$p")
  }

  // ── the pattern front-end compiles to the hand-written shapes ───────
  /** Join/aggregate operator multiset of a query's physical plan (AQE
    * unwrapped; cached-relation inner plans excluded by tree collect). */
  private def shape(name: String): Seq[String] = {
    val p = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
    val un = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case o => o
    }
    un.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        j.getClass.getSimpleName
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => "Agg"
    }.sorted
  }

  test("compiled pattern two-hop has the IDENTICAL shape to hand-written graph_two_hop") {
    // one broadcast equi-join through the shared supplier + the
    // two-phase distinct — nothing extra, nothing product-shaped
    assert(shape("graph_pattern_two_hop") == shape("graph_two_hop"),
      s"${shape("graph_pattern_two_hop")} vs ${shape("graph_two_hop")}")
  }

  test("compiled pattern aggregate = out_degree shape + broadcast label joins only") {
    val agg = shape("graph_pattern_agg")
    assert(agg.count(_ == "Agg") == shape("graph_out_degree").count(_ == "Agg"),
      s"same two-phase count aggregate expected: $agg")
    assert(agg.filterNot(_ == "Agg").forall(_ == "BroadcastHashJoinExec"),
      s"label joins must broadcast, never product: $agg")
    val p = plan("graph_pattern_agg")
    assert(p.contains("partial_count"), s"count must map-side combine:\n$p")
  }

  test("compiled pattern point-lookup broadcasts like the hand-written star join") {
    val s = shape("graph_pattern_edge")
    assert(s.nonEmpty && s.filterNot(_ == "Agg").forall(_ == "BroadcastHashJoinExec"),
      s"selective pattern must plan broadcast equi-joins: $s")
    val p = plan("graph_pattern_edge")
    assert(!p.contains("CartesianProduct"), s"no products:\n$p")
  }

  /** Join types of a query's physical plan, AQE unwrapped like shape(). */
  private def joinTypes(name: String): Seq[String] = {
    val p = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
    val un = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case o => o
    }
    un.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.joinType.toString
    }
  }

  test("OPTIONAL MATCH compiles to an outer equi-join, negation to an anti join") {
    // the optional group must reach the plan as a LeftOuter hash join on
    // the shared variable — never an inner join (which would drop
    // unmatched suppliers) and never a product
    val optJoins = joinTypes("graph_pattern_optional")
    assert(optJoins.contains("LeftOuter"), s"optional must plan LeftOuter: $optJoins")
    assert(!plan("graph_pattern_optional").contains("CartesianProduct"))
    // NOT (s)-[:T]->(x) must be a LeftAnti equi-join (the NOT EXISTS shape)
    val negJoins = joinTypes("graph_pattern_negation")
    assert(negJoins.contains("LeftAnti"), s"negation must plan LeftAnti: $negJoins")
  }

  test("pattern writes: SET is a single outer-join overwrite, CREATE equi-joins only") {
    val setJoins = joinTypes("graph_pattern_set")
    assert(setJoins.count(_ == "LeftOuter") == 1,
      s"overwrite = base LEFT JOIN matched-keys exactly once: $setJoins")
    val create = plan("graph_pattern_create")
    assert(!create.contains("CartesianProduct") &&
      !create.contains("BroadcastNestedLoopJoin"),
      s"create-match must stay equi-join shaped:\n$create")
  }

  // ── the global-window SWEEP (VERDICT r11 task 2) ────────────────────
  // An un-partitioned Window is a single-partition sort: one task
  // serializes the whole input. That is only acceptable when the input
  // is provably BOUNDED or data-REDUCED (a distinct-day table, a block
  // table, a vocab tail — never the raw rows). This sweep walks EVERY
  // query's optimized plan and pins the set of queries carrying such a
  // window to an audited allowlist, so the class of regressions that
  // produced evt_rfm/rel_skyline (r11 verdict) cannot re-enter silently
  // — the DriverShapeSpec convention applied to plan shape.
  // Without the JPEG corpus (Multimodal.JpegDir, outside the repo) the
  // Multimodal.CorpusQueries cannot be built; each of them must then
  // fail for exactly that reason, and every other query is swept.
  test("sweep: un-partitioned Windows appear ONLY over audited bounded inputs") {
    import graft.ops.Multimodal
    import org.apache.spark.sql.AnalysisException
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // name -> why its global window input is bounded/reduced (audited)
    val allow: Map[String, String] = PlanSpec.GlobalWindowAllowlist
    val corpus = TestSpark.jpegCorpusPresent
    assert(Multimodal.CorpusQueries.subsetOf(SparkEntry.queries.keySet),
      s"CorpusQueries names unknown queries: ${Multimodal.CorpusQueries -- SparkEntry.queries.keySet}")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      if (!corpus && Multimodal.CorpusQueries(name)) {
        val e = intercept[AnalysisException](SparkEntry.queries(name)(spark, sf))
        assert(e.getMessage.contains("PATH_NOT_FOUND") &&
          e.getMessage.contains(Multimodal.JpegDir),
          s"$name is in CorpusQueries but did not fail on the absent corpus: ${e.getMessage}")
        None
      } else {
        val df = SparkEntry.queries(name)(spark, sf)
        val ws = df.queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
        if (ws.nonEmpty) Some(name) else None
      }
    }
    val unexpected = offenders.filterNot(allow.contains)
    val stale = allow.keySet -- offenders.toSet
    assert(unexpected.isEmpty,
      s"NEW un-partitioned Window(s) in: ${unexpected.mkString(", ")} — " +
        "either partition the window or audit the input as bounded and " +
        "extend PlanSpec.GlobalWindowAllowlist with the justification")
    assert(stale.isEmpty,
      s"allowlist entries no longer carrying a global window (prune them): " +
        stale.mkString(", "))
    // the r11 verdict-weak data-sized windows must never reappear:
    // evt_rfm now ranks via the two-level scan (no global window at
    // all); rel_skyline's only remaining global window is the per-block
    // carry table audited in the allowlist
    assert(!offenders.contains("evt_rfm"))
  }

  test("power iteration shuffles stay bounded (pagerank / ppr)") {
    // VERDICT r12 task 2 closure: the r12 bench drift on graph_ppr_seed
    // was noise (quiet-box best-of-3 measures 1.1-2.0 s at sf0.1), but
    // the plan invariant that makes the kernel scale deserves a pin:
    // per iteration the only EDGE-SIZED shuffle is the contrib partial
    // aggregation (map-side combined under its own exchange); everything
    // else Spark shuffles is the |V|-row node list (re-instanced cache
    // attrs don't advertise the cached hash(id) layout — known, cheap).
    // A regression that re-shuffles the adjacency (a join output feeding
    // an exchange) or loses the map-side combine would double the
    // per-superstep network volume at 100 TB.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val PrIters = 5
    for (q <- Seq("graph_pagerank_exact", "graph_ppr_seed")) {
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
      val un = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case o => o
      }
      val ex = un.collect { case e: ShuffleExchangeExec => e }
      assert(ex.size <= 2 * PrIters + 1,
        s"$q: ${ex.size} shuffles for $PrIters iterations — the superstep gained a shuffle")
      val aggEx = ex.filter(_.child.isInstanceOf[HashAggregateExec])
      assert(aggEx.size == PrIters,
        s"$q: expected one map-combined partial-agg exchange per iteration, got ${aggEx.size}")
      // no exchange may sit directly on a join output — that would mean
      // an edge-sized intermediate is being re-shuffled
      val joinFed = ex.filter(_.child.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
      assert(joinFed.isEmpty, s"$q: a join output feeds an exchange")
    }
  }

  /** Physical operators of a frame's plan, under the AQE wrapper. */
  private def operators(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case o => o
    }).collect { case p => p }

  test("LPA vote plans ONE exchange under partition-local hash aggregates") {
    // r18: hash(dst) satisfies both the (dst, label) count and the by-dst
    // packed argmax, so the two aggregations share one shuffle; the
    // packed BIGINT max keeps them hash- (not sort-) aggregated
    import spark.implicits._
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val ue = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val lbl = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "l")
    val vote = graph.Components.voteWinners(ue, lbl)
    val ops = operators(vote)
    val shuffles = ops.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, s"the vote plans ${shuffles.size} exchanges:\n$ops")
    assert(ops.count(_.isInstanceOf[HashAggregateExec]) == 4 &&
      !ops.exists(_.isInstanceOf[SortAggregateExec]), s"vote aggregates:\n$ops")
    // 2's neighbors 1 and 3 tie one vote each: the smaller label wins
    assert(vote.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
  }

  test("Brandes contribution fold plans a Window, never an ObjectHashAggregate") {
    // r18: the sorted-successor fold as a window running sum replaced
    // sort_array(collect_list) + an interpreted aggregate HOF
    import spark.implicits._
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val ue = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val vk = Seq((1L, 1L, 1L)).toDF("vlm", "vid", "sv")
    val succ = Seq((1L, 2L, 1L, 0.5), (1L, 3L, 2L, 1.0)).toDF("slm", "w", "sw", "dw")
    val contrib = graph.Components.brandesContrib(vk, ue, succ)
    val ops = operators(contrib)
    assert(ops.exists(_.isInstanceOf[WindowExec]), s"no window:\n$ops")
    assert(!ops.exists(_.isInstanceOf[ObjectHashAggregateExec]),
      s"the fold planned an ObjectHashAggregate:\n$ops")
    // δ(1) = (1/1)(1 + 0.5) + (1/2)(1 + 1.0), folded in successor order
    assert(contrib.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 1L, 1.5 + 1.0)))
  }

  test("the fold-0 NB queries plan over the staged scoring leaf, not the corpus") {
    // the first query stages the leaf; every plan after it reads only that
    ClassifySpec.nbQueries.foreach { q =>
      val docScans = scansOf(q).filter(
        _.relation.location.rootPaths.exists(_.getName == "documents.parquet"))
      assert(docScans.isEmpty, s"$q scans documents.parquet:\n${executed(q)}")
    }
    val gens = executed("ml_reliability_bins")
      .collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gens.isEmpty, "ml_reliability_bins must not tokenize")
  }
}

object PlanSpec {
  /** Audited queries whose empty-partitionSpec windows run over bounded
    * or data-reduced inputs. Every entry documents WHAT the window's
    * input is; "bounded" = cardinality independent of row count,
    * "reduced" = grows sublinearly (distinct days / blocks / vocab).
    * A window over the RAW rows of a data-sized table must never be
    * added here — partition it (the evt_rfm/rel_skyline r11 fixes are
    * the worked examples). */
  val GlobalWindowAllowlist: Map[String, String] = Map(
    "evt_anomaly_consensus" -> "prefix windows over the per-DAY rollup (≤366 rows/yr of data)",
    "evt_cusum" -> "CUSUM prefix identity over the per-DAY rollup (bounded by calendar)",
    "evt_sprt" -> "SPRT log-likelihood prefix over the per-DAY enrollment rollup (bounded by calendar — the evt_cusum convention)",
    "evt_forecast_accuracy" -> "Holt-Winters recurrence rows: one per day (bounded by calendar)",
    "evt_survival_km" -> "KM product-limit over distinct event DURATIONS in days (bounded)",
    "ml_auc" -> "rank over DISTINCT quantized NLL score groups (collapsed; PlanSpec 'AUC ranks over grouped scores' pins the reduction)",
    "ml_decision_stump" -> "SSE sweep over the distinct-quantity split-candidate table (~50 rows)",
    "ml_ks_test" -> "cumulative CDFs over the same DISTINCT quantized score-group table ml_auc ranks (collapsed)",
    "ml_pr_curve" -> "cumulative precision/recall over the 10 score-decile bins (bounded)",
    "rel_skyline" -> "carry cumulation over the per-BLOCK max table (price-range/1024 rows, not data)",
    "text_weighted_sample" -> "block-offset cumulation over the N/100 block table (the two-level-scan offset side itself)",
    "text_zipf_slope" -> "OLS rank window over the top-1000 vocab tail (bounded)",
    "ann_hybrid_rrf" -> "RRF rank windows over the two top-20 retrieval legs (LIMIT-bounded, 20 rows each)",
    "ann_graph_search" -> "beam re-cut windows over beam ∪ candidates (≤ 24 + 24·16 rows/hop — candidate-sized by the frontier expansion, never corpus)",
    "ann_beam_sweep" -> "the same beam re-cut windows at widths 8/16/24 (candidate-sized per hop, never corpus)",
    "ann_graph_search_persisted" -> "the ann_graph_search final-rank window over the ≤24-row snapped beam (the serve path shares the unroll)",
    "ann_graph_search_routed" -> "the same final-rank window over the ≤24-row snapped beam (upper-layer entries change seeds, not the cut)",
    "ann_graph_delete_repair" -> "the same final-rank window over the ≤24-row post-repair beam; the repair re-cut itself partitions by src",
    "ann_graph_repair_publish" -> "the same final-rank window over the ≤24-row beam served from the published v2 artifact (gsBeamServe shares the cut)",
    "ann_graph_insert_publish" -> "the same final-rank window over the ≤24-row beam served from the published post-insert version (gsBeamServe shares the cut)",
    "ann_mrr_report" -> "mrank windows over each tier's own ≤20-row cached top-k frame (LIMIT-bounded)")

}
