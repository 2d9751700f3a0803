package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Round-17 pins: the whole graph-search family serves from the
  * published artifact (VERDICT-r16 task 1), churn re-publishes version
  * N+1 without touching N (task 2), hop lookups bucket-prune the
  * published adjacency (task 5), the budget-crossing windows run as the
  * distributed two-level prefix scan (task 4), and the streaming
  * keep-list serves the published dedup artifact exactly-once (task 7). */
class Round17Spec extends SparkSpec {

  test("whole graph-search family: a fresh session serves with ZERO descents") {
    // prime: build + publish once (idempotent across the suite run)
    SparkEntry.queries("ann_graph_search")(spark, sf).count()
    val descents = ops.Vector.nnIndexBuilds.get()
    val publishes = ops.Vector.gsPersist.builds.get()
    val fresh = spark.newSession()
    for (q <- Seq("ann_graph_search", "ann_graph_search_batch",
        "ann_graph_search_filtered", "ann_graph_search_routed",
        "ann_beam_sweep", "ann_graph_search_persisted"))
      assert(SparkEntry.queries(q)(fresh, sf).count() > 0, q)
    assert(ops.Vector.nnIndexBuilds.get() == descents,
      "every family member must serve from the published artifact — no descent")
    assert(ops.Vector.gsPersist.builds.get() == publishes,
      "serving must not re-publish")
  }

  test("serve path reads the artifact: adj is a staged leaf over the published parquet") {
    // provenance: the artifact table the memo stages from is a FileScan
    // of the published dir (the r17 staging swap truncates the served
    // frame's lineage to an ExistingRDD leaf, so the FileScan pin moves
    // to the pre-staging read; the ZERO-descents probe above covers the
    // no-rebuild half for the whole family)
    val base = ops.Vector.gsPersistedIndex(spark, sf)
    val filePlan = ops.Vector.GsAdj.table(spark, base)
      .queryExecution.executedPlan.toString()
    assert(filePlan.contains("graft_idx_"),
      s"the staged adjacency must read the published parquet:\n$filePlan")
    // and the served frame is the materialized staging leaf: a plain
    // scan, no join/window/aggregate anywhere — scanning it per hop
    // costs RDD-read, never a descent re-derivation
    val (_, _, adj) = ops.Vector.nnSearchIndex(spark, sf)
    val plan = adj.queryExecution.executedPlan.toString()
    assert(plan.contains("Scan ExistingRDD"),
      s"the served adjacency must be a staged leaf:\n$plan")
    val logical = adj.queryExecution.logical.toString()
    assert(!logical.contains("Join") && !logical.contains("Window"),
      s"the served adjacency's lineage must be a storage scan, not a rebuild:\n$logical")
  }

  test("persisted hop lookups bucket-prune the published adjacency") {
    val base = ops.Vector.gsPersistedIndex(spark, sf)
    val t = ops.Vector.GsAdj.table(spark, base)
    // the gsBeamServe shape: a literal frontier IN-filter on src
    val scan = t.filter(col("src").isin(7L, 11L, 42L))
    val plan = scan.queryExecution.executedPlan.toString()
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"hop scan must be bucket-pruned:\n$plan")
    assert(sel.get.group(1).toInt <= 3,
      s"a 3-id frontier must read ≤ 3 buckets: ${sel.get.matched}")
  }

  test("repair publish: v2 serves the repaired index, v1 stays intact, fresh session pays nothing") {
    import java.nio.file.{Files, Paths}
    // prime the base artifact and snapshot its dir listing
    val v1 = Paths.get(ops.Vector.gsPersistedIndex(spark, sf))
    def listing(p: java.nio.file.Path): Seq[(String, Long)] = {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => (f.toString, Files.size(f))).toSeq.sortBy(_._1)
      } finally s.close()
    }
    val before = listing(v1)
    val served = SparkEntry.queries("ann_graph_repair_publish")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    // v1 untouched by the v2 publish
    assert(listing(v1) == before, "publishing v2 must not touch v1's bytes")
    // the published v2 adjacency IS the memo-repaired adjacency
    val v2 = ops.Vector.gsRepairPublished(spark, sf)
    assert(v2 != v1.toString, "the repaired version must be a NEW dir")
    val published = spark.read.parquet(s"$v2/adj").select("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val memoed = ops.Vector.gsRepairedIndex(spark, sf)._3
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(published == memoed,
      "version N+1 must hold exactly the consolidation's repaired adjacency")
    // the serve answers match the oracle-checked delete-repair query
    val repairTop = SparkEntry.queries("ann_graph_delete_repair")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(served == repairTop,
      "serving the published v2 must answer exactly like the replayed repair")
    // a fresh session serves v2 with zero descents AND zero repairs
    val descents = ops.Vector.nnIndexBuilds.get()
    val repairs = ops.Vector.gsRepairPub.builds.get()
    val fresh = spark.newSession()
    assert(SparkEntry.queries("ann_graph_repair_publish")(fresh, sf).count() == 10)
    assert(ops.Vector.nnIndexBuilds.get() == descents &&
      ops.Vector.gsRepairPub.builds.get() == repairs,
      "a fresh session must serve the published v2 — no rebuild, no re-repair")
  }

  test("budget windows run the two-level prefix scan, values unchanged") {
    // plan pin: in each rewritten query, any Window over a single
    // partition column must sit above an Aggregate (the block-offset
    // table — blocks-count-sized); the corpus-scale sort must partition
    // by (part, blk)
    for (q <- Seq("text_mixture_sample", "text_doremi_manifest",
        "text_corpus_manifest")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val optimized = df.queryExecution.optimizedPlan
      val windows = optimized.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.nonEmpty, s"$q must still use windows")
      windows.foreach { w =>
        // the scale hazard is an ORDERED (running-sum / rank) window over
        // a corpus-scale frame with one partition key — one reducer per
        // source/lang. Unordered per-group windows (the md5 keeper) are
        // group-local by construction.
        if (w.orderSpec.nonEmpty && w.partitionSpec.size < 2) {
          val hasAgg = w.child.collectFirst {
            case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
          }.isDefined
          assert(hasAgg,
            s"$q: a single-key ORDERED window must read the aggregated " +
              s"block-offset table, not the corpus:\n$w")
        }
      }
    }
    // value pin: the blocked scan reproduces the flat window exactly
    val flat = {
      val ord = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        .orderBy(col("h").asc, col("doc_id").asc)
      Tables.documents(spark, sf)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          Tables.detHash(col("doc_id")).as("h"))
        .withColumn("rk", row_number().over(ord))
        .withColumn("cum", sum("n_chars").over(ord.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .filter(col("cum") - col("n_chars") <
          when(col("lang") === "en", 20000L).otherwise(5000L))
        .select(col("lang"), col("rk").cast("int").as("pick_rank"),
          col("doc_id"), col("n_chars"), col("cum").as("cum_chars"))
        .collect().map(_.toSeq).toSet
    }
    val blocked = SparkEntry.queries("text_mixture_sample")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(blocked == flat, "the two-level scan must reproduce the flat window")
  }

  test("insert publish: the post-insert merge serves from its own published version") {
    import java.nio.file.{Files, Paths}
    // prime the BASE family and snapshot it: the ingestion publish must
    // land in its own family without touching the base bytes
    val v1 = Paths.get(ops.Vector.gsPersistedIndex(spark, sf))
    def listing(p: java.nio.file.Path): Seq[(String, Long)] = {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => (f.toString, Files.size(f))).toSeq.sortBy(_._1)
      } finally s.close()
    }
    val before = listing(v1)
    val served = SparkEntry.queries("ann_graph_insert_publish")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(listing(v1) == before,
      "the ingestion publish must not touch the base family's bytes")
    // the published version holds exactly the memo-merged adjacency
    // (whose rows are the oracle-checked ann_nndescent_incremental set)
    val v = ops.Vector.gsInsertPublished(spark, sf)
    val published = spark.read.parquet(s"$v/adj").select("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val memoed = ops.Vector.gsIncMergedGraph(spark, sf).select("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(published == memoed,
      "the ingestion version must hold exactly the merged post-insert graph")
    // the inserted batch is REACHABLE through the served graph: batch
    // members appear in the merged adjacency's target lists the beam walks
    assert(published.exists(_._2 % 10 == 7),
      "inserted vectors must be linked into the served graph")
    assert(served.length == 10 && served.map(_._2).sliding(2)
      .forall(p => p.length < 2 || p(0) >= p(1)),
      "the served top-10 must be rank-ordered by similarity")
    // a fresh session serves with zero merges and zero publishes
    val merges = ops.Vector.gsIncBuilds.get()
    val publishes = ops.Vector.gsInsertPub.builds.get()
    val fresh = spark.newSession()
    assert(SparkEntry.queries("ann_graph_insert_publish")(fresh, sf).count() == 10)
    assert(ops.Vector.gsIncBuilds.get() == merges &&
      ops.Vector.gsInsertPub.builds.get() == publishes,
      "a fresh session must serve the published merge — no rebuild, no re-publish")
  }

  test("versions report: one serving role per lifecycle stage, content-scoped") {
    val rows = SparkEntry.queries("ann_index_versions")(spark, sf).collect()
    val roles = rows.map(_.getString(4)).toSet
    assert(roles == Set("serving_base", "serving_post_delete",
      "serving_post_insert"),
      s"the report must surface every lifecycle stage once the jobs ran: $roles")
    // content scoping: every row carries one of THIS corpus's two
    // fingerprints — other datasets' artifacts under the same tokens
    // (other scale factors, throwaway spec datasets) never leak in
    val fps = rows.map(_.getLong(3)).toSet
    assert(fps.size <= 2, s"only the full and survivor fingerprints may appear: $fps")
    val families = rows.map(r => (r.getString(0), r.getString(4))).toSet
    assert(families.contains(("graph", "serving_base")) &&
      families.contains(("graph", "serving_post_delete")) &&
      families.contains(("graph_incremental", "serving_post_insert")))
  }

  test("artifact retention: reaps aged superseded versions, spares serving and fresh ones") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val token = s"rettest${System.nanoTime().toHexString}"
    val ds = "retention_spec_ds"
    def pub(tag: String): String = tools.Artifact.publish(token, ds) { stage =>
      Files.createDirectories(Paths.get(stage))
      Files.writeString(Paths.get(stage, "meta.txt"), tag)
    }
    def tagOf(dir: String): String =
      Files.readString(Paths.get(dir, "meta.txt"))
    val vStale = pub("stale")   // superseded AND aged → reaped
    val vServe = pub("serving") // aged but still serving → spared
    val vFresh = pub("fresh")   // superseded but inside the lease → spared
    // age the first two past the grace window (reads would re-touch)
    for (v <- Seq(vStale, vServe))
      Files.setLastModifiedTime(Paths.get(v),
        FileTime.fromMillis(System.currentTimeMillis() - 7200000L))
    try {
      val reaped = tools.Artifact.retain(token, ds)(d => tagOf(d) == "serving")
      assert(reaped == Seq(vStale),
        s"exactly the aged superseded version must be reaped: $reaped")
      assert(!tools.Artifact.exists(vStale))
      assert(tools.Artifact.exists(vServe),
        "a version still matching live corpus state is never reaped")
      assert(tools.Artifact.exists(vFresh),
        "a version inside its serve lease is never reaped, serving or not")
      // resolve still finds the serving version afterwards
      assert(tools.Artifact.resolve(token, ds)(d => tagOf(d) == "serving")
        .contains(vServe))
    } finally
      for (v <- Seq(vServe, vFresh) if tools.Artifact.exists(v))
        tools.Artifact.retain(token, ds, graceMs = -1000L)(_ => false)
  }

  test("dedup ingest publish: batch-local derivation, v1 intact, verdicts ≡ dedup_incremental") {
    import java.nio.file.{Files, Paths}
    def listing(p: java.nio.file.Path): Seq[(String, Long)] = {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => (f.toString, Files.size(f))).toSeq.sortBy(_._1)
      } finally s.close()
    }
    // prime the pre-ingest artifact FIRST, then snapshot the corpus-work
    // counters: the ingest derivation itself must be batch-local
    val v1 = Paths.get(ops.Text.dupPersistedPairs(spark, sf))
    val before = listing(v1)
    val pairBuilds = ops.Text.dupPairBuilds.get()
    val sketches = ops.Text.sketchBuilds.get()
    val res = SparkEntry.queries("dedup_ingest_publish")(spark, sf).collect()
    assert(res.nonEmpty && res.map(_.getLong(1)).sum > 0, "some docs keep")
    assert(listing(v1) == before,
      "the ingest publish must not touch the pre-ingest version's bytes")
    assert(ops.Text.dupPairBuilds.get() == pairBuilds &&
      ops.Text.sketchBuilds.get() == sketches,
      "the ingest derivation must be batch-local: no corpus re-sketch, " +
        "no pair-spine rebuild")
    // the published drop edges ≡ the oracle-checked dedup_incremental
    val v2 = ops.Text.dupIngestPublished(spark, sf)
    assert(v2 != v1.toString)
    val pubEdges = spark.read.parquet(s"$v2/pairs")
      .filter(col("id_b") % 10 === 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val incr = SparkEntry.queries("dedup_incremental")(spark, sf).collect()
      .filter(!_.isNullAt(1)).map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(pubEdges == incr,
      "published ingest edges must be exactly dedup_incremental's best-match verdicts")
    // the existing side of v2 ≡ v1's pairs among existing ids
    val v1e = spark.read.parquet(s"$v1/pairs")
      .filter(col("id_a") % 10 =!= 7 && col("id_b") % 10 =!= 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val v2e = spark.read.parquet(s"$v2/pairs")
      .filter(col("id_b") % 10 =!= 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(v2e == v1e, "pre-ingest pairs must carry over verbatim")
    // a fresh session serves v2 with zero publishes
    val pubs = ops.Text.dupIncPersist.builds.get()
    val fresh = spark.newSession()
    assert(SparkEntry.queries("dedup_ingest_publish")(fresh, sf).count() > 0)
    assert(ops.Text.dupIncPersist.builds.get() == pubs,
      "a fresh session must serve the published post-ingest state")
    // the dedup versions report surfaces both serving roles
    val roles = SparkEntry.queries("dedup_pair_versions")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(3))).toSet
    assert(roles.contains(("pair_spine", "serving_spine")) &&
      roles.contains(("post_ingest", "serving_post_ingest")),
      s"both dedup families must report their serving version: $roles")
  }

  test("persisted LSH cells: bucket-pruned probe, streaming top-k ≡ batch, exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = ops.Vector.lshPersistedCells(spark, sf)
    // plan pin: the serve scan reads ≤ L of the artifact's buckets
    val df = SparkEntry.queries("ann_lsh_topk_persisted")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"the probe scan must be bucket-pruned:\n$plan")
    assert(sel.get.group(1).toInt <= ops.Vector.LshTables &&
      sel.get.group(2).toInt == ops.Vector.LshCellBuckets,
      s"a probe must read ≤ L of the cell buckets: ${sel.get.matched}")
    // value pin: the persisted serve ≡ the oracle-checked full pipeline
    val full = SparkEntry.queries("ann_lsh_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == full,
      "serving the published cells must answer exactly like the full pipeline")
    // a fresh session serves with zero cell builds
    val builds = ops.Vector.lshPersist.builds.get()
    val fresh = spark.newSession()
    assert(SparkEntry.queries("ann_lsh_topk_persisted")(fresh, sf).count() == 10)
    assert(ops.Vector.lshPersist.builds.get() == builds,
      "a fresh session must serve the published cells — no rebuild")
    // the streaming serve over the SAME artifact: batch form first
    val cells = spark.read.parquet(s"$base/cells")
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), ops.Vector.vec(col("embedding")).as("v"))
    val batch = streaming.Streams.annTopkVerdicts(queries, cells)
      .collect().map(h => (h.qid, h.rank, h.vec_id, h.sim)).toSet
    assert(batch == full.zipWithIndex
      .map { case ((vid, s), i) => (0L, i + 1, vid, s) }.toSet,
      "streamed verdicts must equal the persisted serve's ranked rows")
    // the SAME function as a stream: two micro-batches + a re-sent qid
    val input = MemoryStream[(Long, Seq[Double])]
    val q = streaming.Streams
      .annTopkVerdicts(input.toDF().toDF("qid", "v"), cells)
      .writeStream.format("memory").queryName("ann_verdicts")
      .outputMode("append").start()
    try {
      val qrow = queries.collect().map(r =>
        (r.getLong(0), r.getAs[scala.collection.Seq[Double]](1).toSeq)).head
      input.addData(qrow)
      q.processAllAvailable()
      input.addData(qrow) // re-sent qid: exactly-once means no new rows
      q.processAllAvailable()
      val emitted = spark.table("ann_verdicts").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      assert(emitted.toSet == batch, "stream verdicts must equal the batch run")
      assert(emitted.length == batch.size,
        "a re-sent qid must not emit a second top-k")
    } finally q.stop()
  }

  test("streaming keep-list over the published dedup artifact: batch ≡ stream, exactly once, zero re-sketches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = ops.Text.dupPersistedPairs(spark, sf)
    val isNew = col("doc_id") % 10 === 7
    // the static side comes from STORAGE: the artifact's sketch table,
    // restricted to the already-ingested corpus (the batch plays the
    // incoming stream)
    val corpus = spark.read.parquet(s"$base/sketch").filter(!isNew)
      .localCheckpoint(false)
    val newDocs = Tables.documents(spark, sf).filter(isNew)
      .select("doc_id", "text")
    val sketches = ops.Text.sketchBuilds.get()
    val batch = streaming.Streams.keepListVerdicts(newDocs, corpus)
      .collect().map(v => (v.doc_id, v.verdict, v.dup_of, v.jaccard)).toSet
    assert(ops.Text.sketchBuilds.get() == sketches,
      "the artifact-era serve must read the published sketch, not re-sketch the corpus")
    assert(batch.map(_._1) ==
      newDocs.select("doc_id").collect().map(_.getLong(0)).toSet,
      "every incoming doc gets exactly one verdict")
    // grounding: verdicts agree with the oracle-checked incremental query
    val incr = SparkEntry.queries("dedup_incremental")(spark, sf).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)),
        if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))))
      .map { case (id, o, j) =>
        (id, if (o == null) "keep" else "drop", o, j) }.toSet
    assert(batch == incr,
      "keep/drop verdicts must match dedup_incremental's best-match rows")
    // the SAME function as a stream: two micro-batches + a re-sent doc
    val input = MemoryStream[(Long, String)]
    val q = streaming.Streams
      .keepListVerdicts(input.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("keep_verdicts")
      .outputMode("append").start()
    try {
      val rows = newDocs.collect().map(r => (r.getLong(0), r.getString(1)))
      input.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
      q.processAllAvailable()
      // re-send the first doc: exactly-once means NO second verdict
      input.addData((rows.head +: rows.drop(rows.length / 2)).toIndexedSeq: _*)
      q.processAllAvailable()
      val emitted = spark.table("keep_verdicts").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)),
          if (r.isNullAt(3)) null else java.lang.Double.valueOf(r.getDouble(3))))
      assert(emitted.toSet == batch, "stream verdicts must equal the batch run")
      assert(emitted.length == batch.size,
        "a re-sent doc_id must not emit a second verdict")
    } finally q.stop()
  }

  test("persisted IVF: serve ≡ in-session probe, zero builds fresh, bucket-pruned") {
    val base = SparkEntry.queries("ann_ivf_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = SparkEntry.queries("ann_ivf_topk_persisted")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == base,
      "serving the published cells must answer exactly like the in-session probe")
    // content pin: the published cells ARE the in-session assignment
    val dir = cluster.KMeans.ivfPersistedIndex(spark, sf)
    val pub = spark.read.parquet(s"$dir/cells").select("vec_id", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = Tables.embeddings(spark, sf)
    val memo = cluster.KMeans
      .assign(e, cluster.KMeans.initCentroids(e, cluster.KMeans.IvfK))
      .select("vec_id", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pub == memo,
      "the published cells must hold exactly the corpus assignment")
    // a fresh session serves with zero assignment builds
    val builds = cluster.KMeans.ivfPersist.builds.get()
    val fresh = spark.newSession()
    assert(SparkEntry.queries("ann_ivf_topk_persisted")(fresh, sf).count() == 10)
    assert(cluster.KMeans.ivfPersist.builds.get() == builds,
      "a fresh session must serve the published cells — no corpus re-assignment")
    // an nprobe-sized literal IN prunes to ≤ nprobe storage buckets
    val t = cluster.KMeans.IvfCells.table(spark, dir)
    val plan = t.filter(col("cid").isin(3L, 5L))
      .queryExecution.executedPlan.toString()
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(sel.isDefined, s"the probe scan must be bucket-pruned:\n$plan")
    assert(sel.get.group(1).toInt <= 2,
      s"an nprobe=2 probe must read ≤ 2 buckets: ${sel.get.matched}")
  }

  test("persisted tokenizer: encode serves the artifact, fresh session pays zero trains") {
    val base = SparkEntry.queries("text_bpe_encode")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val served = SparkEntry.queries("text_bpe_encode_persisted")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(served == base,
      "encoding with the published tokenizer must match the in-session encode")
    // content pin: the artifact's merge list IS the trained merge list
    // (whose content text_bpe_merges' oracle replays from scratch)
    val dir = ops.Text.bpePersistedTokenizer(spark, sf)
    val pub = spark.read.parquet(s"$dir/merges").select("r", "a", "b", "f")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toList
    val trained = SparkEntry.queries("text_bpe_merges")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toList
    assert(pub == trained,
      "the published merges must be exactly the trained merge list")
    // a fresh session serves the WHOLE bpe family (merges report, corpus
    // encode, persisted encode) with zero training loops
    val trains = ops.Text.bpePersist.builds.get()
    val fresh = spark.newSession()
    assert(SparkEntry.queries("text_bpe_encode_persisted")(fresh, sf).count() > 0)
    assert(SparkEntry.queries("text_bpe_merges")(fresh, sf).count() > 0)
    assert(SparkEntry.queries("text_bpe_encode")(fresh, sf).count() > 0)
    assert(ops.Text.bpePersist.builds.get() == trains,
      "a fresh session must load the published tokenizer, not retrain")
  }

  test("persisted unigram model: encode serves the artifact, fresh session pays zero EM runs") {
    val base = SparkEntry.queries("text_unigram_encode")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val served = SparkEntry.queries("text_unigram_encode_persisted")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(served == base,
      "encoding with the published model must match the in-session encode")
    // content pin: the artifact's vocab IS the trained vocab (whose
    // content text_unigram_train's oracle replays from scratch)
    val dir = ops.Text.uniPersistedTokenizer(spark, sf)
    val pub = spark.read.parquet(s"$dir/vocab").select("piece", "cnt", "cost")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val trained = SparkEntry.queries("text_unigram_train")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(pub == trained,
      "the published vocab must be exactly the trained model")
    // a fresh session serves the whole unigram family with zero EM runs
    val trains = ops.Text.uniPersist.builds.get()
    val fresh = spark.newSession()
    assert(SparkEntry.queries("text_unigram_encode_persisted")(fresh, sf).count() > 0)
    assert(SparkEntry.queries("text_unigram_encode")(fresh, sf).count() > 0)
    assert(ops.Text.uniPersist.builds.get() == trains,
      "a fresh session must load the published model, not re-run EM")
  }

  test("streaming tokenize over the published tokenizer: batch ≡ stream ≡ gated encode, exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = ops.Text.bpePersistedTokenizer(spark, sf)
    val words = spark.read.parquet(s"$dir/words")
    val newDocs = Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 7).select("doc_id", "text")
    // the batch form must reproduce the oracle-checked persisted encode
    val batch = streaming.Streams.tokenizeVerdicts(newDocs, words)
      .collect().map(v => (v.doc_id, v.n_words, v.n_bpe, v.seg_md5)).toSet
    val gated = SparkEntry.queries("text_bpe_encode_persisted")(spark, sf)
      .filter(col("doc_id") % 10 === 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(batch == gated,
      "batch tokenize verdicts must equal the gated persisted encode rows")
    // the SAME function as a stream: two micro-batches + a re-sent doc
    val input = MemoryStream[(Long, String)]
    val q = streaming.Streams
      .tokenizeVerdicts(input.toDF().toDF("doc_id", "text"), words)
      .writeStream.format("memory").queryName("tok_verdicts")
      .outputMode("append").start()
    try {
      val rows = newDocs.collect().map(r => (r.getLong(0), r.getString(1)))
      input.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData((rows.head +: rows.drop(rows.length / 2)).toIndexedSeq: _*)
      q.processAllAvailable()
      val emitted = spark.table("tok_verdicts").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      assert(emitted.toSet == batch, "stream verdicts must equal the batch run")
      assert(emitted.length == batch.size,
        "a re-sent doc_id must not emit a second verdict")
    } finally q.stop()
  }

  test("artifact catalog: all eight families serving the live corpus, content-scoped") {
    val rows = SparkEntry.queries("artifact_catalog")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet == Set(
      "ann_graph", "ann_graph_incremental", "ann_lsh_cells", "ann_ivf_cells",
      "dedup_pairs", "dedup_post_ingest", "tokenizer_bpe", "tokenizer_unigram"),
      s"every artifact family must appear: ${rows.map(_.getString(0)).toSet}")
    // the base graph family carries both lifecycle roles (base + repair);
    // every other family serves exactly one role
    val g = rows.filter(_.getString(0) == "ann_graph").map(_.getString(3)).toSet
    assert(g == Set("serving_base", "serving_post_delete"), s"graph roles: $g")
    rows.groupBy(_.getString(0)).foreach { case (fam, rs) =>
      if (fam != "ann_graph")
        assert(rs.map(_.getString(3)).distinct.length == 1,
          s"$fam must serve one role: ${rs.map(_.getString(3)).toSeq}")
    }
    // content scoping: only the live corpus's three keys may appear
    assert(rows.map(_.getLong(2)).toSet.size <= 3,
      "only the full/survivor/docs fingerprints may appear")
  }
}
