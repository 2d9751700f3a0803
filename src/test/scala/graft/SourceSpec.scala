package graft

import org.apache.spark.sql.functions._

/** The GRFT DataSource V2: roundtrip fidelity, column pruning, filter
  * pushdown, byte-range split planning, and overwrite-as-truncate. */
class SourceSpec extends SparkSpec {

  private lazy val dir = {
    val d = tempDir("grft_spec")
    Tables.embeddings(spark, sf).select("vec_id", "label", "embedding")
      .write.format("grft").mode("overwrite").save(d)
    d
  }

  test("grft roundtrip is bit-faithful for every row and column") {
    val base = Tables.embeddings(spark, sf)
    val back = spark.read.format("grft").load(dir)
    assert(back.count() === base.count())
    // anti-join on ALL columns in both directions — floats must survive
    // the float32 write/read exactly (no widening/narrowing drift)
    val b = back.select(col("vec_id"), col("label"), col("embedding"))
    val o = base.select(col("vec_id"), col("label"), col("embedding"))
    assert(b.except(o).count() === 0 && o.except(b).count() === 0,
      "roundtripped rows must match the parquet original exactly")
  }

  test("grft scan prunes columns and pushes filters") {
    val q = spark.read.format("grft").load(dir)
      .filter(col("vec_id") < 100L && col("label") >= 0)
      .select("vec_id")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("vec_id"),
      s"scan must report pushed filters:\n$plan")
    // the scan's output must not include the embedding column
    val scanOutput = q.queryExecution.executedPlan.collectLeaves()
      .map(_.output.map(_.name).mkString(",")).mkString(";")
    assert(!scanOutput.contains("embedding"),
      s"pruned scan must not emit embedding, got: $scanOutput")
    // and the pushed comparisons are applied, not just reported
    assert(q.collect().forall(_.getLong(0) < 100L))
  }

  test("grft pushdown result equals the unpushed predicate") {
    val pushed = spark.read.format("grft").load(dir)
      .filter(col("vec_id") >= 10L && col("vec_id") < 60L)
      .select("vec_id", "label")
    val oracle = Tables.embeddings(spark, sf)
      .filter(col("vec_id") >= 10L && col("vec_id") < 60L)
      .select("vec_id", "label")
    assert(pushed.except(oracle).count() === 0 &&
      oracle.except(pushed).count() === 0)
  }

  test("grft splits files into row-aligned byte ranges") {
    // force tiny splits so one file fans out into many partitions —
    // the 100 TB scale property, exercised at KB scale
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      val df = spark.read.format("grft").load(dir)
      val parts = df.rdd.getNumPartitions
      assert(parts > 1, s"expected multiple range splits, got $parts")
      // ranges must tile the files exactly: no dropped or doubled rows
      assert(df.count() === Tables.embeddings(spark, sf).count())
      assert(df.select(sum(col("vec_id"))).head().getLong(0) ===
        Tables.embeddings(spark, sf).select(sum(col("vec_id"))).head().getLong(0))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("grft reports exact file-metadata statistics to the optimizer") {
    val df = spark.read.format("grft").load(dir)
    val stats = df.queryExecution.optimizedPlan.stats
    val nRows = Tables.embeddings(spark, sf).count()
    // without SupportsReportStatistics this would be the conf default
    // (huge); with it, Catalyst sees the true tiny size and can
    // broadcast-plan the table
    assert(stats.sizeInBytes.toLong < (1L << 20),
      s"expected file-metadata size, got ${stats.sizeInBytes}")
    assert(stats.rowCount.forall(_.toLong == nRows))
  }

  test("grft count(*) is answered from file metadata, not data rows") {
    val df = spark.read.format("grft").load(dir)
    val agg = df.groupBy().count()
    val n = agg.head().getLong(0)
    assert(n === Tables.embeddings(spark, sf).count())
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [COUNT(*)]") || plan.contains("count_star"),
      s"count must push to the source:\n$plan")
    // pushdown must REFUSE when a filter conditions the rows
    val filtered = spark.read.format("grft").load(dir)
      .filter(col("vec_id") < 10L).groupBy().count()
    assert(filtered.head().getLong(0) === 10L)
    assert(!filtered.queryExecution.executedPlan.toString.contains("PushedAggregates"),
      "a filtered count must scan, not use metadata")
  }

  test("grft limit pushdown caps rows at the reader") {
    val q = spark.read.format("grft").load(dir).limit(7)
    assert(q.collect().length === 7)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 7"), s"limit must reach the scan:\n$plan")
  }

  test("grft overwrite truncates previous files") {
    val d = tempDir("grft_trunc")
    val e = Tables.embeddings(spark, sf).select("vec_id", "label", "embedding")
    e.write.format("grft").mode("overwrite").save(d)
    e.filter(col("vec_id") < 5).write.format("grft").mode("overwrite").save(d)
    assert(spark.read.format("grft").load(d).count() === 5)
  }

  test("grft: empty table counts 0; staging files are invisible to readers") {
    import spark.implicits._
    val d = tempDir("grft_empty")
    Seq.empty[(Long, Int, Array[Float])].toDF("vec_id", "label", "embedding")
      .write.format("grft").mode("overwrite").save(d)
    // COUNT(*) pushdown over header-only files must yield 0, not NULL
    assert(spark.read.format("grft").load(d).count() === 0L)
    // a stray .inprogress file (zombie task) must never surface rows —
    // and must survive a later successful read untouched
    val stray = new java.io.File(d, "part-99999-0-dead.grft.inprogress")
    java.nio.file.Files.write(stray.toPath, Array[Byte](1, 2, 3))
    assert(spark.read.format("grft").load(d).count() === 0L)
    assert(stray.exists())
  }

  test("grft overwrite failure cannot destroy the previous table") {
    import spark.implicits._
    val d = tempDir("grft_atomic")
    Seq((1L, 0, Array(1.0f)), (2L, 1, Array(2.0f)))
      .toDF("vec_id", "label", "embedding")
      .write.format("grft").mode("overwrite").save(d)
    // an overwrite whose TASKS fail (ragged rows trip the writer's
    // require) must abort before the commit point — the old files are
    // deleted only inside commit(), so the table must still read back
    intercept[Exception] {
      Seq((3L, 0, Array(1.0f)), (4L, 1, Array(1.0f, 2.0f)))
        .toDF("vec_id", "label", "embedding")
        .coalesce(1)
        .write.format("grft").mode("overwrite").save(d)
    }
    val back = spark.read.format("grft").load(d)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(back === Set(1L, 2L),
      "failed overwrite must leave the previous table intact")
  }

  test("grft fails loudly on corrupt files") {
    import java.nio.file.{Files, Paths}
    // bad magic
    val d1 = tempDir("grft_badmagic")
    Files.write(Paths.get(d1, "x.grft"), Array.fill[Byte](32)(7))
    val e1 = intercept[Exception] {
      spark.read.format("grft").load(d1).collect()
    }
    assert(e1.getMessage != null)
    // truncated: header + a partial row must be rejected, not zero-read
    val d2 = tempDir("grft_trunc2")
    val src = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".grft")).head
    val bytes = Files.readAllBytes(src.toPath)
    Files.write(Paths.get(d2, "y.grft"), bytes.take(bytes.length - 5))
    val e2 = intercept[Exception] {
      spark.read.format("grft").load(d2).collect()
    }
    assert(e2.getMessage.contains("whole rows") ||
      e2.getCause != null && e2.getCause.getMessage.contains("whole rows"))
  }

  test("grft rejects a frame missing the canonical columns") {
    val bad = Tables.embeddings(spark, sf).select("vec_id", "label")
    intercept[Exception] {
      bad.write.format("grft").mode("overwrite").save(tempDir("grft_bad"))
    }
  }

  test("grft stats manifest skips files a point lookup cannot hit") {
    import graft.sources.{Grft, GrftInputPartition, GrftScanBuilder}
    val d = tempDir("grft_skip")
    // range-partitioned write → 4 files with disjoint vec_id ranges,
    // each carrying its min/max in the commit-time stats manifest
    Tables.embeddings(spark, sf).select("vec_id", "label", "embedding")
      .repartitionByRange(4, col("vec_id"))
      .write.format("grft").mode("overwrite").save(d)
    val files = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".grft"))
    assert(files === 4, s"fixture expects 4 data files, got $files")
    val manifest = Grft.readManifest(new org.apache.hadoop.fs.Path(d))
    assert(manifest.size === 4, s"manifest must cover all files: $manifest")
    def plannedFiles(filters: Array[org.apache.spark.sql.sources.Filter]): Set[String] = {
      val sb = new GrftScanBuilder(d)
      sb.pushFilters(filters)
      sb.build().asInstanceOf[org.apache.spark.sql.connector.read.Batch]
        .planInputPartitions()
        .collect { case p: GrftInputPartition => p.file }.toSet
    }
    // unfiltered: every file planned; point lookup: exactly one —
    // the scan consulted min/max instead of opening the directory
    assert(plannedFiles(Array.empty).size === 4)
    val one = plannedFiles(Array(org.apache.spark.sql.sources.EqualTo("vec_id", 250L)))
    assert(one.size === 1, s"point lookup must plan 1 file, got $one")
    // end-to-end: the skipping read returns exactly the looked-up row
    val got = spark.read.format("grft").load(d)
      .filter(col("vec_id") === 250L).select("vec_id", "label").collect()
    assert(got.length === 1 && got.head.getLong(0) === 250L)
    // deleting the manifest must degrade to no-skip, never to no-rows
    new java.io.File(d, Grft.ManifestName).delete()
    assert(plannedFiles(Array(org.apache.spark.sql.sources.EqualTo("vec_id", 250L))).size === 4)
    assert(spark.read.format("grft").load(d)
      .filter(col("vec_id") === 250L).count() === 1L)
  }

  test("grft label dictionary prunes files the min/max range cannot") {
    import graft.sources.{Grft, GrftInputPartition, GrftScanBuilder}
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    val d = tempDir("grft_dict")
    import spark.implicits._
    // two files with SPARSE, interleaved label sets whose min/max
    // ranges overlap completely: {0, 4} and {1, 5} both span probe
    // label 2 — min/max alone can never skip either, the dictionary
    // skips both
    // two writes → two files (and the manifest's merge-on-append path)
    Seq((1L, 0, Seq(1.0f, 2.0f)), (2L, 4, Seq(3.0f, 4.0f)))  // file A: {0,4}
      .toDF("vec_id", "label", "embedding")
      .coalesce(1).write.format("grft").mode("overwrite").save(d)
    Seq((3L, 1, Seq(5.0f, 6.0f)), (4L, 5, Seq(7.0f, 8.0f)))  // file B: {1,5}
      .toDF("vec_id", "label", "embedding")
      .coalesce(1).write.format("grft").mode("append").save(d)
    val manifest = Grft.readManifest(new org.apache.hadoop.fs.Path(d))
    val dataFiles = manifest.filter(_._2.labels.exists(_.nonEmpty))
    assert(dataFiles.size === 2, s"fixture expects 2 data files: $manifest")
    assert(dataFiles.values.map(_.labels.get).toSet === Set(Set(0, 4), Set(1, 5)))
    def plannedFiles(filters: Array[org.apache.spark.sql.sources.Filter]): Set[String] = {
      val sb = new GrftScanBuilder(d)
      sb.pushFilters(filters)
      sb.build().asInstanceOf[org.apache.spark.sql.connector.read.Batch]
        .planInputPartitions()
        .collect { case p: GrftInputPartition => p.file }.toSet
    }
    // label = 2 sits inside BOTH files' [min, max] but neither
    // dictionary: the dictionary must prune the whole directory
    assert(plannedFiles(Array(EqualTo("label", 2))).isEmpty,
      "in-range but out-of-dictionary probe must open zero files")
    // label = 4: only file A's dictionary holds it
    assert(plannedFiles(Array(EqualTo("label", 4))).size === 1)
    // range refinement: label > 4 is satisfiable only by file B's {5}
    assert(plannedFiles(Array(GreaterThan("label", 4))).size === 1)
    // end-to-end: results stay correct under the pruning
    assert(spark.read.format("grft").load(d)
      .filter(col("label") === 2).count() === 0L)
    assert(spark.read.format("grft").load(d)
      .filter(col("label") === 4).select("vec_id").collect().map(_.getLong(0)).toSeq
      === Seq(2L))
    // a pre-dictionary 5-column manifest line still parses (labels None)
    // and degrades to min/max — compatibility with r10-written tables
    val mf = new java.io.File(d, Grft.ManifestName)
    val legacy = scala.io.Source.fromFile(mf)
    val lines = try legacy.getLines().map(_.split('\t').take(5).mkString("\t")).toList
    finally legacy.close()
    java.nio.file.Files.write(mf.toPath, lines.mkString("", "\n", "\n").getBytes)
    // drop the Hadoop LocalFS checksum sidecar the out-of-band rewrite
    // invalidated (simulating a hand-edited / r10-written manifest)
    new java.io.File(d, s".${Grft.ManifestName}.crc").delete()
    assert(plannedFiles(Array(EqualTo("label", 2))).size === 2,
      "legacy manifest must fall back to min/max (no skip), never to wrong rows")
  }

  test("grft vec_id bloom skips point lookups min/max ranges cannot") {
    import graft.sources.{Grft, GrftInputPartition, GrftScanBuilder}
    import org.apache.spark.sql.sources.EqualTo
    val d = tempDir("grft_bloom")
    import spark.implicits._
    // two files with INTERLEAVED vec_ids whose [min,max] ranges overlap:
    // A = {1,5} spans [1,5], B = {2,6} spans [2,6]. Probe id 3 sits
    // inside BOTH ranges but in NEITHER file — min/max can never skip,
    // the bloom skips both. Probe 5 is bracketed by both ranges but
    // present only in A — the bloom opens exactly one file.
    Seq((1L, 0, Seq(1.0f, 2.0f)), (5L, 0, Seq(3.0f, 4.0f)))   // file A: {1,5}
      .toDF("vec_id", "label", "embedding")
      .coalesce(1).write.format("grft").mode("overwrite").save(d)
    Seq((2L, 0, Seq(5.0f, 6.0f)), (6L, 0, Seq(7.0f, 8.0f)))   // file B: {2,6}
      .toDF("vec_id", "label", "embedding")
      .coalesce(1).write.format("grft").mode("append").save(d)
    val manifest = Grft.readManifest(new org.apache.hadoop.fs.Path(d))
    assert(manifest.count(_._2.bloom.isDefined) === 2,
      s"both files must carry a vec_id bloom: $manifest")
    def plannedFiles(filters: Array[org.apache.spark.sql.sources.Filter]): Set[String] = {
      val sb = new GrftScanBuilder(d)
      sb.pushFilters(filters)
      sb.build().asInstanceOf[org.apache.spark.sql.connector.read.Batch]
        .planInputPartitions()
        .collect { case p: GrftInputPartition => p.file }.toSet
    }
    // unseen in-range id (fpp at 2 keys / 16384 bits ~ 1e-12): no files
    assert(plannedFiles(Array(EqualTo("vec_id", 3L))).isEmpty,
      "in-range but unseen id must open zero files")
    // id 5: bracketed by both ranges, in file A's bloom only
    assert(plannedFiles(Array(EqualTo("vec_id", 5L))).size === 1,
      "bloom must open exactly the one file holding the id")
    // end-to-end correctness under the pruning; no false negatives
    assert(spark.read.format("grft").load(d)
      .filter(col("vec_id") === 3L).count() === 0L)
    Seq(1L, 2L, 5L, 6L).foreach { id =>
      assert(plannedFiles(Array(EqualTo("vec_id", id))).nonEmpty, s"id $id")
      assert(spark.read.format("grft").load(d)
        .filter(col("vec_id") === id).count() === 1L, s"id $id")
    }
    // a pre-bloom 6-column manifest line parses (bloom None) and
    // degrades to min/max — compatibility with earlier-written tables
    val mf = new java.io.File(d, Grft.ManifestName)
    val legacy = scala.io.Source.fromFile(mf)
    val lines = try legacy.getLines().map(_.split('\t').take(6).mkString("\t")).toList
    finally legacy.close()
    java.nio.file.Files.write(mf.toPath, lines.mkString("", "\n", "\n").getBytes)
    new java.io.File(d, s".${Grft.ManifestName}.crc").delete()
    assert(plannedFiles(Array(EqualTo("vec_id", 3L))).size === 2,
      "pre-bloom manifest must fall back to min/max (no skip), never wrong rows")
  }

  test("grft runtime filtering: a join-driven In() prunes files at execution time") {
    import graft.sources.{GrftInputPartition, GrftScanBuilder}
    import org.apache.spark.sql.sources.In
    val d = tempDir("grft_runtime")
    Tables.embeddings(spark, sf).select("vec_id", "label", "embedding")
      .repartitionByRange(4, col("vec_id"))
      .write.format("grft").mode("overwrite").save(d)
    // mechanism: a runtime In() handed to the scan AFTER build (the
    // SupportsRuntimeFiltering contract) re-plans fewer files, by the
    // same manifest satisfiability tests the static path uses
    def scanFor(runtime: Array[org.apache.spark.sql.sources.Filter]): Set[String] = {
      val sc = new GrftScanBuilder(d).build()
      sc.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
        .filter(runtime)
      sc.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
        .planInputPartitions()
        .collect { case p: GrftInputPartition => p.file }.toSet
    }
    assert(scanFor(Array.empty).size === 4)
    val pruned = scanFor(Array(In("vec_id", Array(5L, 250L))))
    assert(pruned.size === 2, s"two-point In must plan 2 files, got $pruned")
    // an unknown runtime shape keeps every file (advisory contract)
    assert(scanFor(Array(org.apache.spark.sql.sources.StringContains("x", "y")))
      .size === 4)
    // wiring: Catalyst's partition-pruning rule must actually INJECT the
    // subquery filter into the GRFT scan for a selective dimension join
    val dim = Tables.embeddings(spark, sf).select(col("vec_id").as("k"))
      .filter(col("k") === 250L)
    val fact = spark.read.format("grft").load(d)
    val joined = fact.join(dim, fact("vec_id") === dim("k"))
      .select("vec_id", "label")
    val rows = joined.collect()
    assert(rows.length === 1 && rows.head.getLong(0) === 250L)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [") &&
      plan.matches("(?s).*RuntimeFilters: \\[[^\\]]*vec_id.*"),
      s"the v2 scan must carry an injected runtime filter:\n$plan")
  }
}
