package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GenSnap, Layout}
import org.apache.spark.storage.StorageLevel

/** Pins both GenSnap entry points.
  *
  * Every driver-counted fixpoint kernel snapshots its generations
  * through [[GenSnap.snap]], whose contract is
  *
  *  1. the carried stats estimate never exceeds the cap, no matter how
  *     many self-joining generations compound it (uncapped, sizeInBytes
  *     SQUARES per generation and the planner multiplies million-digit
  *     BigInts — the measured 40 s Borůvka driver burn);
  *  2. the capped re-wrap reuses the checkpointed RDD verbatim — no
  *     InternalRow→Row round-trip (the round-12 createDataFrame fix
  *     paid one);
  *  3. below the cap the frame is untouched — honest small-frame
  *     estimates (and broadcast eligibility) are preserved.
  *
  * Session artifacts go through [[GenSnap.stage]], whose contract is the
  * storage level, width and stats of the leaf it returns. Neither entry
  * point accumulates storage: what a query stages is reclaimed once
  * unreferenced.
  */
class GenSnapSpec extends SparkSpec {
  import org.apache.spark.sql.execution.LogicalRDD

  private def leafStats(df: DataFrame): BigInt =
    df.queryExecution.logical.collectFirst {
      case lr: LogicalRDD => lr.stats.sizeInBytes
    }.getOrElse(fail("expected a LogicalRDD leaf after snap"))

  /** One squaring generation: join the checkpointed frame against a
    * renamed view of ITSELF on a key the planner can no longer prove
    * distinct — a LogicalRDD leaf carries no distinctKeys, so Spark 4's
    * visitJoin falls through its sum-of-sides fast path to the PRODUCT
    * default. This is exactly Borůvka's pointer-jump shape
    * (`par ⋈ par` on p = pc). Keys are unique in the DATA (k = id), so
    * rows stay constant while the estimate squares. */
  private def squaringStep(gen: DataFrame): DataFrame =
    GenSnap.snap(
      gen.join(gen.select(col("k"), col("id").as("id2")), "k")
        .select(col("id"), col("k")))

  test("self-joining generations keep capped, constant-size stats") {
    val base = spark.range(1000)
      .select(col("id"), col("id").as("k"))
      .repartition(col("k"))
    var gen = GenSnap.snap(base.toDF())
    var prev = BigInt(-1)
    for (round <- 1 to 10) {
      gen = squaringStep(gen)
      val s = leafStats(gen)
      assert(s <= GenSnap.CapBytes,
        s"round $round: leaf stats $s exceed the cap ${GenSnap.CapBytes}")
      // once the cap engages it must stay EXACTLY pinned — constant per
      // generation is what makes planning O(1) across rounds
      if (prev == GenSnap.CapBytes)
        assert(s == GenSnap.CapBytes, s"round $round: cap came unpinned ($s)")
      prev = s
    }
    assert(prev == GenSnap.CapBytes,
      "ten squaring generations should have driven the estimate into the cap")
    assert(gen.count() == 1000)
  }

  test("the capped re-wrap reuses the checkpointed RDD (no row round-trip)") {
    val base = spark.range(1000)
      .select(col("id"), col("id").as("k"))
      .repartition(col("k"))
    // drive the estimate over the cap so the re-wrap path (not the
    // identity path) is the one under test
    var gen = GenSnap.snap(base.toDF())
    for (_ <- 1 to 4) gen = squaringStep(gen)
    assert(leafStats(gen) == GenSnap.CapBytes, "cap should be engaged")
    // the re-wrapped leaf must hold the checkpoint's OWN InternalRow rdd
    // — the r12 createDataFrame fix paid a Row round-trip, whose
    // converted rdd carries NO checkpoint storage mark (the mark stays
    // on the discarded Row rdd); a regression back to it would silently
    // double-materialize every generation
    val lrSnap = gen.queryExecution.logical
      .collectFirst { case lr: org.apache.spark.sql.execution.LogicalRDD => lr }.get
    assert(lrSnap.rdd.getStorageLevel.useMemory || lrSnap.rdd.getStorageLevel.useDisk,
      "snap must re-wrap the checkpoint-marked InternalRow RDD, not convert rows")
  }

  test("below the cap the frame and its honest estimate are untouched") {
    val small = spark.range(10).toDF()
    val snapped = GenSnap.snap(small)
    val s = leafStats(snapped)
    assert(s > 0 && s < GenSnap.CapBytes, s"expected an honest small estimate, got $s")
    assert(snapped.count() == 10)
  }

  test("capped generations can never be broadcast") {
    // the cap (64 GiB) sits far above the autoBroadcastJoinThreshold, so
    // a capped generation joined against a big side must not plan as the
    // build side of a BroadcastHashJoin — asserted on an EXECUTED plan,
    // not just the constant inequality (ADVICE r13: a future planner
    // visitor reading rowCount instead of sizeInBytes would slip past a
    // constant-only check)
    assert(GenSnap.CapBytes > BigInt(10L << 20))
    val base = spark.range(1000)
      .select(col("id"), col("id").as("k"))
      .repartition(col("k"))
    var gen = GenSnap.snap(base.toDF())
    for (_ <- 1 to 4) gen = squaringStep(gen)
    assert(leafStats(gen) == GenSnap.CapBytes, "cap should be engaged")
    // big enough that the PROBE side is over the 10 MB broadcast
    // threshold too — otherwise Spark broadcasts the probe side and the
    // test can't distinguish that legitimate plan from the violation
    val big = spark.range(3000000).select(col("id").as("k"), col("id").as("v"))
    val joined = big.join(gen, "k")
    joined.count() // executed, so AQE's final plan is the one inspected
    val executed = joined.queryExecution.executedPlan.toString
    assert(!executed.contains("BroadcastHashJoin"),
      s"a capped generation must not be broadcast:\n$executed")
    assert(executed.contains("SortMergeJoin") || executed.contains("ShuffledHashJoin"),
      s"expected a shuffle join over the capped side:\n$executed")
  }

  test("the capped re-wrap forwards the producer plan's constraints") {
    // the plain localCheckpoint leaf carries the producer's constraints
    // (e.g. non-null inference from an inner equi-join); the capped
    // re-wrap must not drop them, or downstream plans re-add redundant
    // IsNotNull filters (ADVICE r13)
    val base = spark.range(1000)
      .select(col("id"), col("id").as("k"))
      .repartition(col("k"))
    var gen = GenSnap.snap(base.toDF())
    for (_ <- 1 to 4) gen = squaringStep(gen)
    val lrSnap = gen.queryExecution.logical
      .collectFirst { case lr: org.apache.spark.sql.execution.LogicalRDD => lr }.get
    assert(leafStats(gen) == GenSnap.CapBytes, "cap should be engaged")
    // the squaring step's inner equi-join proves k (and id) non-null;
    // the plain (sub-cap) checkpoint of the same plan carries that —
    // the capped leaf must match it
    val plain = gen // already capped
    val uncappedTwin = squaringStep(GenSnap.snap(base.toDF()))
    val plainLr = uncappedTwin.queryExecution.logical
      .collectFirst { case lr: org.apache.spark.sql.execution.LogicalRDD => lr }.get
    assert(plainLr.constraints.nonEmpty,
      "fixture assumption: the checkpoint leaf carries producer constraints")
    assert(lrSnap.constraints.nonEmpty,
      "capped re-wrap dropped the producer plan's constraints")
    assert(plain.count() == 1000)
  }

  private def leaf(df: DataFrame): LogicalRDD =
    df.queryExecution.logical.collectFirst { case lr: LogicalRDD => lr }
      .getOrElse(fail("expected a LogicalRDD leaf after stage"))

  /** Every RDD `rdd` reads from, itself included. */
  private def lineage(rdd: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
    rdd +: rdd.dependencies.flatMap(d => lineage(d.rdd))

  test("a hot leaf advertises the measured row count × row width, so a big substrate is not broadcast") {
    // 1 M two-int rows: 16 B/row honest (16 MB, over the 10 MB broadcast
    // threshold) but a few MB as compressed columnar batches
    val n = 1000000L
    val hot = GenSnap.stage(spark.range(n)
      .select((col("id") % 1000).cast("int").as("k"), (col("id") % 7).cast("int").as("v")),
      hot = true)
    val lr = leaf(hot)
    val width = org.apache.spark.sql.catalyst.plans.logical.statsEstimation
      .EstimationUtils.getSizePerRow(lr.output)
    assert(lr.stats.rowCount.contains(BigInt(n)))
    assert(lr.stats.sizeInBytes == width * n)
    val threshold = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    assert(lr.stats.sizeInBytes > threshold)
    // the planner's static join choice reads those stats: with both sides
    // over the threshold, neither is planned as a broadcast build side
    val big = spark.range(3000000).select((col("id") % 1000).cast("int").as("k"), col("id"))
    val planned = big.join(hot, "k").queryExecution.sparkPlan.toString
    assert(!planned.contains("BroadcastHashJoin"), s"hot substrate broadcast:\n$planned")
    assert(hot.count() == n)
  }

  test("Wide and By leaves have spark.sql.shuffle.partitions partitions; Natural keeps the build's") {
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val src = spark.range(0, 1000, 1, width + 3)
      .select(col("id"), (col("id") % 10).as("k"))
    for (hot <- Seq(false, true)) {
      def parts(layout: Layout): Int = leaf(GenSnap.stage(src, layout, hot)).rdd.getNumPartitions
      assert(parts(Layout.Natural) == width + 3, s"hot=$hot")
      assert(parts(Layout.Wide) == width, s"hot=$hot")
      assert(parts(Layout.By(col("k"))) == width, s"hot=$hot")
      // By clusters each key into one partition
      val byKey = GenSnap.stage(src, Layout.By(col("k")), hot)
        .select(col("k"), spark_partition_id().as("pid"))
        .groupBy("k").agg(countDistinct(col("pid")).as("p"))
      assert(byKey.filter(col("p") =!= 1).count() == 0, s"hot=$hot")
    }
  }

  test("a cold leaf persists MEMORY_AND_DISK_SER") {
    val cold = GenSnap.stage(spark.range(1000).toDF())
    assert(leaf(cold).rdd.getStorageLevel == StorageLevel.MEMORY_AND_DISK_SER)
    assert(cold.count() == 1000)
  }

  test("a hot leaf scans a columnar cache whose backing checkpoint is DISK_ONLY") {
    val hot = GenSnap.stage(spark.range(1000).toDF(), hot = true)
    val scan = leaf(hot).rdd
    assert(scan.getStorageLevel == StorageLevel.NONE,
      "the leaf's own scan must decode the cache, not re-read the checkpoint")
    val levels = lineage(scan).map(_.getStorageLevel)
    assert(levels.contains(StorageLevel.DISK_ONLY), s"no DISK_ONLY checkpoint under the cache: $levels")
    assert(levels.exists(_.useMemory), s"no in-memory columnar cache over the checkpoint: $levels")
    assert(hot.count() == 1000)
  }

  // Per-query staging is reclaimed, never accumulated: a superseded
  // GenSnap generation or staging checkpoint is unpersisted by the
  // ContextCleaner once its last reference is collected, so repeated runs
  // of the staging-heaviest queries retain only the session memos the
  // first run built, never another copy of their per-run staging.
  test("repeated staging-heavy runs do not accumulate block-manager storage") {
    def storMb: Double =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    def runOnce(): Unit = {
      SparkEntry.queries("graph_temporal_reach")(spark, sf).count()
      SparkEntry.queries("rel_zorder_layout")(spark, sf).count()
      SparkEntry.queries("ann_nndescent_incremental")(spark, sf).count()
    }
    runOnce() // memos + first-pass staging
    val after1 = storMb
    for (_ <- 1 to 3) runOnce()
    // the cleaner drains dropped checkpoint refs asynchronously post-GC
    System.gc()
    var last = -1.0; var cur = storMb; var spins = 0
    while (cur != last && spins < 30) { last = cur; Thread.sleep(200); cur = storMb; spins += 1 }
    info(f"storage after pass 1: $after1%.1f MB; after 4 passes + gc: $cur%.1f MB")
    assert(cur <= after1 * 1.2 + 8.0,
      f"block-manager storage grew from $after1%.1f to $cur%.1f MB over 3 " +
        "repeat passes — per-query staging is being pinned instead of reclaimed")
  }
}
