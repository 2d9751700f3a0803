package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Row layout of a [[GenSnap.stage]]d leaf. A leaf's partition count is
  * frozen at materialization and cannot be re-widened by AQE downstream,
  * so width is a per-artifact choice:
  *  - [[Layout.Natural]] keeps the build's own (often AQE-coalesced)
  *    width — for point-scan/serving artifacts and substrates scanned
  *    many times per query, where a wide leaf taxes every tiny scan;
  *  - [[Layout.Wide]] repartitions round-robin to the session shuffle
  *    parallelism — for substrates whose consumers do CPU-dense work
  *    directly over the leaf scan;
  *  - [[Layout.By]] hash-clusters rows by `keys` at the session shuffle
  *    parallelism — keeps co-located keys for consumers' map-side
  *    partial aggregations.
  * Measurements for both directions: OPTIMIZATION_r17.md, batch 3. */
sealed trait Layout
object Layout {
  case object Natural extends Layout
  case object Wide extends Layout
  final case class By(keys: Column*) extends Layout
}

/** Materialization at step boundaries: [[snap]] for per-generation
  * fixpoint snapshots, [[stage]] for session-lifetime artifacts.
  *
  * Invariants (measurements in OPTIMIZATION_r17.md and
  * OPTIMIZATION_r18.md):
  *
  *  - '''Capped stats.''' `localCheckpoint` copies the producer plan's
  *    estimated `Statistics` onto its leaf, and a generation that
  *    self-joins squares that estimate, so after a few rounds the
  *    driver multiplies million-digit BigInts while planning (~40 s on
  *    graph_mst_boruvka). A leaf whose estimate exceeds [[CapBytes]]
  *    (64 GiB) is re-wrapped over the SAME rdd with the estimate pinned
  *    to the cap: far above the 10 MB broadcast threshold (a capped leaf
  *    is never broadcast, and an uncapped compounding one never was
  *    either), and cap² is still a two-word BigInt. Below the cap the
  *    leaf is untouched, so honest small estimates keep broadcast
  *    eligibility. Re-wraps forward the leaf's constraints.
  *  - '''Unknown partitioning.''' Every leaf advertises the
  *    UnknownPartitioning the AQE-planned checkpoint records. Claiming
  *    the true hash partitioning (AQE-off builds) or the coalesced
  *    adaptive partitioning both lost on the bench: static sort-merge
  *    joins re-sorted the edge side every superstep, or coalesced
  *    widths serialized downstream stages. A per-consumer Exchange of
  *    the leaf is the cheaper side.
  *  - '''Cold leaves persist MEMORY_AND_DISK_SER.''' Deserialized
  *    UnsafeRows cost ~100-160 B each and broke the post-suite storage
  *    budget; serialized rows are ~30-40 B and scan at a byte copy.
  *  - '''Hot leaves are a columnar cache over a DISK_ONLY checkpoint,
  *    advertising honest row-count stats.''' Substrates that fixpoint
  *    supersteps scan every round pay ~10× the columnar scan cost
  *    through the SER level. The columnar cache is built once over the
  *    materialized leaf (no exchanges for AQE to re-plan), and the
  *    checkpoint drops to DISK_ONLY so it holds no block-manager
  *    memory. The returned leaf advertises `rowCount` = the measured
  *    count and `sizeInBytes` = row width × rows — not the compressed
  *    columnar size, which put multi-million-row substrates under the
  *    10 MB threshold and broadcast them, and not the build plan's
  *    estimate, which under-counted narrowed columns.
  *
  * Leaves are checkpoints rather than `cache()`d plans because a cached
  * plan with exchanges was re-evaluated per scan (OPTIMIZATION_r17.md,
  * headline finding). */
object GenSnap {
  val CapBytes: BigInt = BigInt(1L) << 36

  /** Eagerly materialize `df` as a session-lifetime leaf in `layout`;
    * `hot` selects the columnar-cache form for substrates scanned every
    * superstep. */
  def stage(df: DataFrame, layout: Layout = Layout.Natural,
      hot: Boolean = false): DataFrame = {
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    val laid = layout match {
      case Layout.Natural       => df
      case Layout.Wide          => df.repartition(width)
      case Layout.By(keys @ _*) => df.repartition(width, keys: _*)
    }
    if (hot) {
      val leaf = snapAt(laid, Some(StorageLevel.DISK_ONLY))
      val cached = leaf.cache()
      val rowCount = cached.count() // one pass: disk leaf + columnar build
      val lr = leaf.queryExecution.logical.asInstanceOf[LogicalRDD]
      // scanning the cached plan's executed RDD decodes built batches;
      // the InMemoryRelation stays referenced through it
      val sizePerRow = EstimationUtils.getSizePerRow(lr.output)
      rewrap(df, lr, cached.queryExecution.executedPlan.execute(),
        Statistics(sizeInBytes = sizePerRow * rowCount, rowCount = Some(rowCount)))
    } else {
      val s = snapAt(laid, Some(StorageLevel.MEMORY_AND_DISK_SER))
      s.count()
      s
    }
  }

  /** Lazily checkpoint one fixpoint generation, capping its stats. Kept
    * at the default storage level: generations are reclaimed within a
    * pass, so only peak memory would change. */
  def snap(df: DataFrame): DataFrame = snapAt(df, None)

  private def snapAt(df: DataFrame, level: Option[StorageLevel]): DataFrame = {
    val ck = level match {
      case Some(l) => df.localCheckpoint(eager = false, l)
      case None    => df.localCheckpoint(eager = false)
    }
    ck.queryExecution.logical match {
      case lr: LogicalRDD if lr.stats.sizeInBytes > CapBytes =>
        rewrap(df, lr, lr.rdd, Statistics(sizeInBytes = CapBytes,
          rowCount = lr.stats.rowCount.filter(_ <= BigInt(Long.MaxValue))))
      case _ => ck
    }
  }

  /** `lr`'s leaf over `rdd` with `stats`, keeping its output,
    * partitioning, ordering and constraints. */
  private def rewrap(df: DataFrame, lr: LogicalRDD, rdd: RDD[InternalRow],
      stats: Statistics): DataFrame =
    Bridge.ofRows(df.sparkSession, new LogicalRDD(
      lr.output, rdd, lr.outputPartitioning, lr.outputOrdering,
      lr.isStreaming, lr.stream)(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      Some(stats), Some(lr.constraints)))
}
