package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType}

/** Bloom filter (Bloom 1970) over an integer key column as one mergeable
  * TypedImperativeAggregate: 16384 bits packed 32-per-word into 512
  * BIGINT words, bit-OR on merge — the set-MEMBERSHIP member of the
  * sketch family next to HLL (cardinality, agg_sketch_rollup), ApproxTopK
  * (heavy hitters, agg_topk_sketch), count-min (point frequency,
  * agg_cms_freq) and KLL (quantiles, agg_quantile_rollup). At scale the
  * shuffle carries one ~4 KB row per partition instead of the build side's
  * key set, and the probe is a broadcast bit-test — the runtime-filter
  * shape Spark itself uses for join pruning
  * (spark.sql.optimizer.runtime.bloomFilter.enabled), here surfaced as a
  * first-class auditable operator.
  *
  * The hash family is the CMS one (CountMinSketch.scala): multiplicative
  * odd constants + offset, mod 2^32, top-14-bits position (>> 18) —
  * every step
  * BIGINT-exact for keys in [0, 2^31), so the DuckDB oracle rebuilds the
  * IDENTICAL 512 packed words relationally and proves the engine's
  * bitset (and every probe verdict) cell-exact. Words pack 32 bits, not
  * 64, so no word ever sets a sign bit and integer division/modulo
  * bit-tests can never hit the truncate-vs-floor divergence between the
  * engines on negatives.
  */
object BloomFilterAgg {
  val NumHashes = 4
  /** 16384 bits ≈ 2 KB: at the sf0.1 gate's ~3k build keys × 4 hashes
    * the fill is ~52% (fpp ≈ 7%) — a realistic operating point rather
    * than a saturated or trivially-empty bitset. */
  val Bits = 16384
  val BitsPerWord = 32
  val Words: Int = Bits / BitsPerWord // 512
  import CountMinSketchAgg.{B, P}

  /** Bit position of key `k` under hash `j` (top 14 of the 32 mixed
    * bits) — shared verbatim (as SQL) with the oracle. */
  def position(k: Long, j: Int): Int =
    (((k * P(j) + B(j)) % 4294967296L) >> 18).toInt

  /** The same position as ANSI SQL (Spark `DIV` / DuckDB `//` spelled by
    * the caller). */
  def positionSql(expr: String, j: Int, intDiv: String): String =
    s"((($expr * ${P(j)} + ${B(j)}) % 4294967296) $intDiv 262144)"
}

case class BloomFilterAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with ExpectsInputTypes {

  import BloomFilterAgg._
  import CountMinSketchAgg.KeyBound

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "bloom_filter_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](Words)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val k = v.asInstanceOf[Long]
      require(k >= 0 && k < KeyBound,
        s"bloom key $k outside [0, 2^31) — the SQL-replayable hash domain")
      var j = 0
      while (j < NumHashes) {
        val pos = position(k, j)
        buf(pos / BitsPerWord) |= (1L << (pos % BitsPerWord))
        j += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomFilterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomFilterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomFilterAgg =
    copy(child = newChildren.head)
}
