package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XxHash64Function

/** Order-insensitive content fingerprint of a result: its row count and
  * the sum, modulo 2^64, of a 64-bit hash of each row over every column.
  * Hashing every column forces every column to be computed, which a
  * `count()` lets column pruning skip. The sum is commutative, so row
  * order and partitioning do not change it. */
final case class Fingerprint(rows: Long, hash: Long) {
  override def toString: String = s"$rows:$hash"
}

object Fingerprint {
  def parse(s: String): Fingerprint = {
    val Array(r, h) = s.split(":", 2)
    Fingerprint(r.toLong, h.toLong)
  }

  /** Executes `df`'s own physical plan (one job, no re-planning) and
    * hashes each row as Spark's `xxhash64(all columns)` would. */
  def of(df: DataFrame): Fingerprint = {
    val types = df.schema.fields.map(_.dataType)
    val (rows, hash) = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var sum = 0L
      it.foreach { row =>
        var h = 42L
        var i = 0
        while (i < types.length) {
          if (!row.isNullAt(i)) h = XxHash64Function.hash(row.get(i, types(i)), types(i), h)
          i += 1
        }
        n += 1; sum += h
      }
      Iterator((n, sum))
    }.collect().foldLeft((0L, 0L)) { case ((n, s), (a, b)) => (n + a, s + b) }
    Fingerprint(rows, hash)
  }
}
