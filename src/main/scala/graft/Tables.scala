package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Loaders for the harness Parquet tables (TESTDATA.md) plus shared
  * deterministic helpers used by both the Spark queries and their DuckDB
  * oracle SQL.
  *
  * Each table's schema is pinned once per (session, normalized table
  * path): the first `table` call infers it from the parquet footer, which
  * costs one Spark job, and every call reads with that schema, which
  * costs none. A table file's schema is taken to be fixed for the
  * session's life, the same assumption every [[SessionMemo]] artifact
  * built from these tables already makes. A read that fails (no such
  * file) pins nothing, so the next call infers again.
  *
  * Only the schema is memoized, never the DataFrame. Each call is a fresh
  * scan with fresh expression IDs, so a self-join of two reads of one
  * table resolves; a shared DataFrame would trip Spark's ambiguous
  * self-join check. No data is cached either.
  *
  * Every loader is a plain parquet scan, so Catalyst pushes
  * filters/column pruning down to the file source (verify with
  * `.explain("formatted")` → `PushedFilters`/`ReadSchema`).
  */
object Tables {
  private val schemas = SessionMemo[StructType]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val pinned = schemas.getOrCompute(spark, path)(spark.read.parquet(path).schema)
    spark.read.schema(pinned).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Deterministic multiplicative hash over an integer key, identical in
    * Spark and DuckDB (replaces the reference's `ORDER BY rand()` sampling,
    * image_classification.py:234 — see SURVEY.md Q4/Q7). Arithmetic runs in
    * DECIMAL(38,0) because DuckDB raises on BIGINT overflow while Spark
    * wraps; decimals are exact and overflow-free for any 64-bit key.
    */
  def detHash(key: Column): Column =
    (key.cast(DecimalType(38, 0)) * lit(2654435761L) % lit(4294967296L))
      .cast("bigint")

  /** The same hash as ANSI SQL for the DuckDB oracle. */
  def detHashSql(expr: String): String =
    s"CAST((CAST($expr AS DECIMAL(38,0)) * 2654435761) % 4294967296 AS BIGINT)"

  /** Exact money/quantity aggregation: cast to DECIMAL before SUM so the
    * result is independent of partial-aggregation order (double addition is
    * not associative; decimal addition is). Bit-identical across Spark's
    * partial/final hash aggregate and DuckDB's sequential sum.
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  def decSql(expr: String): String = s"CAST($expr AS DECIMAL(18,2))"
}
