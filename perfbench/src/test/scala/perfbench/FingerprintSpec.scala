package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sample = spark.range(0, 500).select(
    col("id"), (col("id") % 7).as("k"), (col("id") / 3.0).as("x"),
    when(col("id") % 5 === 0, lit(null)).otherwise(concat(lit("s"), col("id"))).as("s"),
    array(col("id"), col("id") + 1).as("arr"),
    map(lit("a"), col("id")).as("m"))

  test("fingerprint ignores row order and partitioning") {
    val base = Fingerprint.of(sample)
    assert(base.rows == 500)
    assert(Fingerprint.of(sample.orderBy(col("id").desc)) == base)
    assert(Fingerprint.of(sample.repartition(7, col("k"))) == base)
    assert(Fingerprint.of(sample.coalesce(1)) == base)
  }

  test("fingerprint sees every column and every row") {
    val base = Fingerprint.of(sample)
    val oneValue = sample.withColumn("x", when(col("id") === 123, lit(0.5)).otherwise(col("x")))
    assert(Fingerprint.of(oneValue) != base)
    assert(Fingerprint.of(sample.drop("m")) != base)
    assert(Fingerprint.of(sample.filter(col("id") =!= 7)).rows == 499)
  }

  test("fingerprint reads back from its text form") {
    val one = Fingerprint.of(sample)
    assert(Fingerprint.parse(one.toString) == one)
  }

  test("duplicate column names and empty results fingerprint") {
    val dup = spark.range(3).select(col("id").as("a"), (col("id") * 2).as("a"))
    assert(Fingerprint.of(dup).rows == 3)
    assert(Fingerprint.of(spark.range(0).toDF()) == Fingerprint(0, 0))
  }
}
