package graft

/** The session every main and this suite build through
  * [[GraftSession.local]] carries the conf results depend on: the DuckDB
  * oracle compares UTC timestamps and events' nanos-as-long column, and
  * the mains' shuffle width tracks the core count. */
class GraftSessionSpec extends SparkSpec {
  test("GraftSession.local sets the conf the mains and the DuckDB oracle rely on") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }
}
