package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * the test run fast; suites must not mutate global state). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf0001

  /** Test scratch directory, deleted when the test JVM exits — repeated
    * `sbt test` runs must not accumulate fixture dirs in java.io.tmpdir
    * (the same hygiene rule agg_sketch_rollup follows for its sketch
    * table). */
  protected def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      import java.nio.file.{Files, Path}
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
    }
    p.toString
  }
}
