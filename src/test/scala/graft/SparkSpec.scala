package graft

import graft.ops.Multimodal
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * the test run fast; suites must not mutate global state). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf0001 = "/root/testdata/sf0.001"

  /** Whether the reference JPEG corpus ([[Multimodal.JpegDir]], outside
    * the repository) is on this machine. */
  def jpegCorpusPresent: Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(Multimodal.JpegDir))
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

  /** The `.jpeg` files of the reference corpus, sorted by name. Where the
    * corpus directory is absent the calling test is canceled, not failed;
    * a directory that is present but holds no `.jpeg` fails. */
  protected def jpegCorpus(): Seq[java.io.File] = {
    assume(TestSpark.jpegCorpusPresent,
      s"JPEG corpus directory ${Multimodal.JpegDir} is absent")
    val files = new java.io.File(Multimodal.JpegDir).listFiles()
      .filter(_.getName.endsWith(".jpeg")).sortBy(_.getName).toSeq
    assert(files.nonEmpty, s"no .jpeg file in ${Multimodal.JpegDir}")
    files
  }
}
