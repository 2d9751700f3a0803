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

  private var groups = 0

  /** Spark jobs started on this thread while `body` runs. A marker job in
    * a second group runs after it; the status store applies job events in
    * order, so once the marker shows, every job of `body` has too. */
  protected def jobsInGroup(body: => Any): Int = {
    val sc = spark.sparkContext
    groups += 1
    val group = s"${getClass.getSimpleName}-jobs-$groups"
    val marker = s"$group-marker"
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    sc.setJobGroup(marker, marker, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    var spins = 0
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty && spins < 200) {
      Thread.sleep(50); spins += 1
    }
    assert(spins < 200, "the marker job never reached the status store")
    sc.statusTracker.getJobIdsForGroup(group).length
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
