package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.tools.Artifact

/** The artifact lifecycle ([[Artifact.Family]]) on toy families: each has
  * its own token, a literal content key and one small file per version,
  * and java.io.tmpdir points at a temp dir of this spec for the test. */
class ArtifactSpec extends SparkSpec {

  /** Runs `body` with java.io.tmpdir under a fresh temp dir. */
  private def inToyTmp[T](body: => T): T = {
    val saved = System.getProperty("java.io.tmpdir")
    System.setProperty("java.io.tmpdir", tempDir("graft-artifact"))
    try body finally System.setProperty("java.io.tmpdir", saved)
  }

  private val key: Artifact.Key = Seq("fp" -> 1L)

  /** A toy build: writes `tag` as the version's one data file and counts
    * its runs in `runs`. */
  private def toyWrite(tag: String, runs: AtomicInteger = new AtomicInteger)(
      stage: String, ak: String): Unit = {
    runs.incrementAndGet()
    Files.createDirectories(Paths.get(stage))
    Files.writeString(Paths.get(stage, "data.txt"), s"$tag $ak")
  }

  private def tagOf(dir: String): String =
    Files.readString(Paths.get(dir, "data.txt")).split(" ")(0)

  private def listing(dir: String): Seq[(String, Long)] = {
    val s = Files.walk(Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map((f: Path) => (f.toString, Files.size(f))).toSeq.sortBy(_._1)
    } finally s.close()
  }

  test("8 threads on a cold memo get the same dir and run exactly one build") {
    inToyTmp {
      val fam = new Artifact.Family("toyconc")
      val runs = new AtomicInteger
      val go = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(8)
      try {
        val dirs = (1 to 8).map(_ => pool.submit(new Callable[String] {
          def call(): String = { go.await(); fam(spark, "toy")(key)(toyWrite("a", runs)) }
        }))
        go.countDown()
        val served = dirs.map(_.get(120, TimeUnit.SECONDS)).toSet
        assert(served.size == 1, s"every thread must serve one dir: $served")
        assert(runs.get() == 1 && fam.builds.get() == 1,
          s"one build for a cold memo: ${runs.get()} runs, ${fam.builds.get()} builds")
      } finally pool.shutdownNow()
    }
  }

  test("a build that serves a second family inside its own build completes") {
    // the ingest → pairs shape: one computeIfAbsent map shared by both
    // families would reject the inner fill as a recursive update
    inToyTmp {
      val inner = new Artifact.Family("toyinner")
      val outer = new Artifact.Family("toyouter")
      val dir = outer(spark, "toy")(key) { (stage, ak) =>
        toyWrite(tagOf(inner(spark, "toy")(key)(toyWrite("base"))))(stage, ak)
      }
      assert(tagOf(dir) == "base")
      assert(inner.builds.get() == 1 && outer.builds.get() == 1)
    }
  }

  test("a changed key publishes v2 and leaves v1's bytes intact") {
    inToyTmp {
      val v1 = new Artifact.Family("toykey")(spark, "toy")(key)(toyWrite("one"))
      val before = listing(v1)
      // a fresh memo (a new process) whose corpus key changed
      val v2 = new Artifact.Family("toykey")(spark, "toy")(Seq("fp" -> 2L))(toyWrite("two"))
      assert(v1.endsWith("__v00001") && v2.endsWith("__v00002"), s"$v1, $v2")
      assert(listing(v1) == before, "publishing v2 must not touch v1's bytes")
      assert(tagOf(v2) == "two")
      // selection is by content: the old key still serves v1, unbuilt
      val again = new Artifact.Family("toykey")
      assert(again(spark, "toy")(key)(toyWrite("x")) == v1 && again.builds.get() == 0)
    }
  }

  test("a version whose meta is missing or unreadable is a miss") {
    inToyTmp {
      val ds = Artifact.dsKey("toy")
      val noMeta = Artifact.publish("toymeta", ds)(toyWrite("bare")(_, "ak"))
      val badMeta = Artifact.publish("toymeta", ds) { stage =>
        Files.createDirectories(Paths.get(stage, "meta"))
        Files.writeString(Paths.get(stage, "meta", "part-0.parquet"), "not parquet")
      }
      assert(!Artifact.metaMatches(spark, noMeta, key))
      assert(!Artifact.metaMatches(spark, badMeta, key))
      val fam = new Artifact.Family("toymeta")
      val dir = fam(spark, "toy")(key)(toyWrite("built"))
      assert(fam.builds.get() == 1 && dir.endsWith("__v00003") && tagOf(dir) == "built",
        s"both candidates must miss and a new version be built: $dir")
    }
  }
}
