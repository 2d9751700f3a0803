package graft

import java.nio.file.{Files, Path, Paths}

/** Queries that write and read back their own output stage it under
  * [[tools.Staging.dir]]: a pid-keyed dir removed at JVM exit, so two
  * processes never share it and nothing is left behind. */
class StagingSpec extends SparkSpec {
  test("sink and source round-trips leave no fixed-name tmpdir output") {
    val tmp = System.getProperty("java.io.tmpdir")
    val ds = sf.replaceAll("[^a-zA-Z0-9]", "_")
    val fixed = Seq("graft_sink_", "graft_src_").map(p => Paths.get(s"$tmp/$p$ds"))
    // leftovers from a build that still wrote there must not decide the test
    fixed.filter(Files.exists(_)).foreach { d =>
      val s = Files.walk(d)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
    for (q <- Seq("sink_graph_roundtrip", "src_json_csv_roundtrip"))
      assert(SparkEntry.queries(q)(spark, sf).count() > 0, q)
    for (d <- fixed) assert(!Files.exists(d), s"$d written outside Staging.dir")
    for (kind <- Seq("sink", "src")) {
      val d = tools.Staging.dir(kind, sf)
      assert(d.endsWith(s"_${ProcessHandle.current().pid()}"))
      assert(Files.isDirectory(Paths.get(d)), s"$d: the query's staging dir")
    }
  }
}
