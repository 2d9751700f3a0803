package graft

import graft.graph.{Components, Fixpoint}
import graft.tools.BoundProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, GenSnap}

/** The superstep driver [[Fixpoint]] and every capped kernel on it, at
  * the boundary of its round cap: each kernel runs on a hand-built path
  * graph whose round count n is known, and must give the loose-cap
  * result with cap n (recording n rounds used) and throw, naming its
  * BoundProbe record, with cap n − 1. The beam search's cap is the
  * oracle's fixed unroll, so its path is one hop longer instead.
  *
  * A kernel with an in-task path ([[Fixpoint.inTask]]) is checked on
  * both paths, and at the path switch: at `taskRows` n − 1, n and n + 1
  * over an n-row generation it gives equal rows and records. */
class FixpointSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  /** Frames of `sizes` rows, one per round. */
  private def shrinking(sizes: Int*): Seq[DataFrame] =
    sizes.map(n => spark.range(n).toDF("id"))

  test("Fixpoint.run: round counting, cap boundary and init, in both counting modes") {
    val gens = shrinking(3, 2, 1, 0)
    var ran = 0
    def drive(cap: Int, countsLast: Boolean): Int = {
      ran = 0
      Fixpoint.run("fixpoint_probe", cap, countsLast) { r =>
        ran += 1
        assert(r == ran)
        Fixpoint.Round(gens(r - 1))
      }
    }
    BoundProbe.clear()
    // the empty fourth round proves convergence: it counts, or not
    assert(drive(4, countsLast = true) == 4 && ran == 4)
    assert(BoundProbe.maxUsed("fixpoint_probe").contains((4, 4)))
    val e1 = intercept[IllegalArgumentException](drive(3, countsLast = true))
    assert(e1.getMessage.contains("fixpoint_probe"))
    assert(ran == 3, "the round past the cap must throw before it is built")
    BoundProbe.clear()
    assert(drive(3, countsLast = false) == 3 && ran == 4)
    assert(BoundProbe.maxUsed("fixpoint_probe").contains((3, 3)))
    val e2 = intercept[IllegalArgumentException](drive(2, countsLast = false))
    assert(e2.getMessage.contains("fixpoint_probe"))
    assert(ran == 3, "a live round past the cap must throw once counted")
    // an empty init frame runs no round, and is recorded as 0 rounds
    BoundProbe.clear()
    assert(Fixpoint.run("fixpoint_probe", 2, init = Some(gens(3))) { _ =>
      fail("no round may run after an empty init")
    } == 0)
    assert(BoundProbe.maxUsed("fixpoint_probe").contains((0, 2)))
    // a custom stop rule and advance: stop once the count stops shrinking
    var prev = Long.MaxValue
    val advanced = scala.collection.mutable.ArrayBuffer.empty[Long]
    val used = Fixpoint.run("fixpoint_probe", countsLast = false) { r =>
      Fixpoint.Round(shrinking(3, 2, 2, 1)(r - 1), done = _ == prev,
        advance = n => { advanced += n; prev = n })
    }
    assert(used == 2 && advanced == Seq(3L, 2L))
  }

  // hand-built graphs with known round counts
  private lazy val path4 = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
  private def nodesOf(de: DataFrame): DataFrame =
    de.select(col("src").as("id")).union(de.select(col("dst").as("id"))).distinct()
  private def undirected(de: DataFrame): DataFrame =
    de.union(de.select(col("dst").as("src"), col("src").as("dst")))

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  // a triangle with a pendant edge: the 2-core level peels the pendant
  // (round 1) and converges (round 2); the 3-core level peels the
  // triangle (round 1) and converges on no edge (round 2)
  private lazy val triPendant = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")

  /** A capped kernel run at a cap: `probe` is its BoundProbe name, `n`
    * its known rounds, and `path` names the path it takes when that is
    * not the one its size picks. */
  private case class Capped(probe: String, n: Int, run: Int => Set[Row], path: String = "")

  /** Both paths of a kernel that runs in one task at most `taskRows`
    * generation rows: its own size picks the task, `taskRows = 0` the
    * distributed loop. */
  private def bothPaths(probe: String, n: Int)(run: (Int, Long) => Set[Row]): Seq[Capped] = Seq(
    Capped(probe, n, run(_, Fixpoint.TaskRows)),
    Capped(probe, n, run(_, 0L), " (distributed, taskRows = 0)"))

  private val capped: Seq[Capped] = Seq(
    // layers rise by one hop per round: 3 relaxing rounds + 1 quiet one
    Capped("dag_layers", 4, cap => rows(Components.dagLayers(nodesOf(path4), path4, cap))),
    // one new vertex per hop, then the empty frontier
    Capped("reachable_from", 4, cap =>
      rows(Components.reachableFrom(Seq(1L).toDF("id"), path4, cap))),
    // every vertex of a directed path is its own SCC, peeled one a round
    Capped("scc_coloring", 3, cap => {
      val de = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
      rows(Components.sccColoring(nodesOf(de), de, cap)._1)
    }),
    Capped("multi_bfs", 4, cap =>
      rows(Components.multiBfs(undirected(path4), Seq(1L), cap))),
    Capped("multi_bfs_counts", 4, cap =>
      rows(Components.multiBfsCounts(undirected(path4), Seq(1L), cap))),
    // priorities order 4 < 1 < 3 in round 1 on the path 4–1–3: round 1
    // takes 4 and drops 1, round 2 takes the isolated 3
    Capped("mis_luby", 2, cap => {
      val de = Seq((4L, 1L), (1L, 3L)).toDF("src", "dst")
      rows(Components.misLuby(nodesOf(de), undirected(de), cap)._1)
    }),
    Capped("weighted_sssp", 4, cap => {
      val w = undirected(path4).withColumn("w", lit(1L))
      rows(Components.minDist(w, 1L, cap))
    }),
    // light edges 1–2 and 3–4 join in round 1, the heavy 2–3 in round 2;
    // the pick-less third round does not count
    Capped("mst_boruvka", 2, cap => {
      val w = Seq((1L, 2L, 1L), (2L, 3L, 5L), (3L, 4L, 1L)).toDF("src", "dst", "w")
      val ue = w.union(w.select(col("dst"), col("src"), col("w")))
      rows(Components.boruvkaMst(ue, cap)._1)
    })) ++
    // the 2-core of a path is empty: ends {1,5}, then {2,4}, then nothing
    bothPaths("kcore_peel", 3) { (cap, taskRows) =>
      val p5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
      rows(Components.kCorePeel(undirected(p5), 2, cap, taskRows = taskRows))
    } ++
    // round 1 drops the pendant edge, in no triangle; the quiet round 2
    // does not count
    bothPaths("ktruss_peel", 1) { (cap, taskRows) =>
      rows(Components.kTruss(triPendant, 3, cap, taskRows))
    } ++
    bothPaths("core_numbers_levels", 2) { (cap, taskRows) =>
      rows(Components.coreNumbers(undirected(triPendant), cap, Fixpoint.Uncapped, taskRows))
    } ++
    bothPaths("core_numbers_peel", 2) { (cap, taskRows) =>
      rows(Components.coreNumbers(undirected(triPendant), Fixpoint.Uncapped, cap, taskRows))
    }

  for (Capped(name, n, run, path) <- capped)
    test(s"$name$path: cap n gives the loose-cap result and records n; cap n - 1 throws") {
      BoundProbe.clear()
      val loose = run(n + 4)
      assert(BoundProbe.maxUsed(name).contains((n, n + 4)))
      BoundProbe.clear()
      assert(run(n) == loose)
      assert(BoundProbe.maxUsed(name).contains((n, n)))
      // thrown on the driver, not wrapped in a failed task's SparkException
      val ex = intercept[IllegalArgumentException](run(n - 1))
      assert(ex.getMessage.contains(name), ex.getMessage)
    }

  test("the peeling kernels' known results: a triangle with a pendant, and no edge") {
    val tri = Set(Row(1L, 2L, 1L), Row(1L, 3L, 1L), Row(2L, 3L, 1L))
    for (taskRows <- Seq(Fixpoint.TaskRows, 0L)) {
      assert(rows(Components.kTruss(triPendant, 3, taskRows = taskRows)) == tri)
      assert(rows(Components.coreNumbers(undirected(triPendant), Fixpoint.Uncapped,
        Fixpoint.Uncapped, taskRows)) ==
        Set(Row(1L, 2L), Row(2L, 2L), Row(3L, 2L), Row(4L, 1L)))
    }
    // no edge, in a frame of no partition: no level and no live round
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      Seq.empty[(Long, Long)].toDF("src", "dst").schema)
    BoundProbe.clear()
    assert(rows(Components.kCorePeel(none, 2)).isEmpty)
    assert(rows(Components.kTruss(none, 3)).isEmpty)
    assert(rows(Components.coreNumbers(none, 1, 1)).isEmpty)
    assert(BoundProbe.maxUsed("kcore_peel").contains((1, Fixpoint.Uncapped)))
    assert(BoundProbe.maxUsed("core_numbers_levels").contains((0, 1)))
    assert(BoundProbe.maxUsed("ktruss_peel").contains((0, Fixpoint.Uncapped)))
  }

  /** Jobs started while `body` runs, with its value. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    Bridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      Bridge.drainListeners(sc)
      (a, started.get)
    } finally sc.removeSparkListener(listener)
  }

  // sf0.01's near-dup graph: its ≥ 0.5-Jaccard pairs as (src, dst)
  private lazy val dup01 = SparkEntry.queries("dedup_minhash_pairs")(spark, "/root/testdata/sf0.01")
    .filter(col("jaccard") >= 0.5).select(col("id_a").as("src"), col("id_b").as("dst"))
    .transform(GenSnap.stage(_))

  /** (kernel, its BoundProbe names, its generation, the kernel at a
    * `taskRows`). */
  private val sized: Seq[(String, Seq[String], () => DataFrame, Long => DataFrame)] = Seq(
    ("kcore_peel", Seq("kcore_peel"), () => undirected(dup01),
      t => Components.kCorePeel(undirected(dup01), 2, taskRows = t)),
    ("ktruss_peel", Seq("ktruss_peel"), () => dup01,
      t => Components.kTruss(dup01, 3, taskRows = t)),
    ("core_numbers_levels and core_numbers_peel", Seq("core_numbers_levels", "core_numbers_peel"),
      () => undirected(dup01),
      t => Components.coreNumbers(undirected(dup01), Fixpoint.Uncapped, Fixpoint.Uncapped, t)))

  for ((name, probes, gen, run) <- sized)
    test(s"$name: taskRows n - 1, n and n + 1 give equal rows and records on sf0.01's dup graph") {
      val g = gen() // builds the staged dup graph first
      val (n, countJobs) = jobsOf(g.count())
      assert(n > 0, "the dup graph is empty")
      val runs = Seq(n - 1, n, n + 1).map { t =>
        BoundProbe.clear()
        val (out, jobs) = jobsOf(run(t))
        (out.collect().toSeq.map(_.toString).sorted, probes.map(BoundProbe.maxUsed), jobs)
      }
      val (distributed, inTask) = (runs.head, runs.tail)
      assert(distributed._2.forall(_.nonEmpty), s"no record: ${distributed._2}")
      for (r <- inTask) {
        assert(r._1 == distributed._1, "in-task rows differ from the distributed loop's")
        assert(r._2 == distributed._2, s"records ${r._2} vs ${distributed._2}")
        // the generation's count, then the one in-task job
        assert(r._3 == countJobs + 1, s"the in-task path started ${r._3} jobs")
      }
      assert(distributed._3 > countJobs + 1, s"the distributed path started ${distributed._3} jobs")
    }

  test("ktruss_peel: a repeated edge multiplies its triangles on both paths, as the joins do") {
    // (1,2) twice: the triangle 1→2→3 closed by 1→3 has 2 join rows
    val es = Seq((1L, 2L), (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val want = Seq(Row(1L, 2L, 2L), Row(1L, 2L, 2L), Row(1L, 3L, 2L), Row(2L, 3L, 2L))
    for (taskRows <- Seq(Fixpoint.TaskRows, 0L))
      assert(Components.kTruss(es, 3, taskRows = taskRows).orderBy("src", "dst")
        .collect().toSeq == want, s"taskRows $taskRows")
  }

  /** A corpus whose similarity to vector 0 rises along the path
    * 1 → 2 → … → m, with its adjacency: from entry 1, hop h admits
    * exactly node h + 1. */
  private def risingPath(m: Int): (DataFrame, DataFrame) = {
    val e = ((0L, Seq(1.0, 0.0)) +: (1 to m).map(i => (i.toLong, Seq(i.toDouble, 1.0))))
      .toDF("id", "v")
    (e, (1 until m).map(i => (i.toLong, i + 1L)).toDF("src", "dst"))
  }

  test("graph_beam_search: a path of GsHops hops converges and records them; one more hop throws") {
    val hops = ops.Vector.GsHops
    def search(m: Int): DataFrame = {
      val (e, adj) = risingPath(m)
      ops.Vector.gsBeam(e, adj, e.filter(col("id") === 0L).select(col("v").as("qv")),
        Seq(1L).toDF("id"), 24, "graph_beam_search")._1
    }
    BoundProbe.clear()
    assert(rows(search(hops).select("id", "eh")) ==
      (1 to hops).map(i => Row(i.toLong, i - 1)).toSet)
    assert(BoundProbe.maxUsed("graph_beam_search").contains((hops, hops)))
    val ex = intercept[IllegalArgumentException](search(hops + 1))
    assert(ex.getMessage.contains("graph_beam_search"), ex.getMessage)
  }

  test("the keyed beam is the unkeyed one: ann_graph_search_batch's probe 0 is ann_graph_search's top 3") {
    val top3 = SparkEntry.queries("ann_graph_search")(spark, sf)
      .filter(col("rank") <= 3).orderBy("rank")
      .select("vec_id", "sim").collect().toSeq
    val probe0 = SparkEntry.queries("ann_graph_search_batch")(spark, sf)
      .filter(col("probe_id") === 0L).orderBy("rk")
      .select("vec_id", "sim").collect().toSeq
    assert(probe0.size == 3 && probe0 == top3, s"$probe0 vs $top3")
  }

  test("uncapped loops record their rounds: min-label on a 4-path takes 4") {
    BoundProbe.clear()
    val lbl = Components.minLabel(undirected(path4))
    assert(rows(lbl) == (1L to 4L).map(v => Row(v, 1L)).toSet)
    assert(BoundProbe.maxUsed("min_label").contains((4, Fixpoint.Uncapped)))
  }
}
