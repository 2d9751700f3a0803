package graft

import graft.graph.{Components, Fixpoint}
import graft.tools.BoundProbe
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The superstep driver [[Fixpoint]] and every capped kernel on it, at
  * the boundary of its round cap: each kernel runs on a hand-built path
  * graph whose round count n is known, and must give the loose-cap
  * result with cap n (recording n rounds used) and throw, naming its
  * BoundProbe record, with cap n − 1. */
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

  /** (BoundProbe name, known rounds n, the kernel run at a cap). */
  private val capped: Seq[(String, Int, Int => Set[Row])] = Seq(
    // layers rise by one hop per round: 3 relaxing rounds + 1 quiet one
    ("dag_layers", 4, cap => rows(Components.dagLayers(nodesOf(path4), path4, cap))),
    // one new vertex per hop, then the empty frontier
    ("reachable_from", 4, cap =>
      rows(Components.reachableFrom(Seq(1L).toDF("id"), path4, cap))),
    // every vertex of a directed path is its own SCC, peeled one a round
    ("scc_coloring", 3, cap => {
      val de = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
      rows(Components.sccColoring(nodesOf(de), de, cap)._1)
    }),
    // the 2-core of a path is empty: ends {1,5}, then {2,4}, then nothing
    ("kcore_peel", 3, cap => {
      val p5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
      rows(Components.kCorePeel(undirected(p5), 2, cap))
    }),
    ("multi_bfs", 4, cap =>
      rows(Components.multiBfs(undirected(path4), Seq(1L), cap))),
    ("multi_bfs_counts", 4, cap =>
      rows(Components.multiBfsCounts(undirected(path4), Seq(1L), cap))),
    // priorities order 4 < 1 < 3 in round 1 on the path 4–1–3: round 1
    // takes 4 and drops 1, round 2 takes the isolated 3
    ("mis_luby", 2, cap => {
      val de = Seq((4L, 1L), (1L, 3L)).toDF("src", "dst")
      rows(Components.misLuby(nodesOf(de), undirected(de), cap)._1)
    }),
    ("weighted_sssp", 4, cap => {
      val w = undirected(path4).withColumn("w", lit(1L))
      rows(Components.minDist(w, 1L, cap))
    }),
    // light edges 1–2 and 3–4 join in round 1, the heavy 2–3 in round 2;
    // the pick-less third round does not count
    ("mst_boruvka", 2, cap => {
      val w = Seq((1L, 2L, 1L), (2L, 3L, 5L), (3L, 4L, 1L)).toDF("src", "dst", "w")
      val ue = w.union(w.select(col("dst"), col("src"), col("w")))
      rows(Components.boruvkaMst(ue, cap)._1)
    }))

  for ((name, n, run) <- capped)
    test(s"$name: cap n gives the loose-cap result and records n; cap n - 1 throws") {
      BoundProbe.clear()
      val loose = run(n + 4)
      assert(BoundProbe.maxUsed(name).contains((n, n + 4)))
      BoundProbe.clear()
      assert(run(n) == loose)
      assert(BoundProbe.maxUsed(name).contains((n, n)))
      val ex = intercept[IllegalArgumentException](run(n - 1))
      assert(ex.getMessage.contains(name), ex.getMessage)
    }

  test("uncapped loops record their rounds: min-label on a 4-path takes 4") {
    BoundProbe.clear()
    val lbl = Components.minLabel(undirected(path4))
    assert(rows(lbl) == (1L to 4L).map(v => Row(v, 1L)).toSet)
    assert(BoundProbe.maxUsed("min_label").contains((4, Fixpoint.Uncapped)))
  }
}
