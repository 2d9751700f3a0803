package graft

/** Bench's harness invariants: a throwing query is recorded as an
  * error, never a plausible timing (excluded from the timings map AND
  * the total), and each query's ledger record holds exactly its own
  * jobs, its error and every pass it ran in. These tests drive Bench's
  * real runPass/merge/renderJson/renderLedger with toy and deliberately
  * broken queries. */
class BenchSpec extends SparkSpec {
  import Bench.{QTime, Measurement0}
  import org.apache.spark.sql.DataFrame

  private val qs: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] = Seq(
    "ok_query" -> ((s, dir) => s.read.parquet(s"$dir/region.parquet")),
    // throws PATH_NOT_FOUND during schema inference — a real failure mode
    // (count() would prune a deliberately-failing projected column away)
    "broken_query" -> ((s, dir) => s.read.parquet(s"$dir/__deliberately_missing__.parquet"))
  )

  test("runPass records a throwing query as err, not a silent timing") {
    val pass = Bench.runPass(spark, sf, qs)
    val byName = pass.map(q => q.name -> q).toMap
    assert(byName("ok_query").err.isEmpty)
    assert(byName("broken_query").err.isDefined,
      "a throwing query must carry an error in the pass result")
    assert(byName("broken_query").err.get.nonEmpty)
  }

  test("merge propagates an error from ANY pass (no hiding behind a lucky pass)") {
    val p1 = Seq(QTime("q", 1.0, None))
    val p2 = Seq(QTime("q", 0.5, Some("boom")))
    val p3 = Seq(QTime("q", 0.7, None))
    val merged = Bench.merge(Seq(p1, p2, p3))
    assert(merged.head.err.contains("boom"))
    assert(merged.head.sec == 0.5) // min still carried for diagnostics
  }

  test("renderJson surfaces errors loudly and excludes them from timings/total") {
    val m = Measurement0(
      results = Seq(QTime("good_q", 2.0, None), QTime("bad_q", 9.9, Some("SparkException: deliberate"))),
      wallTimed = 12.0, passTotals = Seq(4.0, 4.0, 4.0), skew = 1.0,
      otherCpuCores = 0.0, loadStart = 0.1, loadEnd = 0.2, tainted = false,
      storageMb = 0L, storageDiskMb = 0L)
    val json = Bench.renderJson(m, "/tmp/sf", attempts = 1)
    assert(json.contains(""""errors":1"""), json)
    assert(json.contains(""""bad_q":"SparkException: deliberate""""), json)
    // the broken query's time-to-failure must NOT appear as a timing
    assert(!json.contains(""""bad_q":9.9""") && !json.contains(""""bad_q":9.900"""), json)
    assert(json.contains(""""value":2.000"""), "total must cover only ok queries: " + json)
    assert(json.contains(""""timed":1"""), json)
    // errors fields appear BEFORE the queries map so stdout-tail
    // truncation loses timings, never the failure signal
    assert(json.indexOf(""""errors":""") < json.indexOf(""""queries":"""), json)
  }

  test("renderJson with zero errors keeps the legacy shape (errors:0, all queries timed)") {
    val m = Measurement0(
      results = Seq(QTime("a", 1.0, None), QTime("b", 3.0, None)),
      wallTimed = 12.0, passTotals = Seq(4.0, 4.0, 4.0), skew = 1.0,
      otherCpuCores = 0.0, loadStart = 0.1, loadEnd = 0.2, tainted = false,
      storageMb = 5L, storageDiskMb = 0L)
    val json = Bench.renderJson(m, "/tmp/sf", attempts = 1)
    assert(json.contains(""""errors":0"""))
    assert(json.contains(""""value":4.000"""))
    assert(json.contains(""""a":1.000""") && json.contains(""""b":3.000"""))
    assert(json.contains(""""tainted":false"""))
    assert(json.contains(""""storage_ok":true"""))
  }

  test("per-query taint: one noisy pass stays untainted when minima corroborate") {
    // VERDICT-r15 task 2: the shipped r15 artifact burned all 3 attempts
    // on PASS-level dispersion (totals [273.0, 310.6, 213.3], 1.456 >
    // 1.25) while per-query best-of-3 was sound. Under per-query
    // corroboration, a query whose pass 2 ran 1.5× slow is still
    // corroborated by passes 1 and 3 agreeing — no taint, no re-timing.
    assert(Bench.corroborated(Seq(1.00, 1.50, 1.02)),
      "one noisy pass with two agreeing passes must corroborate")
    // the whole-pass noisy shape: EVERY query slow in pass 2, fine
    // elsewhere — still corroborated per query
    assert(Bench.corroborated(Seq(4.0, 6.2, 4.1)))
    // a genuinely uncorroborated minimum — a ≥2× gap is a cached-result
    // or measurement fluke, not box variance
    assert(!Bench.corroborated(Seq(1.00, 2.10, 2.30)),
      "a minimum no other pass comes near must demand re-timing")
    // ...converges once a targeted re-time lands near the minimum
    assert(Bench.corroborated(Seq(1.00, 2.10, 2.30, 1.31)))
    // scheduling-latency-bound graph queries on the shared box: second
    // smallest inside the documented ±30-50% single-pass swing — honest
    // best-of, must not demand re-timing
    assert(Bench.corroborated(Seq(4.2, 4.9, 5.6)))
    assert(Bench.corroborated(Seq(1.7, 2.4, 2.5)))
    // micro-queries: absolute slack keeps sub-100 ms jitter from
    // demanding pointless re-timing
    assert(Bench.corroborated(Seq(0.030, 0.060, 0.070)))
    // pass dispersion survives as an annotation
    assert(Bench.passDispersion(Seq(273.0, 310.6, 213.3)) > Bench.DispersionThreshold)
  }

  test("renderJson names the unconverged queries of a tainted artifact") {
    val m = Measurement0(
      results = Seq(QTime("a", 1.0, None)),
      wallTimed = 3.0, passTotals = Seq(1.0, 1.4, 1.3), skew = 1.2,
      otherCpuCores = 0.0, loadStart = 0.1, loadEnd = 0.2, tainted = true,
      storageMb = 0L, storageDiskMb = 0L,
      requeried = 3, unconverged = Seq("a"))
    val json = Bench.renderJson(m, "/tmp/sf", attempts = 3)
    assert(json.contains(""""requeried":3"""), json)
    assert(json.contains(""""unconverged":["a"]"""), json)
    assert(json.contains(""""tainted":true"""), json)
  }

  test("renderJson itemizes the top retained RDDs on a budget breach") {
    val m = Measurement0(
      results = Seq(QTime("a", 1.0, None)),
      wallTimed = 3.0, passTotals = Seq(1.0, 1.0, 1.0), skew = 1.0,
      otherCpuCores = 0.0, loadStart = 0.1, loadEnd = 0.2, tainted = false,
      storageMb = Bench.StorageBudgetMb + 50, storageDiskMb = 0L,
      storageTop = Seq(("In-memory table dup_pairs", 120L), ("rdd_42", 90L)))
    val json = Bench.renderJson(m, "/tmp/sf", attempts = 1)
    assert(json.contains(""""storage_ok":false"""), json)
    assert(json.contains(""""storage_top":{"In-memory table dup_pairs":120,"rdd_42":90}"""), json)
    // within budget → no itemization noise on the line
    val ok = m.copy(storageMb = 5L, storageTop = Nil)
    assert(!Bench.renderJson(ok, "/tmp/sf", attempts = 1).contains("storage_top"))
  }

  test("renderJson carries pass_dispersion for the artifact reader") {
    val m = Measurement0(
      results = Seq(QTime("a", 1.0, None)),
      wallTimed = 3.0, passTotals = Seq(1.0, 1.3, 1.0), skew = 1.1,
      otherCpuCores = 0.0, loadStart = 0.1, loadEnd = 0.2, tainted = true,
      storageMb = 0L, storageDiskMb = 0L)
    val json = Bench.renderJson(m, "/tmp/sf", attempts = 2)
    assert(json.contains(""""pass_dispersion":1.300"""), json)
    assert(json.contains(""""tainted":true"""), json)
  }

  test("renderJson flags a storage-budget breach") {
    val m = Measurement0(
      results = Seq(QTime("a", 1.0, None)),
      wallTimed = 3.0, passTotals = Seq(1.0, 1.0, 1.0), skew = 1.0,
      otherCpuCores = 0.0, loadStart = 0.1, loadEnd = 0.2, tainted = false,
      storageMb = Bench.StorageBudgetMb + 1, storageDiskMb = 0L)
    assert(Bench.renderJson(m, "/tmp/sf", attempts = 1)
      .contains(""""storage_ok":false"""))
  }

  test("each query's ledger record holds exactly its own jobs") {
    val toy: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] = Seq(
      "lean" -> ((s, _) => s.range(10).toDF()),
      // two more jobs while the frame is built, before its count
      "busy" -> ((s, _) => { s.range(5).collect(); s.range(6).collect(); s.range(7).toDF() }))
    val expected = toy.map { case (n, fn) => n -> jobsInGroup(fn(spark, sf).count()) }.toMap
    assert(expected("lean") > 0 && expected("busy") > expected("lean"), expected)
    val pass = Bench.runPass(spark, sf, toy)
    for (q <- pass) {
      assert(q.c.jobs == expected(q.name), s"${q.name}: ${q.c} vs ${expected(q.name)} jobs")
      assert(q.c.stages > 0 && q.c.tasks >= q.c.stages && q.c.top.nonEmpty, q.c)
    }
  }

  test("the ledger carries a thrown query's error on its record") {
    val pass = Bench.runPass(spark, sf, qs)
    val lines = Bench.renderLedger(Seq(Bench.Pass("timed", pass)), Nil, Nil).linesIterator.toSeq
    def record(q: String) = lines.find(_.startsWith(s"""{"query":"$q",""")).get
    val err = pass.find(_.name == "broken_query").get.err.get
    assert(record("broken_query").contains(s""""err":"$err","""), record("broken_query"))
    assert(record("ok_query").contains(""""err":null,"""), record("ok_query"))
  }

  test("renderLedger writes a record per query per pass, then residents and bounds") {
    val top = Seq(Bench.Stage(7, 120L, 4, "Exchange | Scan parquet"))
    def pass(kind: String, sec: Double) = Bench.Pass(kind, Seq(
      QTime("a", sec, None, Bench.Counters(jobs = 3, stages = 4, tasks = 9, top = top)),
      QTime("b", sec, Some("SparkException: deliberate"))))
    val passes = pass("warmup", 2.0) +: Seq(1.0, 1.1, 1.2).map(pass("timed", _))
    val lines = Bench.renderLedger(passes,
      Seq(Bench.Resident("MapPartitionsRDD[3] at count at X.scala:1", 2048L, 0L)),
      Seq(("min_label", 9, Int.MaxValue))).linesIterator.toSeq
    assert(lines.size == 4 * 2 + 1 + 1, lines.mkString("\n"))
    for (q <- Seq("a", "b")) {
      val recs = lines.filter(_.startsWith(s"""{"query":"$q","""))
      assert(recs.map(_.replaceAll(""".*"pass":(\d+),"kind":"(\w+)".*""", "$1 $2")) ==
        Seq("0 warmup", "1 timed", "2 timed", "3 timed"), recs)
    }
    assert(lines.head == """{"query":"a","pass":0,"kind":"warmup","sec":2.000,"err":null,""" +
      """"jobs":3,"stages":4,"tasks":9,"shuffle_read":0,"shuffle_write":0,"exec_run_ms":0,""" +
      """"exec_cpu_ms":0,"gc_ms":0,"top_stages":[{"stage":7,"run_ms":120,"tasks":4,""" +
      """"scopes":"Exchange | Scan parquet"}]}""")
    assert(lines(8) == """{"resident":"MapPartitionsRDD[3] at count at X.scala:1","mem_bytes":2048,"disk_bytes":0}""")
    assert(lines(9) == """{"kernel":"min_label","used":9,"bound":2147483647}""")
  }
}
