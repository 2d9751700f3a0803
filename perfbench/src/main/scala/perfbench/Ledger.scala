package perfbench

import java.nio.file.{Files, Paths}

/** Per-query, per-layer accounting of a traced phase. Each run becomes a
  * span tree: the query root; its `build` (operators), `plan` (catalyst)
  * and `action` children, timed by the benchmark around its own calls;
  * the Spark jobs the query started, under whichever of those three was
  * running when the job started; and each job's stages. */
final class Ledger(tracer: Tracer, runs: Seq[Run], origin: Long) {
  private val Ms = 1000000L
  private val jobsOf = tracer.jobs.values.toSeq.groupBy(_.query)
  private val stagesOf = tracer.stages.values.toSeq.filter(s => s.submitted >= 0 && s.completed >= 0)
    .groupBy(_.job)

  private val trees: Seq[(Run, Seq[Span])] = {
    var next = 0
    def id(): Int = { next += 1; next - 1 }
    runs.map { r =>
      val root = Span(id(), -1, "query", r.name, r.id, r.start, r.end)
      val steps = Seq(("operators", "build", r.start, r.built), ("catalyst", "plan", r.built, r.planned),
        ("action", "action", r.planned, r.end)).map { case (l, n, a, b) => Span(id(), root.id, l, n, r.id, a, b) }
      val jobs = jobsOf.getOrElse(r.id, Nil).sortBy(_.id).flatMap { j =>
        val (a, b) = (j.start * Ms, if (j.end < 0) r.end else j.end * Ms)
        val parent = steps.find(s => a < s.end).getOrElse(root)
        val js = Span(id(), parent.id, "scheduler", s"job ${j.id}", r.id, a, b)
        js +: stagesOf.getOrElse(j.id, Nil).map(s =>
          Span(id(), js.id, "executor", s"stage ${s.stageId}.${s.attempt}", r.id, s.submitted * Ms, s.completed * Ms))
      }
      (r, root +: (steps ++ jobs))
    }
  }

  /** Every quantity of one run, with its unit. */
  private def quantities(r: Run, spans: Seq[Span]): Seq[(String, Double, String)] = {
    val jobs = jobsOf.getOrElse(r.id, Nil)
    val stages = jobs.flatMap(j => stagesOf.getOrElse(j.id, Nil))
    val exec = Trace.ExecCounters.indices.map(i => stages.map(_.exec(i)).sum)
    val jobSpans = spans.filter(_.layer == "scheduler").map(s => (s.start, s.end))
    val self = Spans.selfTimes(spans, spans.head.id)
    Seq(
      ("build_s", (r.built - r.start) / 1e9, "s"),
      ("build_jobs", jobs.count(_.start * Ms < r.built).toDouble, "count"),
      ("plan_s", (r.planned - r.built) / 1e9, "s"),
      ("plan.analysis_s", r.phases.getOrElse("analysis", 0.0), "s"),
      ("plan.optimization_s", r.phases.getOrElse("optimization", 0.0), "s"),
      ("plan.planning_s", r.phases.getOrElse("planning", 0.0), "s"),
      ("action_s", (r.end - r.planned) / 1e9, "s"),
      ("jobs", jobs.size.toDouble, "count"),
      ("stages", stages.size.toDouble, "count"),
      ("job_s", jobs.filter(_.end >= 0).map(j => (j.end - j.start) / 1e3).sum, "s"),
      ("driver_gap_s", (r.end - r.start - Spans.covered(jobSpans, r.start, r.end)) / 1e9, "s"),
      ("sched_wait_s", stages.filter(_.firstLaunch < Long.MaxValue)
        .map(s => (s.firstLaunch - s.submitted) / 1e3).sum, "s")) ++
      Trace.ExecCounters.zip(exec).map { case (n, v) =>
        (n, v, if (n.endsWith("_s")) "s" else if (n.endsWith("_mb")) "MB" else "count")
      } ++
      Seq("query", "operators", "catalyst", "action", "scheduler", "executor").map(l =>
        (s"self.${l}_s", self.getOrElse(l, 0L) / 1e9, "s"))
  }

  private val perRun: Seq[(Run, Seq[(String, Double, String)])] =
    trees.map { case (r, spans) => (r, quantities(r, spans)) }

  /** Per query name, the median of each quantity over its runs. */
  private val perQuery: Map[String, Seq[(String, Double, String)]] =
    perRun.groupBy(_._1.name).map { case (n, rs) =>
      n -> rs.head._2.indices.map { i =>
        val (k, _, u) = rs.head._2(i)
        (k, Stats.median(rs.map(_._2(i)._2)), u)
      }
    }

  /** Per-layer metrics for one lap: each quantity's per-query median,
    * summed over the workload's queries. */
  def layerMetrics: Seq[(String, Double, String)] =
    perQuery.values.head.indices.map { i =>
      val (k, _, u) = perQuery.values.head(i)
      (k, perQuery.values.map(_(i)._2).sum, u)
    }

  def write(path: String, annotations: Map[String, Any]): Unit = {
    def obj(qs: Seq[(String, Double, String)]) = qs.map { case (k, v, _) => k -> v }.toMap
    val doc = Map(
      "annotations" -> annotations,
      "units" -> perRun.head._2.map { case (k, _, u) => k -> u }.toMap,
      "layers" -> obj(layerMetrics),
      "per_query" -> perQuery.map { case (n, qs) => n -> obj(qs) },
      "runs" -> perRun.map { case (r, qs) =>
        Map("id" -> r.id, "query" -> r.name, "wall_s" -> r.wall) ++ obj(qs)
      },
      "span_fields" -> Seq("id", "parent", "layer", "name", "query", "start_ns", "end_ns"),
      "spans" -> trees.flatMap(_._2).map(s =>
        Seq(s.id, s.parent, s.layer, s.name, s.query, s.start - origin, s.end - origin)))
    Files.writeString(Paths.get(path), Main.toJson(doc))
  }
}
