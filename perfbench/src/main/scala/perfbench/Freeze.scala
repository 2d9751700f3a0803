package perfbench

import org.apache.spark.sql.perfbench.Internal

/** Classifies every engine query and records its expected result: two
  * laps in one session (cold, then warm), each query called and
  * fingerprinted as the benchmark does it. Writes `queries.tsv`: per
  * query its class (by warm-lap job count: at most 4 `short`, at least 20
  * `iterative`, else `medium`), job counts and walls of both laps, the
  * warm fingerprint, the check kind (`hash`, or `rows` for a query without
  * an exact oracle) and any error.
  *
  * Usage: Freeze <data dir> <out.tsv> <work dir> [query,query,...] */
object Freeze {
  def main(args: Array[String]): Unit = {
    val (dir, out, work) = (args(0), args(1), args(2))
    val names = args.lift(3).map(_.split(",").toSeq).getOrElse(Engine.allQueries)
    val spark = Engine.session(Runtime.getRuntime.availableProcessors, s"$work/local")
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    def lap(tag: String): Map[String, (Int, Double, String, String)] = names.map { n =>
      val key = s"$tag/$n"
      spark.sparkContext.setLocalProperty(Trace.QueryKey, key)
      val t0 = System.nanoTime()
      val (fp, err) =
        try { (Fingerprint.of(Engine.query(n)(spark, dir)).toString, "") }
        catch { case t: Throwable => ("", t.getClass.getSimpleName) }
      val sec = (System.nanoTime() - t0) / 1e9
      Internal.drainListeners(spark.sparkContext)
      val j = tracer.synchronized(tracer.jobs.values.count(_.query == key))
      System.err.println(f"[freeze] $tag $n jobs=$j sec=$sec%.3f $err")
      n -> (j, sec, fp, err)
    }.toMap
    val cold = lap("cold")
    val warm = lap("warm")
    val rowsOnly = Engine.rowsOnly
    val header = "query\tclass\twarm_jobs\twarm_s\tcold_jobs\tcold_s\tfingerprint\tcheck\terror"
    val rows = names.map { n =>
      val (wj, ws, wf, we) = warm(n); val (cj, cs, cf, ce) = cold(n)
      val cls = if (wj <= 4) "short" else if (wj >= 20) "iterative" else "medium"
      val err = Seq(we, ce, if (wf != cf) "cold fingerprint differs" else "").find(_.nonEmpty).getOrElse("")
      Seq(n, if (err.nonEmpty) "excluded" else cls, wj, f"$ws%.4f", cj, f"$cs%.4f", wf,
        if (rowsOnly(n)) "rows" else "hash", err).mkString("\t")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), (header +: rows).mkString("", "\n", "\n"))
    spark.stop()
  }
}
