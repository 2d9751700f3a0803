package perfbench

/** Order statistics the benchmark reports. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of no samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The highest sample that still has at least `beyond` samples above it
    * in sorted order, with the percentile it sits at: (value, percent).
    * None when there are not more than `beyond` samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val s = xs.sorted; val n = s.size
    if (n <= beyond) None
    else Some((s(n - 1 - beyond), 100.0 * (n - beyond) / n))
  }

  /** Latencies of a workload whose queries differ in cost, summarised so
    * that every query counts: (typical, tail, tail percent).
    *  - typical: the geometric mean over queries of each query's median
    *    latency, so a change to any one query moves it;
    *  - tail: each sample is rescaled to typical × sample ÷ its query's
    *    median, which puts every query's spread on one scale, and the
    *    tail above is taken over the rescaled samples.
    * None when there are no samples or not more than `beyond`. */
  def latency(byQuery: Map[String, Seq[Double]], beyond: Int = 10): Option[(Double, Double, Double)] = {
    val meds = byQuery.filter(_._2.nonEmpty).map { case (q, xs) => q -> median(xs) }
    if (meds.isEmpty) None
    else {
      val typical = geomean(meds.values.toSeq)
      val scaled = byQuery.toSeq.flatMap { case (q, xs) => xs.map(_ / meds(q) * typical) }
      tail(scaled, beyond).map { case (v, p) => (typical, v, p) }
    }
  }
}
