package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail is the highest sample with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Some((90.0, 90.0)))
    val (v, p) = Stats.tail(scala.util.Random.shuffle(xs)).get
    assert(xs.count(_ > v) == 10)
    assert(p == 90.0)
  }

  test("tail keeps exactly 10 samples beyond it at any sample count") {
    for (n <- 11 to 60) {
      val xs = (1 to n).map(_.toDouble)
      val (v, p) = Stats.tail(xs).get
      assert(xs.count(_ > v) == 10, s"n=$n")
      assert(math.abs(p - 100.0 * (n - 10) / n) < 1e-9)
    }
  }

  test("no tail without more than 10 samples") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9 * math.max(1.0, math.abs(b))

  // three queries of very different cost, 16 samples each, evenly
  // spread over +-10 % around the median
  private def spread(width: Double) = (0 until 16).map(i => 1 - width + 2 * width * i / 15)
  private val jitter = spread(0.1)
  private def runs(costs: Map[String, Double]) = costs.map { case (q, c) => q -> jitter.map(_ * c) }
  private val base = Map("a" -> 0.5, "b" -> 1.0, "c" -> 2.0)

  test("typical latency is the geometric mean of the per-query medians") {
    val (typical, _, _) = Stats.latency(runs(base)).get
    assert(close(typical, 1.0))
  }

  test("a slow-down confined to one query moves both latency figures") {
    val (t0, tail0, _) = Stats.latency(runs(base)).get
    val (t1, tail1, _) = Stats.latency(runs(base.updated("c", 2.0 * 1.331))).get
    assert(close(t1 / t0, 1.1))
    assert(close(tail1 / tail0, 1.1))
  }

  test("more jitter in one query raises the tail and not the typical latency") {
    val quiet = runs(base)
    val noisy = quiet.updated("a", spread(0.5).map(_ * 0.5))
    val (t0, tail0, _) = Stats.latency(quiet).get
    val (t1, tail1, _) = Stats.latency(noisy).get
    assert(close(t0, t1))
    assert(tail1 > tail0)
  }

  test("latency tail keeps 10 rescaled samples beyond it") {
    val (typical, tail, p) = Stats.latency(runs(base)).get
    assert(p == 100.0 * 38 / 48)
    assert(tail >= typical)
    assert(Stats.latency(Map("a" -> Seq(1.0, 2.0))).isEmpty)
    assert(Stats.latency(Map.empty).isEmpty)
  }
}
