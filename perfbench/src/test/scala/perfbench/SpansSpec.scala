package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  private def s(id: Int, parent: Int, layer: String, a: Long, b: Long) =
    Span(id, parent, layer, layer, "q", a, b)

  test("self time is duration minus the part children cover") {
    val spans = Seq(
      s(0, -1, "query", 0, 100),
      s(1, 0, "operators", 0, 40),
      s(2, 0, "catalyst", 40, 50),
      s(3, 0, "action", 50, 100),
      s(4, 3, "scheduler", 60, 90),
      s(5, 4, "executor", 65, 85))
    val self = Spans.selfTimes(spans, 0)
    assert(self == Map("operators" -> 40L, "catalyst" -> 10L, "action" -> 20L,
      "scheduler" -> 10L, "executor" -> 20L))
    assert(self.values.sum == 100L)
  }

  test("overlapping siblings count each instant once, for the later one") {
    val spans = Seq(
      s(0, -1, "query", 0, 100),
      s(1, 0, "action", 0, 100),
      s(2, 1, "scheduler", 10, 60),
      s(3, 1, "scheduler", 40, 80))
    val self = Spans.selfTimes(spans, 0)
    assert(self == Map("action" -> 30L, "scheduler" -> 70L))
    assert(self.values.sum == 100L)
  }

  test("children are clipped to their parent, and self times sum to the root") {
    val spans = Seq(
      s(0, -1, "query", 100, 200),
      s(1, 0, "operators", 90, 150), // starts before the root (ms-stamped job)
      s(2, 1, "scheduler", 140, 170), // ends after its parent
      s(3, 0, "action", 150, 200),
      s(9, -1, "query", 0, 1000)) // another query's root is ignored
    val self = Spans.selfTimes(spans, 0)
    assert(self == Map("operators" -> 40L, "scheduler" -> 10L, "action" -> 50L))
    assert(self.values.sum == 100L)
  }

  test("a root without children is all self time") {
    assert(Spans.selfTimes(Seq(s(0, -1, "query", 5, 25)), 0) == Map("query" -> 20L))
  }

  test("covered is the length of the union within the window") {
    assert(Spans.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0, 100) == 30L)
    assert(Spans.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 8, 35) == 17L)
    assert(Spans.covered(Nil, 0, 100) == 0L)
  }
}
