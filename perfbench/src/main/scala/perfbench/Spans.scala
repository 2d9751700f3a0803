package perfbench

/** A timed interval at a layer boundary; `parent` is the id of the span
  * that caused it (-1 for a root). Times are epoch nanoseconds. */
final case class Span(id: Int, parent: Int, layer: String, name: String, query: String,
                      start: Long, end: Long)

object Spans {
  /** Self time per layer, in ns, of the tree under `root`. A span's self
    * time is its duration minus the part of it that its children cover.
    * Children are clipped to their parent; where siblings overlap, each
    * instant is counted once, for the deepest span active then (the
    * latest-started on a tie). The values therefore sum to the root's
    * duration exactly. */
  def selfTimes(spans: Seq[Span], root: Int): Map[String, Long] = {
    val byParent = spans.groupBy(_.parent)
    // (span, depth, clipped start, clipped end), parents before children
    val tree = Vector.newBuilder[(Span, Int, Long, Long)]
    def walk(s: Span, depth: Int, lo: Long, hi: Long): Unit = {
      val (a, b) = (math.max(lo, s.start), math.min(hi, s.end))
      if (a < b) {
        tree += ((s, depth, a, b))
        byParent.getOrElse(s.id, Nil).foreach(walk(_, depth + 1, a, b))
      }
    }
    spans.find(_.id == root).foreach(r => walk(r, 0, r.start, r.end))
    val nodes = tree.result()
    val cuts = nodes.flatMap(n => Seq(n._3, n._4)).distinct.sorted
    val self = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    cuts.iterator.sliding(2).withPartial(false).foreach { case Seq(a, b) =>
      val active = nodes.filter(n => n._3 <= a && n._4 >= b)
      if (active.nonEmpty) {
        val top = active.maxBy(n => (n._2, n._3, n._1.id))
        self(top._1.layer) += b - a
      }
    }
    self.toMap
  }

  /** Total length of the union of `intervals` clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => a < b }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }
}
