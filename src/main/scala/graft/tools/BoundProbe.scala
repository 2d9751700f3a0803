package graft.tools

import java.util.concurrent.ConcurrentHashMap

/** Records how much of each data-dependent iteration bound a bounded
  * kernel actually used (VERDICT-r13 task 4).
  *
  * Every unroll/depth bound in the engine (SpMaxDepth, SigmaUnroll,
  * TemporalUnroll, SCC/MIS/Borůvka round caps, k-core/k-truss peels) is
  * DATA-DEPENDENT: it can pass at sf0.01 and throw at sf0.1 — exactly
  * how graph_temporal_reach's r12 crash stayed invisible for a round
  * (CORRECTNESS runs at the small sf; the bench swallowed the throw).
  * Every `graph.Fixpoint` loop (an uncapped one with bound
  * Int.MaxValue) and every other bounded kernel calls [[record]] when
  * it drains; Sf01BoundsSpec then drives every capped kernel at sf0.1
  * and asserts the recorded usage
  * leaves documented margin under its bound, so a diameter creeping
  * toward a bound is a failing test long before it is a thrown query.
  *
  * The map keeps the MAX usage seen per kernel (worst case across call
  * sites sharing a bound is what the bound must cover). Thread-safe;
  * negligible overhead (one merge per kernel drain, driver-side).
  */
object BoundProbe {
  /** kernel -> (max rounds/levels used, the bound in force at that use). */
  private val used = new ConcurrentHashMap[String, (Int, Int)]()

  def record(kernel: String, usedRounds: Int, bound: Int): Unit =
    used.merge(kernel, (usedRounds, bound),
      (a, b) => if (b._1 > a._1) b else a)

  def maxUsed(kernel: String): Option[(Int, Int)] = Option(used.get(kernel))

  def clear(): Unit = used.clear()
}
