package graft.graph

import org.apache.spark.sql.DataFrame

/** The driver side of a superstep loop, written once: the round
  * counter, the loud round cap, exactly one driver `count()` per round
  * and the [[graft.tools.BoundProbe]] record of the rounds used.
  *
  * A round builds its generation (through `GenSnap.snap`, a lazy
  * `localCheckpoint`) and hands back the frame to count: the generation
  * itself or a filter over it. That count is the round's one driver
  * action over the generation; as a full scan it materializes the lazy
  * checkpoint and truncates the lineage, so plan depth stays O(1)
  * however many rounds run.
  *
  * The cap is a contract with an oracle unroll or a convergence
  * argument, never a silent truncation: past it the loop throws an
  * `IllegalArgumentException` naming the kernel.
  */
private[graft] object Fixpoint {

  /** The cap of a loop that has no unroll or depth bound to honour. */
  val Uncapped: Int = Int.MaxValue

  /** One round's outcome.
    *
    * @param counted the frame whose driver count decides the round.
    * @param done    the stop rule on that count: by default, empty.
    * @param advance runs with the count when the loop goes on, after
    *                the cap check and before the next round. */
  final case class Round(counted: DataFrame, done: Long => Boolean = _ == 0L,
                         advance: Long => Unit = _ => ())

  /** Runs rounds 1, 2, … of `round` until one is `done`; returns and
    * records the rounds used.
    *
    * @param kernel     the BoundProbe name, also named by the cap's
    *                   failure.
    * @param cap        the most rounds the loop may use.
    * @param countsLast whether the round that proves convergence counts.
    *                   When it does, round `cap + 1` throws before it
    *                   starts; when it does not, a live round past `cap`
    *                   throws once its count shows it live.
    * @param init       a frame counted before round 1: when it is empty,
    *                   no round runs.
    * @param hint       what the cap's failure tells the caller to do. */
  def run(kernel: String, cap: Int = Uncapped, countsLast: Boolean = true,
          init: Option[DataFrame] = None, hint: String = "raise the bound")(
      round: Int => Round): Int = {
    def within(r: Int): Unit =
      require(r <= cap, s"$kernel still live after $cap rounds — $hint")
    var r = 0
    var live = init.forall(_.count() > 0L)
    while (live) {
      r += 1
      if (countsLast) within(r)
      val step = round(r)
      val n = step.counted.count()
      live = !step.done(n)
      if (live) {
        if (!countsLast) within(r)
        step.advance(n)
      }
    }
    val used = if (countsLast || r == 0) r else r - 1
    graft.tools.BoundProbe.record(kernel, used, cap)
    used
  }
}
