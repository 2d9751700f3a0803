package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.graft.GenSnap
import org.apache.spark.util.CollectionAccumulator

/** The driver side of a superstep loop, written once: the round
  * counter, the loud round cap, exactly one driver `count()` per round
  * and the [[graft.tools.BoundProbe]] record of the rounds used.
  *
  * A round builds its generation (through `GenSnap.snap`, a lazy
  * `localCheckpoint`) and hands back the frame to count: the generation
  * itself or a filter over it. That count is the round's one driver
  * action over the generation; as a full scan it materializes the lazy
  * checkpoint and truncates the lineage, so plan depth stays O(1)
  * however many rounds run. One count is not one job: over a generation
  * of more than one partition, `count()` plans a partial count, an
  * exchange and a final count, and AQE runs the exchange's map stage as
  * a job of its own before the result job, so a distributed round costs
  * at least two jobs. In the Bench ledger every stage is its own job:
  * `graph_weighted_sssp` at sf0.1 runs 8 rounds in 52 jobs of 52
  * stages per warm pass. The in-task path's count reads one partition,
  * needs no exchange and is one job.
  *
  * A fixpoint whose measured generation has at most [[TaskRows]] rows
  * runs instead as one executor task ([[inTask]]): the kernel's rounds
  * are a plain Scala loop over the generation's rows, and the whole
  * remaining fixpoint costs one job, the count of its snapped output.
  * The task returns only its round counts (through an accumulator); no
  * row goes to the driver. The driver then applies the same caps, with
  * the same failure, and writes the same BoundProbe records as [[run]].
  * The size comes from a count the kernel already takes, so choosing
  * the path starts no job. Above `TaskRows` the distributed loop runs,
  * and it is the only one that scales.
  *
  * The cap is a contract with an oracle unroll or a convergence
  * argument, never a silent truncation: past it the loop throws an
  * `IllegalArgumentException` naming the kernel.
  */
private[graft] object Fixpoint {

  /** The cap of a loop that has no unroll or depth bound to honour. */
  val Uncapped: Int = Int.MaxValue

  /** The most generation rows a fixpoint runs in one executor task. */
  val TaskRows: Long = 1L << 16

  /** One round's outcome.
    *
    * @param counted the frame whose driver count decides the round.
    * @param done    the stop rule on that count: by default, empty.
    * @param advance runs with the count when the loop goes on, after
    *                the cap check and before the next round. */
  final case class Round(counted: DataFrame, done: Long => Boolean = _ == 0L,
                         advance: Long => Unit = _ => ())

  private val RaiseBound = "raise the bound"

  /** Fails the loop of `kernel` past its cap. */
  private def within(kernel: String, used: Int, cap: Int, hint: String): Unit =
    require(used <= cap, s"$kernel still live after $cap rounds — $hint")

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
          init: Option[DataFrame] = None, hint: String = RaiseBound)(
      round: Int => Round): Int = {
    var r = 0
    var live = init.forall(_.count() > 0L)
    while (live) {
      r += 1
      if (countsLast) within(kernel, r, cap, hint)
      val step = round(r)
      val n = step.counted.count()
      live = !step.done(n)
      if (live) {
        if (!countsLast) within(kernel, r, cap, hint)
        step.advance(n)
      }
    }
    val used = if (countsLast || r == 0) r else r - 1
    graft.tools.BoundProbe.record(kernel, used, cap)
    used
  }

  /** The rest of a fixpoint over `gen` as one executor task: `loop`
    * gets all of `gen`'s rows and returns its output rows and, in the
    * order the distributed loops would record them, each kernel's
    * rounds used. A loop stops once a kernel uses more rounds than its
    * cap in `caps`, reporting that count. The output is snapped and
    * counted: that count is the one job. Then, on the driver, each
    * report is checked against its cap as [[run]] checks it and
    * recorded in BoundProbe.
    *
    * @param columns the output's column names. */
  def inTask[T, U: Encoder](gen: Dataset[T], caps: Map[String, Int],
                            columns: Seq[String])(
      loop: Iterator[T] => (Iterator[U], Seq[(String, Int)])): DataFrame = {
    val reports = new CollectionAccumulator[Seq[(String, Int)]]
    gen.sparkSession.sparkContext.register(reports)
    val out = gen.coalesce(1).mapPartitions { rows =>
      val (res, used) = loop(rows)
      reports.add(used)
      res
    }.toDF(columns: _*).transform(GenSnap.snap)
    out.count()
    for ((kernel, used) <- reports.value.get(0)) {
      within(kernel, used, caps(kernel), RaiseBound)
      graft.tools.BoundProbe.record(kernel, used, caps(kernel))
    }
    out
  }
}
