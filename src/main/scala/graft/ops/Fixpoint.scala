package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, lit}

/** The one driver-side round loop behind graft's iterative Spark kernels:
  * PageRank, HITS, Bellman–Ford, BFS, label propagation, dup clusters,
  * Lloyd, Markov and power iteration. A kernel supplies the round; the
  * loop owns the counter, the materialization, the convergence witness
  * and the rule at the round cap.
  *
  *   - Materialization: each round's frame is materialized with an eager
  *     `localCheckpoint(true)`, not `persist`. A persisted round still
  *     nests the whole prior chain in its logical plan, and a round that
  *     references the previous state twice (scatter join + gather, or
  *     join + union) makes analysis and plan-string rendering grow
  *     ~2^rounds: a deep chain stalls the driver long before any
  *     executor is busy (measured: a 10-node path never finished). The
  *     checkpoint truncates each round to a `LogicalRDD`, so plans stay
  *     constant-size at any round count. Eager, because the lazy form
  *     recomputes the un-materialized round through its double
  *     self-reference (measured ~2× slower on PageRank). Blocks are
  *     freed by the ContextCleaner once a round's frame is unreachable.
  *     A fault-tolerant cluster run would swap in reliable `checkpoint()`;
  *     the loop itself is restartable from its input either way.
  *   - Witness: an aggregate `Column` over the round's frame (a change
  *     count, a residual, a frontier size), attached with a named
  *     `Dataset.observe`, so it is computed inside the checkpoint's own
  *     job: a round costs no second Spark action. The checkpoint runs the
  *     observed frame's own `QueryExecution`, so its `observedMetrics`
  *     hold the witness as soon as the checkpoint returns — no listener,
  *     no wait. A round over an empty frame reads 0, never null. Not an
  *     `Observation`: registering one creates the session's
  *     `ObservationManager`, which is not serializable, and from then on
  *     any task closure that captures the session fails to serialize
  *     (spark.ml's LR model transform does, through its training summary:
  *     q27 failed after a witnessed loop had run on its session).
  *   - Stop: a witnessed loop stops after the first round whose witness
  *     is ≤ `stopAt`; an unwitnessed loop runs exactly `maxRounds`. A
  *     witnessed loop that reaches `maxRounds` without stopping either
  *     returns the capped state or, with `throwAtCap`, throws naming the
  *     loop (a partial result that would be silently wrong). */
object Fixpoint {

  /** The final state, the realized round count and every round's witness
    * (empty for an unwitnessed loop). */
  final case class Result[S](state: S, rounds: Int, witnesses: Seq[Long])

  private val WitnessName = "fixpoint_witness"

  /** Run `round` from `init` until the witness stops the loop or
    * `maxRounds` rounds ran. A round maps the current state and its
    * 1-based number to the frame this loop materializes (and observes),
    * plus the function that builds the next state from the materialized
    * frame. The state is one frame or a tuple of frames; a frame the
    * round needs that is not the witnessed one is the round's own to
    * materialize. */
  def apply[S](
      loop: String,
      maxRounds: Int,
      witness: Option[Column] = None,
      stopAt: Long = 0L,
      throwAtCap: Boolean = false)(init: S)(
      round: (S, Int) => (DataFrame, DataFrame => S)): Result[S] = {
    require(maxRounds >= 0, s"$loop: maxRounds must be >= 0, got $maxRounds")
    val witnessCol = witness.map(w => coalesce(w.cast("long"), lit(0L)).as("witness"))
    val witnesses = scala.collection.mutable.ArrayBuffer[Long]()
    var state = init
    var rounds = 0
    var stopped = false
    while (!stopped && rounds < maxRounds) {
      rounds += 1
      val (frame, next) = round(state, rounds)
      state = next(witnessCol match {
        case None => frame.localCheckpoint(true)
        case Some(w) =>
          val observed = frame.observe(WitnessName, w)
          val m = observed.localCheckpoint(true)
          val v = observed.queryExecution.observedMetrics.get(WitnessName)
            .map(_.getLong(0)).getOrElse(throw new IllegalStateException(
              s"$loop: round $rounds's checkpoint did not observe its witness"))
          witnesses += v
          stopped = v <= stopAt
          m
      })
    }
    if (throwAtCap && witness.isDefined && !stopped)
      throw new IllegalStateException(
        s"$loop did not reach its fixpoint in $maxRounds rounds; raise maxRounds")
    Result(state, rounds, witnesses.toSeq)
  }

  /** [[apply]] for a loop whose state is the materialized frame itself. */
  def frames(
      loop: String,
      maxRounds: Int,
      witness: Option[Column] = None,
      stopAt: Long = 0L,
      throwAtCap: Boolean = false)(init: DataFrame)(
      round: (DataFrame, Int) => DataFrame): Result[DataFrame] =
    apply[DataFrame](loop, maxRounds, witness, stopAt, throwAtCap)(init)(
      (s, r) => (round(s, r), identity))
}
