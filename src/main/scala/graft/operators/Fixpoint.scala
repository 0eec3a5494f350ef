package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD

/** The one round loop behind every iterative operator: PageRank and
  * label propagation (fixed and converged), BFS and SSSP, the k-core
  * peel (g03 and [[Clustering.kCore]]), both connected-components
  * algorithms and the Lloyd quantizer trainer ([[Clustering.lloyd]]).
  *
  * '''The cut.''' A round's output is cut with a lazy
  * [[Ops.checkpointFrame]], so `spark.graft.checkpoint.reliable`
  * applies to every loop; without cuts plans compound and each action
  * re-executes every earlier round. A probed loop cuts every round. An
  * unprobed loop cuts every `cutEvery` rounds: 1 when a round reads
  * its state more than once, [[ChainCut]] when it reads it once, so a
  * short fixed loop stays one query and a long one a bounded plan.
  * Loop-invariant inputs go through [[invariant]].
  *
  * '''The probe.''' The convergence test runs on the round's cut and
  * is the round's only ACTION; nothing is probed before round 1. A
  * [[Potential]] probe compares a scalar that strictly decreases until
  * the fixpoint (edge count, star CC's edge potential) with the
  * previous round's; a [[Settled]] probe tests the previous and the
  * new state (min-label CC: no label dropped); a [[semiNaive]] loop
  * stops on an empty delta. With adaptive execution on, the action is
  * not the only work that runs eagerly: taking a lazy cut
  * (`localCheckpoint(eager = false)`) plans the cut query adaptively,
  * which runs every shuffle stage of it at once; only its final stage
  * waits for the probe. An [[invariant]] cut over a join chain (CC's
  * pair plan) therefore runs that chain's jobs where it is taken.
  *
  * '''The budget.''' An operator that promises a fixpoint (CC, k-core,
  * converged LPA) passes [[MustConverge]]: running out of rounds raises
  * `IllegalArgumentException` instead of returning a non-fixpoint. A
  * bounded operator (fixed PageRank/LPA rounds, pageRankConverged's
  * `maxIters`, BFS `maxHops`, SSSP `rounds`) passes [[Bounded]] and
  * returns the state at its bound.
  */
private[operators] object Fixpoint {

  /** Rounds between cuts for an unprobed loop whose round reads its
    * state once.
    */
  val ChainCut = 10

  sealed trait Budget
  case object Bounded extends Budget
  /** `op` names the operator in the error; `hint` says what to do. */
  final case class MustConverge(op: String, hint: String) extends Budget

  sealed trait Probe
  case object NoProbe extends Probe
  final case class Potential(value: DataFrame => Any) extends Probe
  /** `settled(previous, next)` is true once the loop has converged. */
  final case class Settled(settled: (DataFrame, DataFrame) => Boolean) extends Probe

  /** Runs `step` (state, 1-based round) from `init` until the probe
    * settles or `maxRounds` rounds have run; returns the final state
    * and the rounds run.
    */
  def iterate(
      init: DataFrame,
      maxRounds: Int,
      budget: Budget,
      probe: Probe = NoProbe,
      cutEvery: Int = 1
  )(step: (DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    var state = init
    var last: Option[Any] = None
    val rounds = loop(maxRounds, budget) { r =>
      val stepped = step(state, r)
      val next =
        if (probe != NoProbe || r % cutEvery == 0) stepped.graftCheckpointLazy else stepped
      val settled = probe match {
        case NoProbe => false
        case Settled(test) => test(state, next)
        case Potential(value) =>
          val v = Some(value(next))
          val same = v == last
          last = v
          same
      }
      state = next
      settled
    }
    (state, rounds)
  }

  /** Semi-naive (delta-rule) loop: each round `expand`s (frontier,
    * accumulated, round) into a delta of new rows, stops when it is
    * empty, and otherwise `merge`s it into the accumulated state and
    * makes it the next frontier. The frontier starts as the cut `init`.
    */
  def semiNaive(init: DataFrame, maxRounds: Int)(
      expand: (DataFrame, DataFrame, Int) => DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    var acc = init.graftCheckpointLazy
    var frontier = acc
    loop(maxRounds, Bounded) { r =>
      val delta = expand(frontier, acc, r).graftCheckpointLazy
      val empty = delta.isEmpty
      if (!empty) {
        acc = merge(acc, delta).graftCheckpointLazy
        frontier = delta
      }
      empty
    }
    acc
  }

  /** A loop-invariant input, cut once — unless it already is a
    * checkpoint (a `LogicalRDD` under projections only), which the
    * rounds re-read as is.
    */
  def invariant(df: DataFrame): DataFrame = {
    def checkpointed(p: LogicalPlan): Boolean = p match {
      case _: LogicalRDD => true
      case Project(_, child) => checkpointed(child)
      case _ => false
    }
    if (checkpointed(df.queryExecution.analyzed)) df else df.graftCheckpointLazy
  }

  /** The round counter and the budget rule; `round` returns true once
    * the loop has settled.
    */
  private def loop(maxRounds: Int, budget: Budget)(round: Int => Boolean): Int = {
    var r = 0
    var settled = false
    while (!settled && r < maxRounds) {
      r += 1
      settled = round(r)
    }
    budget match {
      case MustConverge(op, hint) =>
        require(settled, s"$op: no fixpoint within $maxRounds rounds — $hint")
      case Bounded =>
    }
    r
  }
}
