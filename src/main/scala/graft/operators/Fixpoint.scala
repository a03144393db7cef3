package graft.operators

import org.apache.spark.sql.DataFrame

/** The iteration policy of every DataFrame fixpoint loop.
  *
  * Each round's state is pinned by a LAZY `localCheckpoint`: the pin
  * swaps the round's plan for an RDD reference, so planning stays
  * O(1) per round, and the first action over the state caches its
  * blocks — an eager pin would add one scheduling job per round.
  * (Under AQE a pin runs its plan's shuffle stages when taken; only
  * the final stage waits.)
  *  - [[converge]]: the round's ONE convergence count scans every
  *    partition, so the state materializes inside it, before the next
  *    round reads it; the pin adds no job of its own.
  *  - [[unroll]]: the consumer's one action materializes every round.
  *    A frame read by several stages of that job can be recomputed
  *    before its blocks land: repeated work, never a different
  *    answer, as the steps are deterministic.
  *
  * Loop-invariant inputs (edge lists, candidate tables) are not loop
  * state; callers pin those once, before the loop. */
object Fixpoint {

  /** Iterate `step` from `init` until `pending(state)` is empty;
    * returns the final state and the rounds run (0 if `init` has
    * converged). Throws if rows are still pending after `maxRounds`
    * rounds: an unconverged state is wrong, not slow. */
  def converge(init: DataFrame, maxRounds: Int, name: String)(
      step: DataFrame => DataFrame)(
      pending: DataFrame => DataFrame): (DataFrame, Int) = {
    @annotation.tailrec
    def loop(cur: DataFrame, rounds: Int): (DataFrame, Int) = {
      val open = pending(cur).count()
      if (open == 0) (cur, rounds)
      else if (rounds >= maxRounds) throw new IllegalStateException(
        s"$name did not converge in $maxRounds rounds: $open rows pending")
      else loop(pin(step(cur)), rounds + 1)
    }
    loop(pin(init), 0)
  }

  /** `step(state, round)` for rounds 1 to `rounds` from `init`, each
    * round pinned; nothing runs until the caller's action. */
  def unroll(init: DataFrame, rounds: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to rounds).foldLeft(pin(init))((cur, r) => pin(step(cur, r)))

  private def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
}
