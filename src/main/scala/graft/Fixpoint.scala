package graft

import org.apache.spark.sql.DataFrame

import graft.Pinned._

/** The round discipline of the iterative graph loops (min-label propagation
  * and alternating-star connected components in Dedup, HITS in Graph). A
  * loop supplies its step and its convergence test; this owns the
  * bookkeeping that keeps a long-lived session bounded:
  *
  *  - each round's output is pinned LAZILY, and the round's scalar (a count
  *    or a max) is the action that materializes the pin — one job per round
  *    instead of an eager pin plus a separate action;
  *  - a generation is released through [[FrameBlocks.release]] only after
  *    its successor has materialized and the convergence test (which may
  *    read both) has run, keeping a fixed `window` of live generations;
  *  - after `maxIters` rounds without convergence it releases everything it
  *    holds and throws [[Fixpoint.NotConverged]], naming the loop and the
  *    cap — a partially converged answer is never returned;
  *  - the result is pinned EAGERLY before the last window is released, so
  *    the returned frame is rooted at its own checkpoint and a caller can
  *    free it like any other through [[FrameBlocks.release]].
  */
object Fixpoint {

  /** One generation: a pinned round output, the scalar returned by the
    * action that materialized it, and its round (0 for the seed). */
  final case class Gen(df: DataFrame, value: Long, round: Int)

  final class NotConverged(loop: String, maxIters: Int)
    extends IllegalStateException(s"$loop did not converge in $maxIters rounds")

  /** Runs rounds from the seed generation (`first`, `firstValue`) until
    * `converged(previous, next)` holds. Each round pins `step(newest)`
    * lazily and materializes it with `measure`. Returns the eagerly pinned
    * `result` of the live window (oldest first) and the number of rounds.
    *
    * The seed is released like any generation (a no-op when the caller did
    * not pin it); `inputs` are pinned frames every round reads, released
    * with the last window. */
  def run(loop: String, maxIters: Int, window: Int,
          first: DataFrame, firstValue: Long, inputs: Seq[DataFrame] = Nil)(
      step: Gen => DataFrame,
      measure: DataFrame => Long,
      converged: (Gen, Gen) => Boolean,
      result: Seq[Gen] => DataFrame): (DataFrame, Int) = {
    val live = scala.collection.mutable.Queue(Gen(first, firstValue, 0))
    try {
      var done = false
      while (!done) {
        val prev = live.last
        if (prev.round >= maxIters) throw new NotConverged(loop, maxIters)
        val next = step(prev).pin(false)
        val gen = Gen(next, measure(next), prev.round + 1)
        done = converged(prev, gen)
        live.enqueue(gen)
        while (live.size > window) FrameBlocks.release(live.dequeue().df)
      }
      (result(live.toSeq).pin(true), live.last.round)
    } finally (live.map(_.df) ++ inputs).foreach(FrameBlocks.release)
  }
}
