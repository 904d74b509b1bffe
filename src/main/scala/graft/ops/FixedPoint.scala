package graft.ops

import org.apache.spark.sql.DataFrame

import scala.annotation.tailrec

/** The superstep loop of every iterative DataFrame operator.
  *
  * Each step's output is cut out of the lineage with a LAZY
  * localCheckpoint: the cut truncates the logical plan at once (a step
  * that reads its input several times would otherwise grow the plan,
  * and Catalyst's analysis time, exponentially; persist() leaves the
  * plan growing) but adds no driver barrier — no count or collect
  * waits on it, and the cut rows are stored by whichever action first
  * computes them. The cut state lives in executor block storage, so
  * losing an executor mid-loop fails the query; swap in reliable
  * checkpoints where that must be survivable.
  *
  * Two loop shapes:
  *  - [[repeat]]: a fixed step count and no driver barrier at all;
  *  - [[converge]]: `hops` steps per driver barrier, the barrier being
  *    the one action `measure` takes on the batch's output, until the
  *    measure equals the previous barrier's (or `start`), or reads as
  *    `settled`. Surplus steps past a fixed point are identity, so
  *    batching changes no result, only how many barriers it takes to
  *    see the fixed point.
  *
  * The budget of [[converge]] counts driver barriers. It returns the
  * last batch's output and measure with the budget left over, or with
  * None when the budget ran out before the measure settled — the
  * caller decides whether that is an error (SCC), a capped answer
  * (redirect loops), or a partial one (k-core, components). */
object FixedPoint {

  /** Lazy lineage cut of one step's output. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(false)

  /** `steps` applications of `step`, each output cut; runs no action. */
  def repeat(init: DataFrame, steps: Int)(step: DataFrame => DataFrame): DataFrame =
    Iterator.iterate(init)(s => cut(step(s))).drop(steps).next()

  /** Batches of `hops` cut steps until `measure` stops changing or
    * reads as `settled`, within `budget` barriers: (last output, its
    * measure or `start` when no batch ran, budget left). */
  def converge[M](init: DataFrame, hops: Int, budget: Int, start: Option[M] = None,
                  settled: M => Boolean = (_: M) => false)
                 (step: DataFrame => DataFrame)
                 (measure: DataFrame => M): (DataFrame, Option[M], Option[Int]) = {
    @tailrec def loop(s: DataFrame, last: Option[M], left: Int): (DataFrame, Option[M], Option[Int]) =
      if (left <= 0) (s, last, None)
      else {
        val next = repeat(s, hops)(step)
        val m = measure(next)
        if (last.contains(m) || settled(m)) (next, Some(m), Some(left - 1))
        else loop(next, Some(m), left - 1)
      }
    loop(init, start, budget)
  }
}
