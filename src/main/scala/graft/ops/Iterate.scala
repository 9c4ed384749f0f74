package graft.ops

import org.apache.spark.sql.DataFrame

/** The driver loop of every iterative operator (PageRank, label
  * propagation, BFS, k-core, Katz, Brandes, pointer-jump components,
  * NN-descent, greedy graph walks, MMR, BPE, Lloyd k-means): run `step`
  * on the current state, stage the result, free the superseded state.
  *
  * Staging each round (see [[Checkpoints.stage]]) keeps the executed plan
  * one round deep instead of the whole unrolled lineage, and freeing the
  * predecessor keeps live blocks at two rounds' tables — the reclamation
  * [[Checkpoints]] exists for. Ownership:
  *  - `init` belongs to the caller and is never freed here (it may be a
  *    projection over a table the caller still reads, or a staged table
  *    the caller frees when it is done);
  *  - each round's result is staged, and its predecessor is freed only
  *    after that result has materialized;
  *  - the last stage is returned, and the caller owns it.
  *
  * `step` gets the current state and the 1-based round number. Rounds
  * run in order, so fold order and round counts are exactly the loop's.
  * Each round's stage is its own execution, one round deep, as the plan
  * audits record it (`graft.tools.PlanScan.executedPlans`). */
object Iterate {
  /** `n` fixed rounds of `step` from `init`. */
  def rounds(init: DataFrame, n: Int)(step: (DataFrame, Int) => DataFrame): DataFrame = {
    require(n >= 1, s"Iterate.rounds needs at least one round, got $n")
    var cur = init
    for (i <- 1 to n) {
      val next = Checkpoints.stage(step(cur, i))
      if (cur ne init) Checkpoints.free(cur)
      cur = next
    }
    cur
  }

  /** Rounds of `step` from `init` until `done` holds for a round's staged
    * result, or `cap` rounds have run; returns that round's stage. `done`
    * sees only the new stage (callers carry any scalar they compare
    * against, e.g. the previous round's count). */
  def untilFixpoint(init: DataFrame, cap: Int)(step: (DataFrame, Int) => DataFrame)(
      done: DataFrame => Boolean): DataFrame = {
    require(cap >= 1, s"Iterate.untilFixpoint needs a cap of at least one round, got $cap")
    var cur = init
    var i = 0
    var stop = false
    while (!stop && i < cap) {
      i += 1
      val next = Checkpoints.stage(step(cur, i))
      stop = done(next)
      if (cur ne init) Checkpoints.free(cur)
      cur = next
    }
    cur
  }
}
