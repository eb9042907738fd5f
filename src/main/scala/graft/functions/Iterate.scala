package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.col

/** The one core of the checkpoint-per-round loops over a single
  * DataFrame state. `init` and every round's output are materialized
  * with an EAGER `localCheckpoint()`, and the prior state is freed
  * with [[Lineage.freeCheckpoint]] only once its successor exists.
  * The lineage cut keeps a step that reads the state twice from
  * doubling the logical plan per round (the analyzer blow-up of
  * SURVEY §8.19); the free keeps every round's blocks from piling up
  * until driver GC. The returned state is checkpointed and owned by
  * the caller. `localCheckpoint` is the only policy: a lost executor
  * mid-loop fails the query.
  *
  * Loops that step two frames, keep per-round outputs or converge on
  * something other than a change count stay hand-written, each with
  * a line saying why.
  */
object Iterate {

  /** `rounds` steps; `step(state, round)` sees rounds 1..`rounds`. */
  def fixed(init: DataFrame, rounds: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var state = init.localCheckpoint()
    (1 to rounds).foreach { round =>
      val next = step(state, round).localCheckpoint()
      Lineage.freeCheckpoint(state)
      state = next
    }
    state
  }

  /** Steps until a round changes nothing, or for `maxRounds` rounds.
    * `changes` is an aggregate over the step's output, such as
    * `sum(when($"chg", 1L))`, observed on the round's checkpoint job,
    * so convergence costs no job of its own; null (no row counted) or
    * 0 is converged. Columns the step adds beyond `init`'s (the change
    * flag) are dropped after the observation. Returns (state, rounds
    * run, converged).
    */
  def untilStable(init: DataFrame, maxRounds: Int, changes: Column)(
      step: DataFrame => DataFrame): (DataFrame, Int, Boolean) = {
    val keep = init.columns.map(c => col(s"`$c`")).toSeq
    var state = init.localCheckpoint()
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val obs = new Observation()
      val next = step(state).observe(obs, changes.as("changes"))
        .select(keep: _*).localCheckpoint()
      Lineage.freeCheckpoint(state)
      state = next
      rounds += 1
      converged = obs.get("changes") match {
        case null => true
        case n => n.asInstanceOf[Number].longValue == 0L
      }
    }
    (state, rounds, converged)
  }
}
