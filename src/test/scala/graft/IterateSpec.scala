package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Iterate, Lineage}
import graft.SharedSpark.withJobCount

/** The checkpoint-per-round loop core. */
class IterateSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def checkpointIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  /** (id, v) with v = id % 4 over 8 rows in 2 partitions: a
    * count-down from v = 3 changes something for 3 rounds.
    */
  private def counters: DataFrame =
    spark.range(0, 8, 1, 2).selectExpr("id", "id % 4 AS v")

  /** One count-down round without an exchange (so one checkpoint is
    * one job), flagging the rows it changes.
    */
  private def countDown(state: DataFrame): DataFrame =
    state.select($"id", greatest($"v" - 1, lit(0L)).as("v"), ($"v" > 0).as("chg"))

  private def changes = sum(when(col("chg"), 1L))

  test("Iterate.fixed: rounds 1..n, and only the returned state stays persisted") {
    val before = persistedIds
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = Iterate.fixed(counters, 5) { (state, round) =>
      seen += round
      state.select($"id", ($"v" + round).as("v"))
    }
    assert(seen.toSeq == (1 to 5))
    val fresh = persistedIds -- before
    assert(fresh.size == 1 && fresh == checkpointIds(out),
      s"expected only the returned state persisted, got $fresh")
    assert(out.as[(Long, Long)].collect().sorted.toSeq ==
      (0L until 8L).map(id => (id, id % 4 + 15)))
    Lineage.freeCheckpoint(out)
    assert(persistedIds == before)
  }

  test("Iterate.untilStable: stops at the first round that changes nothing, state keeps init's columns") {
    // v <= 3 reaches 0 in 3 rounds; round 4 changes nothing
    val (out, rounds, converged) = Iterate.untilStable(counters, 10, changes)(countDown)
    assert((rounds, converged) == ((4, true)))
    assert(out.columns.toSeq == Seq("id", "v"))
    assert(out.as[(Long, Long)].collect().forall(_._2 == 0L))
    Lineage.freeCheckpoint(out)
  }

  test("Iterate.untilStable: hitting maxRounds reports (maxRounds, false)") {
    val (out, rounds, converged) = Iterate.untilStable(counters, 2, changes)(countDown)
    assert((rounds, converged) == ((2, false)))
    assert(out.as[(Long, Long)].collect().map(_._2).max == 1L)
    Lineage.freeCheckpoint(out)
  }

  test("Iterate.untilStable: a round with empty output (null change sum) is converged") {
    val (out, rounds, converged) = Iterate.untilStable(counters, 5, changes) { state =>
      countDown(state).filter(lit(false))
    }
    assert((rounds, converged) == ((1, true)))
    assert(out.isEmpty)
    Lineage.freeCheckpoint(out)
  }

  test("Iterate.untilStable: convergence adds no job beyond each round's checkpoint") {
    val ((out, rounds, _), jobs) =
      withJobCount(Iterate.untilStable(counters, 10, changes)(countDown))
    Lineage.freeCheckpoint(out)
    val (fixedOut, fixedJobs) =
      withJobCount(Iterate.fixed(counters, rounds)((state, _) => countDown(state)))
    Lineage.freeCheckpoint(fixedOut)
    // one checkpoint job for init and one per round, as in fixed
    assert(jobs == rounds + 1, s"$rounds rounds launched $jobs jobs")
    assert(jobs == fixedJobs)
  }
}
