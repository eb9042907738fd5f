package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** `localCheckpoint()` persists its materialized rows at the RDD
  * level (`MEMORY_AND_DISK` on the internal-row RDD behind a
  * `LogicalRDD` leaf) — `Dataset.unpersist()` consults only the
  * CacheManager and silently skips it, so an iterative loop that
  * checkpoints per round and "unpersists" the prior round would in
  * fact accumulate EVERY round's full state in the block manager
  * until driver GC + ContextCleaner got around to it. This helper
  * releases the blocks deterministically: find the checkpoint's
  * `LogicalRDD` leaves and unpersist their RDDs.
  *
  * Non-blocking on purpose: the caller has already materialized the
  * next round's state, so reclamation can proceed asynchronously.
  *
  * Round loops over one DataFrame get this from [[Iterate]], which
  * owns the checkpoint → step → free order; direct callers are the
  * loops that stay hand-written and the one-off checkpoints outside
  * loops.
  */
object Lineage {
  def freeCheckpoint(df: DataFrame): Unit =
    checkpoints(df).foreach(_.rdd.unpersist(blocking = false))

  /** Frees the checkpoints `df` reads that `keep` does not read: the
    * ones a call made on top of an input the caller still owns.
    */
  def freeCheckpoint(df: DataFrame, keep: DataFrame): Unit = {
    val kept = checkpoints(keep).map(_.rdd.id).toSet
    checkpoints(df).filterNot(lr => kept(lr.rdd.id))
      .foreach(_.rdd.unpersist(blocking = false))
  }

  private def checkpoints(df: DataFrame): Seq[LogicalRDD] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr }
}
