package graft.functions

import org.apache.spark.sql.Dataset

/** The shared gate of the bounded-local twins: collect a Dataset to
  * the driver only when it has at most `budget` rows. A
  * metadata-sized input then iterates on the driver; anything larger
  * keeps its distributed loop, decided per input at runtime.
  *
  * The probe IS the collect — one pass. A count followed by a collect
  * would evaluate the upstream plan twice, and a
  * `limit(budget + 1).collect()` scans 1, 4, 16 … partitions, one
  * job each, unless the caller's session conf is changed to scan
  * them all at once. Here one result job covers every
  * partition, each task returns at most `budget + 1` rows, and the
  * driver stops keeping rows once `budget + 1` have arrived (that
  * many rows IS the over-budget verdict). Rows come back in partition
  * order, as `limit(n).collect()` returns them. No session conf is
  * read or written.
  */
object Bounded {

  /** Budget for state that is metadata by construction: dup-pair and
    * star edge sets (ccPropagate, ccStars), condensed Louvain levels,
    * the e19/e20 transition matrices. Corpus-grain inputs (g4's
    * 3n-edge graph) exceed it and stay distributed.
    */
  val smallBudget: Long = 4096L

  /** Budget for condensed state that is larger but still a few MB on
    * the driver: g26's condensed community edges (the sf0.1
    * condensation, ~10^4–10^5 edges, sat over [[smallBudget]] and paid
    * ~40 distributed jobs) and v21's per-hop candidate pairs, bounded
    * by queries·beam·degree. 2^17 rows of long pairs ≈ 3 MB.
    */
  val largeBudget: Long = 1L << 17

  /** `Some(rows)` when `ds` has at most `budget` rows, else `None`. A
    * negative budget returns `None` without running a job (the
    * callers' "force the distributed path" switch).
    */
  def collect[T](ds: Dataset[T], budget: Long): Option[Array[T]] =
    if (budget < 0L) None
    else {
      require(budget < Int.MaxValue, s"budget $budget exceeds one array")
      val cap = budget.toInt + 1
      val rdd = ds.rdd
      val parts = new Array[Vector[T]](rdd.getNumPartitions)
      var kept = 0L
      rdd.sparkContext.runJob(rdd, (it: Iterator[T]) => it.take(cap).toVector,
        (i: Int, rows: Vector[T]) => if (kept <= budget) {
          kept += rows.length
          parts(i) = rows
        })
      if (kept > budget) None
      else Some(parts.iterator.flatten.toArray(ds.encoder.clsTag))
    }
}
