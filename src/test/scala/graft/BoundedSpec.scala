package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Bounded

/** The driver-local gate every bounded-local twin goes through. */
class BoundedSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  /** Runs `f` and returns its result with the number of Spark jobs it
    * launched: the listener counts jobs tagged with a local property,
    * and a marker job run after `f` drains the (in-order) listener
    * queue.
    */
  private def withJobCount[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = "graft.spec.phase"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)) match {
          case Some("measured") => jobs.incrementAndGet()
          case Some("marker") => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "measured")
      val out = try f finally sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("Bounded.collect: Some at the budget, None one row over, one job, partition order, no conf change") {
    import spark.implicits._
    // 12 unsorted rows in 4 partitions of 3; partition 0 finishes
    // LAST, so arrival order differs from partition order
    val rows = Seq(5L, 3L, 9L, 1L, 7L, 2L, 8L, 0L, 6L, 4L, 11L, 10L)
    val ds = spark.sparkContext.parallelize(rows, 4).toDS()
      .mapPartitions { it =>
        if (org.apache.spark.TaskContext.getPartitionId() == 0) Thread.sleep(300)
        it
      }
    val confBefore = spark.conf.getAll
    val (atBudget, jobsAt) = withJobCount(Bounded.collect(ds, rows.size.toLong))
    assert(atBudget.map(_.toSeq).contains(rows),
      s"budget == rows must return every row in partition order: ${atBudget.map(_.toSeq)}")
    assert(jobsAt == 1, s"at-budget collect launched $jobsAt jobs")
    val (over, jobsOver) = withJobCount(Bounded.collect(ds, rows.size - 1L))
    assert(over.isEmpty, "budget + 1 rows must return None")
    assert(jobsOver == 1, s"over-budget collect launched $jobsOver jobs")
    val (negative, jobsNeg) = withJobCount(Bounded.collect(ds, -1L))
    assert(negative.isEmpty && jobsNeg == 0,
      s"a negative budget must return None without a job ($jobsNeg jobs)")
    assert(spark.conf.getAll == confBefore, "Bounded.collect changed the session conf")
  }
}
