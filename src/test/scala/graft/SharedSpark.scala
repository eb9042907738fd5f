package graft

import org.apache.spark.sql.SparkSession

/** One session for the whole test JVM (suites share it). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `f` and returns its result with the number of Spark jobs it
    * launched: the listener counts jobs tagged with a local property,
    * and a marker job run after `f` drains the (in-order) listener
    * queue.
    */
  def withJobCount[T](f: => T): (T, Int) = {
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

  /** Runs `f` and returns its result with the number of persisted
    * RDDs before and after it. `getPersistentRDDs` holds its RDDs
    * weakly, so a GC during `f` could hide a leak: every job start
    * pins the RDDs persisted so far, and only an unpersist takes one
    * out of the map.
    */
  def withPinnedPersisted[T](f: => T): (T, Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val pin = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sc.getPersistentRDDs.values.foreach(pinned.add)
    }
    val before = sc.getPersistentRDDs.size
    sc.addSparkListener(pin)
    val out = try f finally {
      withJobCount(()) // drains the listener queue
      sc.removeSparkListener(pin)
    }
    val after = sc.getPersistentRDDs.size
    java.lang.ref.Reference.reachabilityFence(pinned)
    (out, before, after)
  }

  /** Runs `f` under [[withPinnedPersisted]] and returns its result
    * with the RDDs it persisted and left persisted, by id. RDDs that
    * earlier specs left behind do not count, so a GC dropping one of
    * them during `f` cannot skew the answer.
    */
  def leftPersisted[T](f: => T): (T, Map[Int, AnyRef]) = {
    val sc = spark.sparkContext
    val mark = sc.emptyRDD[Unit].id
    withPinnedPersisted {
      val out = f
      (out, sc.getPersistentRDDs.filter(_._1 > mark).toMap[Int, AnyRef])
    }._1
  }
}
