package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{StatusStore, W4hJob}

/** End-to-end integration of the full composed ETL run. */
class W4hJobSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = SharedSpark.sf

  test("full job: compute, merge, mask, upload, charts, status") {
    val root = graft.store.Versioned.tempRoot("w4h_job")

    val r1 = W4hJob.run(spark, sf, root, "gfs20240101_00z")
    assert(r1.outcome == "completed")
    assert(r1.mergedRows > 0 && r1.uploadedDocs > 0 && r1.chartDays > 0)

    // uploads exist and are valid JSONL
    val up = java.nio.file.Paths.get(root, "uploads", "gfs20240101_00z")
    val files = java.nio.file.Files.list(up).toArray
    assert(files.nonEmpty)

    // status bookkeeping
    val st = new StatusStore(root).fetch()
    assert(st("latestSuccessfulUpdateSource") == "gfs20240101_00z")
    assert(st("isUpdating") == "false")
    assert(st.keys.exists(_.startsWith("globalCharts.")))

    // rendered chart PNGs: one per retained (day, vertex), named per
    // main.py:418, decodable, and every catalog day has its pair
    val pngDir = java.nio.file.Paths.get(root, "charts_png", "gfs20240101_00z")
    val pngs = java.nio.file.Files.list(pngDir).toArray.map(_.toString).sorted
    assert(pngs.nonEmpty && pngs.forall(_.endsWith(".png")))
    val catalogDays = st.keys.filter(_.startsWith("globalCharts."))
      .map(_.stripPrefix("globalCharts.")).toSet
    catalogDays.foreach { d =>
      assert(pngs.exists(_.endsWith(s"${d}Z_utci_highs_from_gfs20240101_00z.png")))
      assert(pngs.exists(_.endsWith(s"${d}Z_utci_lows_from_gfs20240101_00z.png")))
    }
    val img0 = javax.imageio.ImageIO.read(new java.io.File(pngs.head))
    assert(img0.getWidth > 1 && img0.getHeight > 1)

    // idempotence: same source => no-op
    val r2 = W4hJob.run(spark, sf, root, "gfs20240101_00z")
    assert(r2.outcome == "already-current")

    // a newer source merges over the stored forecast
    val r3 = W4hJob.run(spark, sf, root, "gfs20240101_06z")
    assert(r3.outcome == "completed")
    assert(r3.mergedRows >= r1.mergedRows)

    // lock blocks concurrent runs
    val status = new StatusStore(root)
    assert(status.tryAcquireUpdateLock())
    try assert(W4hJob.run(spark, sf, root, "gfs20240101_12z").outcome == "locked")
    finally status.releaseUpdateLock()
  }

  /** Runs `f` and returns its outcome with the records read by each
    * completed stage that scans files (stages that only read cached
    * or checkpointed blocks are left out). A marker job run after `f`
    * drains the in-order listener queue.
    */
  private def withFileScanReads[T](f: => T): (scala.util.Try[T], Seq[Long]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageCompleted}
    val sc = spark.sparkContext
    val tag = "graft.spec.marker"
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          reads.add(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null)) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val out = scala.util.Try(f)
      sc.setLocalProperty(tag, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(tag, null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      (out, reads.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("one run scans the events once: the thermal grid is materialized before the anchor") {
    import java.nio.file.{Files, Paths}
    // every event three times: the other files the run reads, `part`
    // and the chart parquet (at most one row per distinct cell-hour,
    // scanned at most twice by one stage), then give every other
    // stage fewer records, so a stage that reads exactly nEvents
    // records is an events scan
    val data = Paths.get(graft.store.Versioned.tempRoot("w4h_data"))
    val ev = Tables.load(spark, sf, "events")
    ev.union(ev).union(ev).write.parquet(s"$data/events.parquet")
    Files.createSymbolicLink(data.resolve("part.parquet"), Paths.get(s"$sf/part.parquet"))
    val nEvents = 3 * ev.count()
    val root = graft.store.Versioned.tempRoot("w4h_scan")
    val (r, reads) = withFileScanReads(W4hJob.run(spark, data.toString, root, "gfs20240101_00z"))
    assert(r.get.outcome == "completed")
    // the anchor, merge, docs, charts and store write all read the
    // materialized grid, so exactly one stage scans the events
    assert(reads.count(_ == nEvents) == 1,
      s"expected one stage reading the $nEvents events; file-scan stage reads: $reads")
  }

  test("a completed or failed run leaves nothing persisted and the lock released") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ok = graft.store.Versioned.tempRoot("w4h_life")
    assert(W4hJob.run(spark, sf, ok, "gfs20240101_00z").outcome == "completed")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      s"a completed run left persisted RDDs: ${sc.getPersistentRDDs.keySet -- before}")
    assert(new StatusStore(ok).fetch()("isUpdating") == "false")

    // `uploads` as a plain file fails the run at the upload step,
    // after the grid is checkpointed and the merge is cached
    val bad = graft.store.Versioned.tempRoot("w4h_fail")
    java.nio.file.Files.write(java.nio.file.Paths.get(bad, "uploads"), Array[Byte](1))
    val nEvents = Tables.events(spark, sf).count()
    val (r, reads) = withFileScanReads(W4hJob.run(spark, sf, bad, "gfs20240101_00z"))
    assert(r.isFailure && r.failed.get.getMessage.contains("failed"))
    assert(r.failed.get.getCause.isInstanceOf[java.nio.file.FileSystemException])
    assert(reads.contains(nEvents), s"the run failed before the grid was computed: $reads")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      s"a failed run left persisted RDDs: ${sc.getPersistentRDDs.keySet -- before}")
    val st = new StatusStore(bad).fetch()
    assert(st("isUpdating") == "false")
    assert(!st.contains("latestSuccessfulUpdateSource"))
  }

  test("time anchors follow main.py:219-243 on the hour axis") {
    // now=100h, new data from hour 0: forecasts need floor_day(75)=72,
    // charts need floor_day(0)-12=-12 -> the chart term dominates
    val a = W4hJob.anchors(nowHour = 100, minNewAoff = 0)
    assert(a.cutoff == -12)
    assert(a.earliestChartDay == math.floorDiv(100 - 11, 24) - 1) // 2
    // new data starting late: the forecast term dominates
    val b = W4hJob.anchors(nowHour = 100, minNewAoff = 240)
    assert(b.cutoff == 72)
  }

  test("merge cutoff drops pre-cutoff previous rows BEFORE the join (pushdown)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = graft.store.Versioned.tempRoot("w4h_cut")
    // previous forecast straddling the cutoff: one stale row, one
    // in-window row at a cell/hour the fresh side does not cover
    val prev = Seq(
      (-70.0, -177.5, -100L, 250.0, 1.0, 2.0, 3),
      (-70.0, -177.5, 5L, 251.0, 1.5, 2.5, 4))
      .toDF("lat", "lon", "aoff", "tmp2m", "utci_c", "wbgt_c", "encoded")
    val store = new graft.sources.ForecastStore(s"$root/forecasts")
    store.save(prev, "seed")
    val fresh = Seq((10.0, 2.5, 10L, 280.0, 9.0, 8.0, 7))
      .toDF("lat", "lon", "aoff", "tmp2m", "utci_c", "wbgt_c", "encoded")
    val merged = W4hJob.mergeWithCutoff(fresh, store.load(spark), cutoff = -12L)
    val rows = merged.select($"lat", $"lon", $"aoff").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSet
    // stale prev row dropped, in-window prev-only row kept, fresh kept
    assert(rows == Set((-70.0, -177.5, 5L), (10.0, 2.5, 10L)))
    // the cutoff reaches the previous version's parquet scan
    merged.collect()
    val plan = merged.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("GreaterThanOrEqual(aoff,-12)"),
      s"expected the cutoff pushed to the prev scan:\n$plan")
  }

  test("stale globalCharts entries are pruned from the status catalog") {
    val root = graft.store.Versioned.tempRoot("w4h_prune")
    val status = new StatusStore(root)
    status.set("globalCharts.-5", "old_source")
    status.set("globalCharts.1", "old_source")
    status.set("globalCharts.28", "old_source")
    // a key whose suffix is not a day number (the reference's own
    // date-keyed shape) is not this job's to prune: it must neither
    // fail the run nor be removed
    status.set("globalCharts.2024-01-01", "old_source")
    // nowHour=100 -> earliestChartDay=2: days -5 and 1 are stale
    val r = W4hJob.run(spark, sf, root, "gfs20240102_00z", nowHour = 100)
    assert(r.outcome == "completed")
    val st = status.fetch()
    assert(!st.contains("globalCharts.-5"))
    assert(!st.contains("globalCharts.1"))
    assert(st.contains("globalCharts.28"))
    assert(st.get("globalCharts.2024-01-01").contains("old_source"))
    assert(st("latestSuccessfulUpdateSource") == "gfs20240102_00z")
    // retained + freshly charted days all carry a source version
    assert(st.keys.count(_.startsWith("globalCharts.")) >= 1)
  }
}
