package graft.bench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ThermalChain
import graft.operators.{ChartPng, Weather}
import graft.pipeline.{ChunkedSink, StatusStore, W4hJob}
import graft.sources.ForecastStore

/** Spark work per span: jobs, stages, tasks, executor time, shuffle
  * bytes written and bytes spilled. */
case class Engine(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    executorMs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Engine): Engine = Engine(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, executorMs + o.executorMs, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes)
}

/** Attributes every Spark job to the span open on the thread that
  * submitted it (the `SpanKey` local property; "other" when none). */
class EngineListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, String]
  private val bySpan = mutable.Map.empty[String, Engine]

  private def add(span: String, e: Engine): Unit =
    bySpan(span) = bySpan.getOrElse(span, Engine()) + e

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Key)))
      .getOrElse("other")
    e.stageIds.foreach(stageSpan(_) = span)
    add(span, Engine(jobs = 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add(stageSpan.getOrElse(e.stageInfo.stageId, "other"), Engine(stages = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val span = stageSpan.getOrElse(e.stageId, "other")
    if (m == null) add(span, Engine(tasks = 1))
    else add(span, Engine(tasks = 1, executorMs = m.executorRunTime,
      shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** The counts so far, after every posted event is delivered. */
  def snapshot(spark: SparkSession): Map[String, Engine] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized(bySpan.toMap)
  }

  def reset(spark: SparkSession): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized { bySpan.clear(); stageSpan.clear() }
  }
}

/** Nested wall-clock spans with self time (a span's time minus the
  * time of the spans opened inside it), tagging Spark jobs with the
  * innermost open span. */
class Spans(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val self = mutable.LinkedHashMap.empty[String, Long]
  private val stack = mutable.Stack.empty[Array[Long]] // (start, child nanos)

  def apply[T](name: String)(f: => T): T = {
    val outer = sc.getLocalProperty(Spans.Key)
    sc.setLocalProperty(Spans.Key, name)
    val frame = Array(System.nanoTime(), 0L)
    stack.push(frame)
    try f
    finally {
      stack.pop()
      val dur = System.nanoTime() - frame(0)
      self(name) = self.getOrElse(name, 0L) + dur - frame(1)
      stack.headOption.foreach(_(1) += dur)
      sc.setLocalProperty(Spans.Key, outer)
    }
  }

  def selfSeconds: Map[String, Double] = self.map { case (k, v) => k -> v / 1e9 }.toMap
}

object Spans {
  val Key = "graft.bench.span"
  /** The spans of a traced run, in `W4hJob.run`'s order. */
  val names: Seq[String] = Seq("status", "anchor", "thermal", "merge", "upload",
    "charts.daily", "charts.render", "store.save")
}

/** `W4hJob.run` rebuilt from the same public layer calls, in the same
  * order, with a span around each layer. The one structural change is
  * that the thermal grid is cached and counted inside its own span
  * before the merge reads it; in the job the two share one Spark job.
  * The twin check compares every output with `W4hJob.run`'s, so a
  * drift between the two shows as a failed traced run.
  */
object TracedJob {
  case class Counts(thermalCells: Long, mergedRows: Long, uploadAttempts: Long,
      uploadFiles: Long, pngs: Int, statusWrites: Int, storeFiles: Int,
      storeBytes: Long)

  def run(spark: SparkSession, dir: String, workRoot: String,
      sourceVersion: String, span: Spans): (W4hJob.Summary, Counts) = {
    import spark.implicits._
    var statusWrites = 0
    val status = new StatusStore(workRoot) {
      override def set(field: String, value: String): Unit = {
        statusWrites += 1; super.set(field, value)
      }
      override def unset(field: String): Unit = { statusWrites += 1; super.unset(field) }
    }
    val acquired = span("status") {
      val last = status.fetch().get("latestSuccessfulUpdateSource")
      if (last.contains(sourceVersion)) Some("already-current")
      else if (!status.tryAcquireUpdateLock()) Some("locked")
      else None
    }
    acquired.foreach(o => return (W4hJob.Summary(o), Counts(0, 0, 0, 0, 0, statusWrites, 0, 0)))
    var grid: DataFrame = null
    var cached: DataFrame = null
    val (summary, counts) = try {
      val g = ThermalChain.df(spark, dir, ThermalChain.full)
        .groupBy($"lat", $"lon", $"aoff")
        .agg(max($"tmp2m").as("tmp2m"), max($"utci_c").as("utci_c"),
          max($"wbgt_c").as("wbgt_c"), max($"encoded").as("encoded"))
      val minNewAoff = span("anchor")(g.agg(min($"aoff")).head().getLong(0))
      grid = g.cache()
      val thermalCells = span("thermal")(grid.count())
      val t = W4hJob.anchors(minNewAoff + 1, minNewAoff)
      val store = new ForecastStore(s"$workRoot/forecasts")
      val (merged, mergedRows) = span("merge") {
        val m = W4hJob.mergeWithCutoff(grid, store.load(spark), t.cutoff)
        m.cache()
        cached = m
        (m, m.count())
      }

      val upRoot = Paths.get(workRoot, "uploads", sourceVersion)
      val attempts = spark.sparkContext.longAccumulator("uploadAttempts")
      val uploadedDocs = span("upload") {
        val mask = Tables.part(spark, dir).filter($"p_size" > 25)
          .selectExpr("CAST(p_partkey % 29 AS DOUBLE) * 5.0 - 70.0 AS lat",
            "CAST((p_partkey * 3) % 72 AS DOUBLE) * 5.0 - 177.5 AS lon")
          .distinct()
        val docs = merged
          .join(broadcast(mask), Seq("lat", "lon"), "left_semi")
          .groupBy($"lat", $"lon")
          .agg(min($"aoff").as("forecast_start"),
            expr("array_join(transform(array_sort(collect_list(named_struct('aoff', aoff, 'enc', encoded)))," +
              " s -> cast(s.enc AS string)), ',')").as("series"))
          .selectExpr("concat(cast(lat AS string), ',', cast(lon AS string)) AS _id",
            "forecast_start", "series")
        Files.createDirectories(upRoot)
        val upRootStr = upRoot.toString
        ChunkedSink.writeWithFallback(docs.as[(String, Long, String)], chunkSize = 500) {
          (pid, ci, chunk) =>
            attempts.add(1)
            Files.write(Paths.get(upRootStr, s"part_${pid}_$ci.jsonl"),
              chunk.map { case (id, fs, series) =>
                s"""{"_id":"$id","forecastStart":$fs,"series":"$series"}"""
              }.mkString("\n").getBytes)
        }
      }

      val (charts, chartDays) = span("charts.daily") {
        val charts = merged
          .withColumn("uha", expr("CASE WHEN CAST(floor(lon / 15.0 + 0.5) AS BIGINT) > 12" +
            " THEN CAST(floor(lon / 15.0 + 0.5) AS BIGINT) - 24" +
            " ELSE CAST(floor(lon / 15.0 + 0.5) AS BIGINT) END"))
          .withColumn("lday", expr("CAST(floor(CAST(aoff + uha AS DOUBLE) / 24.0) AS BIGINT)"))
          .groupBy($"lat", $"lon", $"lday")
          .agg(max($"utci_c").as("hi"), min($"utci_c").as("lo"))
        charts.write.mode("overwrite").parquet(s"$workRoot/charts/$sourceVersion")
        (charts, charts.select($"lday").distinct().as[Long].collect().sorted)
      }
      val nPng = span("charts.render") {
        ChartPng.renderAll(
          Weather.chartRaster(charts.filter($"lday" >= t.earliestChartDay), "t"),
          Paths.get(workRoot, "charts_png", sourceVersion), sourceVersion) { (day, _) =>
          span("status")(status.set(s"globalCharts.$day", sourceVersion))
        }
      }
      span("status") {
        status.fetch().keys
          .filter(_.startsWith("globalCharts."))
          .filter(_.stripPrefix("globalCharts.").toLong < t.earliestChartDay)
          .foreach(status.unset)
      }
      span("store.save")(store.save(merged, sourceVersion))
      span("status")(status.set("latestSuccessfulUpdateSource", sourceVersion))
      val storeDir = Paths.get(workRoot, "forecasts", sourceVersion)
      val counts = Counts(thermalCells, mergedRows, attempts.value,
        Fs.files(upRoot).size, nPng, 0,
        Fs.files(storeDir).count(_.getFileName.toString.endsWith(".parquet")),
        Fs.bytes(storeDir, ".parquet"))
      (W4hJob.Summary("completed", mergedRows, uploadedDocs, chartDays.length), counts)
    } finally {
      if (cached != null) cached.unpersist()
      if (grid != null) grid.unpersist()
      span("status")(status.releaseUpdateLock())
    }
    (summary, counts.copy(statusWrites = statusWrites))
  }
}
