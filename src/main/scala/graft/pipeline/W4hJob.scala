package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Lineage, ThermalChain, ThermalKernel}
import graft.sources.ForecastStore

/** The reference container's full run (/root/reference/main.py:30-453)
  * as one composed Spark job: source freshness check, `isUpdating`
  * lock, thermal-index computation, combine_first merge with the
  * persisted store, near-land masking, chunked document upload,
  * hour-angle-shifted daily extremes + contour-band chart data, and
  * status bookkeeping — exercising every library layer together.
  *
  * Returns a summary of what happened; all side effects live under
  * `workRoot` (status file, forecast versions, uploads, chart data).
  */
object W4hJob {

  case class Summary(outcome: String, mergedRows: Long = 0,
      uploadedDocs: Long = 0, chartDays: Long = 0)

  /** The reference's wall-clock anchors (main.py:219-243) mapped onto
    * the job's hour-offset axis (`aoff`): given "now" and the new
    * forecast's first hour, the earliest data any consumer still
    * needs, and the earliest local day the chart catalog may retain.
    */
  private[graft] case class TimeAnchors(cutoff: Long, earliestChartDay: Long)
  private[graft] def anchors(nowHour: Long, minNewAoff: Long): TimeAnchors = {
    // start of the local day within 25h of now (main.py:239-241)
    val earliestForecast = math.floorDiv(nowHour - 25, 24) * 24
    // earliest chart day updatable with new data, minus the 12h the
    // hour-angle shift can pull forward (main.py:221, 234-237)
    val earliestChartData = math.floorDiv(minNewAoff, 24) * 24 - 12
    // earliest utc-labeled "yesterday" for chart retention
    // (main.py:225-233): floor_day(now - 11h) - 1d, in day units
    TimeAnchors(
      cutoff = math.min(earliestForecast, earliestChartData),
      earliestChartDay = math.floorDiv(nowHour - 11, 24) - 1)
  }

  /** combine_first of the fresh grid over the previous run, with the
    * cutoff applied to the PREVIOUS side before the join — the
    * reference slices only the old file (main.py:246-250), and the
    * pre-join filter reaches the previous version's parquet scan as a
    * pushed predicate (asserted in spec) so the old side shrinks
    * before it shuffles.
    */
  private[graft] def mergeWithCutoff(grid: DataFrame,
      prev: Option[DataFrame], cutoff: Long): DataFrame = {
    import grid.sparkSession.implicits._
    prev match {
      case None => grid
      case Some(p0) =>
        val f = grid.select($"lat", $"lon", $"aoff",
          $"tmp2m".as("__f_t"), $"utci_c".as("__f_u"),
          $"wbgt_c".as("__f_w"), $"encoded".as("__f_e"))
        val p = p0.filter($"aoff" >= cutoff)
          .select($"lat", $"lon", $"aoff",
            $"tmp2m".as("__p_t"), $"utci_c".as("__p_u"),
            $"wbgt_c".as("__p_w"), $"encoded".as("__p_e"))
        f.join(p, Seq("lat", "lon", "aoff"), "full_outer")
          .select($"lat", $"lon", $"aoff",
            coalesce($"__f_t", $"__p_t").as("tmp2m"),
            coalesce($"__f_u", $"__p_u").as("utci_c"),
            coalesce($"__f_w", $"__p_w").as("wbgt_c"),
            coalesce($"__f_e", $"__p_e").as("encoded"))
    }
  }

  /** The thermal grid (main.py:77-207): per (lat, lon, aoff) cell, the
    * max of each [[ThermalChain]] output the job keeps. The chain's
    * base projection feeds one [[ThermalKernel]] call per event, so
    * the grid plans a handful of expressions instead of the chain's 30
    * layers, and its generated code keeps every method small enough
    * for the JIT. The values are the chain's, bit for bit.
    */
  private[graft] def thermalGrid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .selectExpr(ThermalChain.base.map { case (n, e) => s"($e) AS $n" }: _*)
      .select($"lat", $"lon",
        ThermalKernel($"lat", $"lon", $"doy", $"hh", $"mv").as("k"))
      .groupBy($"lat", $"lon", $"k.aoff".as("aoff"))
      .agg(max($"k.tmp2m").as("tmp2m"), max($"k.utci_c").as("utci_c"),
        max($"k.wbgt_c").as("wbgt_c"), max($"k.encoded").as("encoded"))
  }

  /** `nowHour` anchors the run on the aoff axis (the reference uses
    * `pd.Timestamp.utcnow()`); -1 derives it from the new forecast's
    * first hour + 1 — "the run happens as the new forecast lands".
    *
    * The aggregated thermal grid is materialized once, with an eager
    * `localCheckpoint()`, before anything reads it. Otherwise the
    * anchor's `min(aoff)` would be a second scan of the events
    * through the thermal kernel, and every later stage whose lineage
    * holds the grid's aggregate (merge + cache fill, docs, daily
    * extremes, store write) would ship the events scan and the
    * grid's plan in its task binary (`HashAggregateExec` keeps a
    * reference to its plan). The trade-off: checkpoint blocks live only on the
    * executors that computed them, so on a cluster a lost executor
    * after the checkpoint fails the run instead of recomputing the
    * grid. `Alert.fail` fires, the lock is released and the next
    * cycle retries. The blocks are freed in the `finally` with
    * `Lineage.freeCheckpoint`, since `Dataset.unpersist` skips them.
    */
  def run(spark: SparkSession, dir: String, workRoot: String,
      sourceVersion: String, nowHour: Long = -1L): Summary = {
    val status = new StatusStore(workRoot)
    val last = status.fetch().get("latestSuccessfulUpdateSource")
    if (last.contains(sourceVersion)) return Summary("already-current")
    if (!status.tryAcquireUpdateLock()) return Summary("locked")
    var grid: DataFrame = null
    var cached: DataFrame = null
    try {
      import spark.implicits._
      val timer = new Timer

      // ---- compute thermal indices + encoded series (main.py:77-207),
      // materialized once (why: `run`'s scaladoc)
      grid = thermalGrid(spark, dir).localCheckpoint()

      // ---- time anchors + merge over the previous run (main.py:219-250)
      val minNewAoff = grid.agg(min($"aoff")).head().getLong(0)
      val now = if (nowHour >= 0) nowHour else minNewAoff + 1
      val t = anchors(now, minNewAoff)
      val store = new ForecastStore(s"$workRoot/forecasts")
      val merged = mergeWithCutoff(grid, store.load(spark), t.cutoff)
      merged.cache()
      cached = merged
      val mergedRows = merged.count()
      timer.log("calculated + merged forecasts")

      // ---- near-land mask + per-cell upload documents (main.py:281-324)
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
      val upRoot = java.nio.file.Paths.get(workRoot, "uploads", sourceVersion)
      java.nio.file.Files.createDirectories(upRoot)
      val upRootStr = upRoot.toString
      // single pass: the sink's accumulator is the row count, so the
      // mask join + collect_list aggregation is not executed twice;
      // fallback splitting mirrors the reference's chunk-count retry
      // (main.py:312-324)
      val uploadedDocs = ChunkedSink.writeWithFallback(
        docs.as[(String, Long, String)], chunkSize = 500) {
        (pid, ci, chunk) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(upRootStr, s"part_${pid}_$ci.jsonl"),
            chunk.map { case (id, fs, series) =>
              s"""{"_id":"$id","forecastStart":$fs,"series":"$series"}"""
            }.mkString("\n").getBytes)
      }
      timer.log("uploaded forecast documents")

      // ---- hour-angle shift + daily extremes + contour bands (main.py:341-443)
      // aggregated ONCE: the day count is an observed metric of the
      // write, and the PNG raster reads the written chart parquet back
      // instead of re-running the (lat, lon, lday) aggregation
      val chartsPath = s"$workRoot/charts/$sourceVersion"
      val daily = merged
        .withColumn("uha", expr("CASE WHEN CAST(floor(lon / 15.0 + 0.5) AS BIGINT) > 12" +
          " THEN CAST(floor(lon / 15.0 + 0.5) AS BIGINT) - 24" +
          " ELSE CAST(floor(lon / 15.0 + 0.5) AS BIGINT) END"))
        .withColumn("lday", expr("CAST(floor(CAST(aoff + uha AS DOUBLE) / 24.0) AS BIGINT)"))
        .groupBy($"lat", $"lon", $"lday")
        .agg(max($"utci_c").as("hi"), min($"utci_c").as("lo"))
      val days = new org.apache.spark.sql.Observation()
      daily.observe(days, size(collect_set($"lday")).as("n"))
        .write.mode("overwrite").parquet(chartsPath)
      val chartDays = days.get("n").asInstanceOf[Int]
      val charts = spark.read.schema(daily.schema).parquet(chartsPath)
      // ---- PNG rendering + chart catalog (main.py:399-443): the
      // reference's fig.savefig becomes a JDK ImageIO raster of the
      // banded field. Every chart is encoded in one distributed pass
      // (one group per (day, vertex)) and only the PNG bytes reach
      // the driver. The storage PUT is environment-bound (zero
      // egress), so the driver writes the files into the work dir in
      // sorted order and updates the catalog after each one, like
      // the upload → set_status sequence (main.py:425-440)
      val nPng = graft.operators.ChartPng.renderAll(
        graft.operators.Weather.chartRaster(
          charts.filter($"lday" >= t.earliestChartDay), "t"),
        java.nio.file.Paths.get(workRoot, "charts_png", sourceVersion),
        sourceVersion) { (day, _) =>
        status.set(s"globalCharts.$day", sourceVersion)
      }
      // prune catalog entries older than the earliest retained day
      // (main.py:352-359: the reference deletes globalCharts.<date>
      // keys before earliest_global_chart_date). Only day-number keys
      // are this job's; any other suffix (e.g. the reference's own
      // date keys) is left alone rather than failing the run.
      status.fetch().keys
        .filter(_.startsWith("globalCharts."))
        .filter(_.stripPrefix("globalCharts.").toLongOption
          .exists(_ < t.earliestChartDay))
        .foreach(status.unset)
      timer.log(s"chart data written, $nPng PNGs rendered")

      // ---- persist + bookkeeping (main.py:326-336)
      store.save(merged, sourceVersion)
      status.set("latestSuccessfulUpdateSource", sourceVersion)
      Summary("completed", mergedRows, uploadedDocs, chartDays)
    } catch {
      // the reference texts the admin then re-raises (utils.py:15-30).
      // NonFatal only: interrupts / fatal JVM errors propagate as-is.
      case scala.util.control.NonFatal(e) =>
        Alert.fail(s"ETL: update $sourceVersion failed: ${e.getMessage}", e)
    } finally {
      // release the cache and the grid's checkpoint on BOTH paths — a
      // failed run must not leak them until session end
      if (cached != null) cached.unpersist()
      if (grid != null) Lineage.freeCheckpoint(grid)
      status.releaseUpdateLock()
    }
  }
}
