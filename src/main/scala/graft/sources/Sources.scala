package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.Versioned

/** Source/sink surface mirrored from the reference container:
  *
  *  - [[GridSource]] — the OPeNDAP/xarray ingest
  *    (/root/reference/main.py:81-107): long-format weather grids
  *    with the reference's variable/box/hour-range slicing, as
  *    pushdown-friendly parquet reads (xarray `.sel`/`.isel` become
  *    filters that reach the scan).
  *  - [[ForecastStore]] — the GCS `w4h_data.nc` persistence
  *    (main.py:209-217, 331-336): save/load the latest forecast with
  *    an atomic directory swap, plus the combine_first merge with a
  *    time cutoff (main.py:245-250) as a library call.
  *  - [[Catalog]] — the NOMADS scrape (main.py:39-62): discovery of
  *    the latest complete (date, cycle) source from a catalog table.
  */
object GridSource {

  /** Lat/lon box, inclusive, as in `ds.sel(lat=slice(...), lon=...)`. */
  case class Box(south: Double, north: Double, west: Double, east: Double)

  /** Read a long-format grid (lat, lon, ts, vars...) keeping only
    * `vars`, the box, and forecast hours [hourFrom, hourTo) relative
    * to the grid's first timestamp — the reference's
    * `isel(time=slice(1, 121))`. All filters are scan-level
    * (`PushedFilters` on lat/lon; the hour window needs the min ts,
    * resolved via a scalar subquery-style first pass).
    */
  def read(spark: SparkSession, path: String, vars: Seq[String],
      box: Box, hourFrom: Int, hourTo: Int): DataFrame = {
    val base = spark.read.parquet(path)
      .filter(col("lat") >= box.south && col("lat") <= box.north &&
        col("lon") >= box.west && col("lon") <= box.east)
    val t0 = base.agg(min("ts")).head().getTimestamp(0)
    val lo = new java.sql.Timestamp(t0.getTime + hourFrom * 3600000L)
    val hi = new java.sql.Timestamp(t0.getTime + hourTo * 3600000L)
    base.filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
      .select((Seq("lat", "lon", "ts") ++ vars).map(col): _*)
  }
}

/** Persisted latest-forecast store with atomic swap: writers never
  * leave a half-written "current" state (write a version directory,
  * commit it, then atomically repoint the `CURRENT` marker — the
  * parquet analog of the reference's download-merge-upload of
  * `w4h_data.nc`). Versions are named by the caller; the commit,
  * listing, marker swap and reclaim are [[graft.store.Versioned]]'s.
  */
class ForecastStore(store: Versioned) {
  def this(root: String) = this(Versioned(root))

  private def current(): Option[String] = store.read("CURRENT").map(_.trim)

  def currentPath(): Option[String] = current().map(store.path)

  def load(spark: SparkSession): Option[DataFrame] =
    current().flatMap(loadVersion(spark, _))

  /** Write `df` as the new current version (atomic marker swap).
    * The version's manifest is the sorted list of its committed data
    * files, the Iceberg-style source of truth orphan detection needs:
    * a directory listing alone cannot tell a committed file from a
    * failed task's leftover.
    */
  def save(df: DataFrame, version: String): Unit = {
    // record RELATIVE paths, walked recursively — so a version
    // written with a nested/partitioned layout is fully manifested
    // and orphan reclaim can never mistake committed data for junk
    def walk(rel: String): Seq[String] =
      store.list(if (rel.isEmpty) version else s"$version/$rel").flatMap {
        case (n, isDir) =>
          val r = if (rel.isEmpty) n else s"$rel/$n"
          if (isDir) walk(r)
          else if (n.endsWith(".parquet")) Seq(r)
          else Seq.empty
      }
    store.commit(version) { dir =>
      df.write.mode("overwrite").parquet(dir)
      walk("").sorted
    }
    store.replace("CURRENT", version)
  }

  /** ROLLBACK: repoint CURRENT to an EXISTING stored version —
    * Iceberg's `rollback_to_snapshot`: the undo every versioned
    * store owes its operators when a bad batch lands. Pure
    * metadata (one atomic marker swap); no data file is touched,
    * so the rolled-past version stays readable for forensics
    * ([[loadVersion]]) until vacuum's retention reclaims it.
    * Returns false (and changes nothing) if the version does not
    * exist — rollback must never invent a target.
    */
  def rollback(version: String): Boolean = {
    if (!store.isDir(version)) false
    else { store.replace("CURRENT", version); true }
  }

  private def metaFile(n: String): Boolean =
    n == Versioned.Manifest || n == "_SUCCESS" || n.endsWith(".crc")

  /** Store-relative paths no manifest references — failed-task
    * leftovers, stale side files, abandoned `_temporary` trees: the
    * reclaim target of Iceberg's `remove_orphan_files`. A version
    * dir WITHOUT a manifest (pre-manifest store) is left alone; a
    * directory inside a version is orphan WHOLESALE only when no
    * manifest entry lives beneath it (manifests record relative
    * paths, so a nested/partitioned layout's data dirs are
    * protected and swept file-by-file instead); metadata files
    * (CURRENT, the manifest, _SUCCESS, .crc) are never orphans.
    * Detection is metadata-only — no data file is read.
    */
  def orphans(): Seq[String] = {
    val rootLoose = store.list("").collect {
      case (n, false) if n != "CURRENT" && !metaFile(n) => n
    }
    val inVersions = versions().map(_._1).flatMap { v =>
      store.manifest(v).toSeq.flatMap { mf =>
        val listed = mf.toSet
        def sweep(rel: String): Seq[String] =
          store.list(if (rel.isEmpty) v else s"$v/$rel").flatMap { case (n, isDir) =>
            val r = if (rel.isEmpty) n else s"$rel/$n"
            if (isDir) {
              if (listed.exists(_.startsWith(r + "/"))) sweep(r)
              else Seq(s"$v/$r")
            } else if (metaFile(n) || listed.contains(r)) Seq.empty
            else Seq(s"$v/$r")
          }
        sweep("")
      }
    }
    (rootLoose ++ inVersions).sorted
  }

  /** Delete every orphan (recursively for orphan directories) and
    * return what was removed — the reclaim half of the audit. Never
    * touches manifest-listed data, version markers, or metadata.
    */
  def removeOrphans(): Seq[String] = {
    val os = orphans()
    os.foreach(store.delete)
    os
  }

  /** TIME TRAVEL: read a specific stored version by name, whether or
    * not it is current — the AS OF read every versioned store owes
    * its consumers (reproducing yesterday's training run, auditing
    * what a model saw, diffing survivor sets across curation
    * policies). A version is immutable once written (save() never
    * rewrites an existing dir, it swaps the CURRENT marker), so this
    * read is stable under concurrent writers; it races only vacuum,
    * which is the retention contract (keep N versions = N readable
    * points in time).
    */
  def loadVersion(spark: SparkSession, version: String): Option[DataFrame] =
    if (!store.isDir(version)) None
    else Some(store.manifest(version) match {
      // COMMITTED-READ semantics (the Iceberg reader contract):
      // scan exactly the manifest-listed files, never the
      // directory listing — so failed-task leftovers and
      // half-written junk sitting next to committed data can
      // neither corrupt nor crash a read (p17 proves this with
      // planted orphans).
      case Some(files) =>
        spark.read.parquet(files.map(f => store.path(s"$version/$f")): _*)
      case None => spark.read.parquet(store.path(version))
    })

  /** Numeric-aware version order: "v10" must outrank "v2" (falls back
    * to name order for non-v<N> version schemes). */
  private def num(n: String): Long =
    (if (n.startsWith("v")) n.drop(1) else n).toLongOption.getOrElse(Long.MinValue)

  /** All readable version names, oldest first, with the current one
    * flagged.
    */
  def versions(): Seq[(String, Boolean)] = {
    val cur = current()
    store.list("").collect { case (n, true) => n }
      .sortBy(n => (num(n), n))
      .map(n => (n, cur.contains(n)))
  }

  /** Delete all but the newest `keep` version directories, never the
    * current one — the retention pass any version-per-write store
    * needs (s14's MERGE sink writes one version per micro-batch, so
    * an unbounded stream would otherwise accumulate forever). Safe
    * against readers of CURRENT: the marker is never repointed here,
    * and the current version is always retained regardless of age.
    * Returns the reclaimed version names.
    */
  def vacuum(keep: Int): Seq[String] = {
    require(keep >= 1, "must keep at least one version")
    val cur = current()
    store.reclaim(versions().map(_._1).dropRight(keep).filterNot(cur.contains))
  }

  /** combine_first: prefer `fresh` rows, keep `previous` rows for keys
    * it lacks, and clip everything before `cutoff` — the reference's
    * merge of a new forecast over the stored one (main.py:245-250).
    * One full-outer join on the grid key.
    */
  def combineFirst(fresh: DataFrame, previous: DataFrame,
      keys: Seq[String], valueCols: Seq[String],
      cutoffCol: String, cutoff: java.sql.Timestamp): DataFrame = {
    val f = fresh.select(keys.map(col) ++ valueCols.map(c => col(c).as(s"__f_$c")): _*)
    val p = previous.select(keys.map(col) ++ valueCols.map(c => col(c).as(s"__p_$c")): _*)
    f.join(p, keys, "full_outer")
      .select(keys.map(col) ++ valueCols.map(c =>
        coalesce(col(s"__f_$c"), col(s"__p_$c")).as(c)): _*)
      .filter(col(cutoffCol) >= lit(cutoff))
  }
}

/** Latest-source discovery over a catalog of (date, cycle, complete)
  * — the scrape of the NOMADS directory listing reduced to its
  * semantics: the max complete (date, cycle), and "is it newer than
  * what we last used".
  */
object Catalog {
  def latestComplete(catalog: DataFrame): Option[(String, String)] = {
    val rows = catalog.filter(col("complete"))
      .orderBy(col("date").desc, col("cycle").desc)
      .limit(1).collect()
    rows.headOption.map(r => (r.getAs[String]("date"), r.getAs[String]("cycle")))
  }

  def isNewer(candidate: (String, String), lastUsed: Option[(String, String)]): Boolean =
    lastUsed.forall { last =>
      candidate._1 > last._1 || (candidate._1 == last._1 && candidate._2 > last._2)
    }
}
