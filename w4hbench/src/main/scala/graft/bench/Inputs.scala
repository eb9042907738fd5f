package graft.bench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded generator of the two tables `W4hJob.run` reads, in the
  * layout `graft.Tables` loads: `<dir>/events.parquet` and
  * `<dir>/part.parquet`, each a directory of parquet files with
  * deterministic names, so one seed always gives byte-identical files.
  *
  * The thermal chain maps an event to the grid cell
  * (`user_id % 29`, `(event_id * 7) % 72`) and to the hour of the year
  * of `ts`. A block of events covers `hours` hours from `hour0` with
  * `perCell` events per cell: event `i` goes to cell `i % 2088`, and
  * its `k = i / 2088`-th event lands at hour offset
  * `(k * hours / perCell + cell) % hours`. With `perCell >= hours`
  * every cell-hour is covered `perCell / hours` times; below that each
  * cell gets `perCell` distinct hours. [[Block.cellHours]] is that
  * rule in plain Scala, the model the output checks compare against.
  */
object Inputs {
  val Lats = 29
  val Lons = 72
  val Cells: Int = Lats * Lons
  val PartRows = 20000
  /** 2024-01-01T00:00:00Z: hour `h` of a block is hour-of-year `h`. */
  val EpochMicros = 1704067200L * 1000000L

  case class Block(hour0: Int, hours: Int, perCell: Int) {
    def rows: Long = perCell.toLong * Cells
    /** The distinct hours-of-year cell `cell` receives events in. */
    def cellHours(cell: Int): Iterator[Int] =
      (0 until perCell).iterator
        .map(k => hour0 + ((k.toLong * hours / perCell + cell) % hours).toInt)
        .distinct
  }

  def lonOf(cell: Int): Double = (cell % Lons) * 5.0 - 177.5

  /** A session for writing inputs: micros timestamps (read back as
    * `TimestampType`) without touching the caller's session conf. */
  def writer(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s
  }

  /** `count` contiguous blocks shaped like `first` (block `b` starts at
    * `first.hour0 + b * first.hours`), `files` partitions each. */
  def eventsDf(ws: SparkSession, seed: Long, first: Block, count: Int,
      files: Int): DataFrame = {
    // event ids stay unique across blocks: each block owns the id range
    // from hour0 << 24 (a block holds far fewer than 2^24 events)
    val g = "(h0 * 16777216 + i)"
    ws.range(0, first.rows * count, 1, count * files)
      .selectExpr(s"${first.hour0} + (id div ${first.rows}) * ${first.hours} AS h0",
        s"id % ${first.rows} AS i")
      .selectExpr("h0", "i", s"i % $Cells AS cell", s"i div $Cells AS k")
      .selectExpr(
        // (event_id * 7) % 72 == cell % 72, since 7 * 31 == 1 (mod 72)
        s"$g * $Lons + ((cell % $Lons) * 31) % $Lons AS event_id",
        s"timestamp_micros($EpochMicros + (h0 + pmod(k * ${first.hours} div ${first.perCell} + cell, ${first.hours}))" +
          s" * 3600000000 + pmod(xxhash64(${seed}L, $g, 3), 3600000000)) AS ts",
        s"pmod(xxhash64(${seed}L, $g, 1), 52) * $Lats + cell div $Lons AS user_id",
        s"CAST(pmod(xxhash64(${seed}L, $g, 2), 56000) AS DOUBLE) / 100.0 AS value")
  }

  def partDf(ws: SparkSession, seed: Long): DataFrame =
    ws.range(0, PartRows, 1, 1).selectExpr("id AS p_partkey",
      s"CAST(1 + pmod(xxhash64(${seed}L, id, 4), 50) AS INT) AS p_size")

  /** Writes `df` with one file per partition, partition `p` as
    * `out/name(p)` (Spark's own names carry a random job id). Returns
    * the files written, in partition order. */
  def writeFiles(df: DataFrame, out: Path, name: Int => String): Seq[Path] = {
    val tmp = out.resolveSibling(out.getFileName.toString + ".tmp")
    df.write.mode("overwrite").parquet(tmp.toString)
    Files.createDirectories(out)
    val parts = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
    val moved = parts.toSeq.map { p =>
      // part-NNNNN-<job id>-c000.snappy.parquet
      val pid = p.getFileName.toString.split('-')(1).toInt
      Files.move(p, out.resolve(name(pid)))
    }
    Fs.rm(tmp)
    moved
  }

  /** Writes `count` contiguous blocks from `first` under `out`, block
    * files named `h<hour0>-<n>.parquet`. Returns them per block. */
  def writeEvents(spark: SparkSession, out: Path, seed: Long, first: Block,
      count: Int, files: Int): Seq[Seq[Path]] = {
    def h0(p: Int) = first.hour0 + (p / files) * first.hours
    writeFiles(eventsDf(writer(spark), seed, first, count, files), out,
      p => f"h${h0(p)}-${p % files}%05d.parquet")
      .groupBy(f => f.getFileName.toString.takeWhile(_ != '-')).toSeq
      .sortBy(_._1.drop(1).toInt).map(_._2.sortBy(_.toString))
  }

  def writePart(spark: SparkSession, out: Path, seed: Long): Seq[Path] =
    writeFiles(partDf(writer(spark), seed), out, p => f"part-$p%05d.parquet")

  /** Lays out an input directory from already-written files (hard
    * links, so a cycle window shares its 6-hour blocks with its
    * neighbours instead of copying them). */
  def link(dir: Path, events: Seq[Path], part: Seq[Path]): Unit = {
    for ((table, files) <- Seq("events" -> events, "part" -> part)) {
      val d = dir.resolve(s"$table.parquet")
      Files.createDirectories(d)
      files.foreach(f => Files.createLink(d.resolve(f.getFileName), f))
    }
  }

  /** The near-land mask cells the job should upload: the `part` rows
    * with `p_size > 25`, mapped to cells by the job's formula. */
  def maskCells(spark: SparkSession, dir: Path): Set[(Double, Double)] =
    graft.Tables.part(spark, dir.toString).collect().iterator
      .filter(r => r.getAs[Int]("p_size") > 25)
      .map { r =>
        val k = r.getAs[Long]("p_partkey")
        ((k % 29).toDouble * 5.0 - 70.0, ((k * 3) % 72).toDouble * 5.0 - 177.5)
      }.toSet
}
