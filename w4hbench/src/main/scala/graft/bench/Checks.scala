package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.pipeline.{StatusStore, W4hJob}

/** What one run must produce, derived from the generator's rule and
  * the reference's anchor arithmetic, independently of the job's code.
  * `hours(cell)` is the sorted set of hours-of-year the run's merged
  * forecast holds for the cell.
  */
case class Expected(hours: Array[Array[Int]], newHours: Array[Array[Int]],
    mask: Set[(Double, Double)]) {
  private val minNew = newHours.iterator.filter(_.nonEmpty).map(_.head).min
  private val now = minNew + 1
  /** The run's anchors (main.py:219-243): previous rows before
    * `cutoff` are dropped; charts before `earliestChartDay` are not kept. */
  val cutoff: Long = math.min(math.floorDiv(now - 25, 24) * 24L,
    math.floorDiv(minNew, 24) * 24L - 12)
  val earliestChartDay: Long = math.floorDiv(now - 11, 24) - 1

  def mergedRows: Long = hours.iterator.map(_.length.toLong).sum

  /** Local days charted at or after the retention day: the job's
    * hour-angle shift, in plain arithmetic. */
  def retainedDays: Int = {
    val days = for {
      cell <- hours.indices.iterator
      uha = {
        val u = math.floor(Inputs.lonOf(cell) / 15.0 + 0.5).toLong
        if (u > 12) u - 24 else u
      }
      h <- hours(cell).iterator
    } yield math.floorDiv(h + uha, 24L)
    days.filter(_ >= earliestChartDay).toSet.size
  }

  /** The next cycle's expectation: this run's hours kept from the next
    * run's cutoff, the fresh window over them. */
  def next(fresh: Array[Array[Int]]): Expected = {
    val cut = Expected(fresh, fresh, mask).cutoff
    Expected(hours.indices.map(c => (hours(c).filter(_ >= cut) ++ fresh(c)).distinct.sorted).toArray,
      fresh, mask)
  }
}

/** Outputs of one finished run, read back from its work root. */
case class Outputs(docsDigest: String, docsBytes: Long, storeBytes: Long)

object Checks {
  def uploads(root: Path, version: String): Path = root.resolve("uploads").resolve(version)
  def pngDir(root: Path, version: String): Path = root.resolve("charts_png").resolve(version)
  def storeDir(root: Path, version: String): Path = root.resolve("forecasts").resolve(version)

  /** Sorted upload lines (chunk file names depend on partitioning, the
    * documents do not). */
  def docLines(root: Path, version: String): Array[String] =
    Fs.files(uploads(root, version)).iterator
      .filter(_.getFileName.toString.endsWith(".jsonl"))
      .flatMap(f => new String(Files.readAllBytes(f), UTF_8).split("\n").iterator)
      .filter(_.nonEmpty).toArray.sorted

  private val Doc = """\{"_id":"([^,]+),([^"]+)","forecastStart":(-?\d+),"series":"([^"]*)"\}""".r

  /** Checks a completed run against `exp`; returns the failures (empty
    * when the run is correct) and the outputs the caller compares. */
  def run(s: W4hJob.Summary, root: Path, version: String,
      exp: Expected): (Seq[String], Outputs) = {
    val bad = Seq.newBuilder[String]
    def expect(ok: Boolean, what: => String): Unit = if (!ok) bad += what
    expect(s.outcome == "completed", s"outcome ${s.outcome}")
    expect(s.mergedRows == exp.mergedRows, s"mergedRows ${s.mergedRows} != ${exp.mergedRows}")
    expect(s.uploadedDocs == exp.mask.size, s"uploadedDocs ${s.uploadedDocs} != mask cells ${exp.mask.size}")

    val lines = docLines(root, version)
    expect(lines.length == exp.mask.size, s"${lines.length} documents != ${exp.mask.size}")
    val seen = scala.collection.mutable.Set.empty[(Double, Double)]
    lines.foreach {
      case Doc(la, lo, fs, series) =>
        val (lat, lon) = (la.toDouble, lo.toDouble)
        seen += ((lat, lon))
        val cell = math.round((lat + 70.0) / 5.0).toInt * Inputs.Lons +
          math.round((lon + 177.5) / 5.0).toInt
        val hs = exp.hours(cell)
        val enc = if (series.isEmpty) Array.empty[Long] else series.split(',').map(_.toLong)
        expect(enc.length == hs.length, s"cell $lat,$lon: series of ${enc.length} != ${hs.length} hours")
        expect(hs.nonEmpty && fs.toLong == hs.head, s"cell $lat,$lon: forecastStart $fs")
        // every value decodes into UTCI/WBGT codes 0..1999 and the
        // hour offset of its place in the sorted series
        val decoded = enc.indices.forall { i =>
          val e = enc(i)
          e >= 0 && e / 400000 <= 1999 && (e / 200) % 2000 <= 1999 &&
            i < hs.length && e % 200 == hs(i) % 200
        }
        expect(decoded, s"cell $lat,$lon: series does not decode to its hours")
      case l => bad += s"malformed document ${l.take(80)}"
    }
    expect(seen.toSet == exp.mask, "documents do not cover exactly the mask cells")

    val pngs = Fs.files(pngDir(root, version)).map(_.getFileName.toString)
    expect(pngs.size == 2 * exp.retainedDays,
      s"${pngs.size} PNGs != 2 x ${exp.retainedDays} retained days")
    val st = new StatusStore(root.toString).fetch()
    expect(st.get("latestSuccessfulUpdateSource").contains(version), s"status source ${st.get("latestSuccessfulUpdateSource")}")
    expect(st.get("isUpdating").contains("false"), s"status isUpdating ${st.get("isUpdating")}")

    val out = Outputs(
      docsDigest = Fs.sha256(lines.iterator.map(_.getBytes(UTF_8))),
      docsBytes = Fs.bytes(uploads(root, version), ".jsonl"),
      storeBytes = Fs.bytes(storeDir(root, version), ".parquet"))
    (bad.result(), out)
  }

  /** Everything a run publishes, as one digest per output: docs, chart
    * parquet rows, PNG names and bytes, the status map and the store
    * rows. Row sets are sorted, so partition layout does not count. */
  def published(spark: SparkSession, root: Path, version: String): Map[String, String] = {
    def rows(p: Path): String =
      Fs.sha256(spark.read.parquet(p.toString).collect().map(_.mkString("|")).sorted
        .iterator.map(_.getBytes(UTF_8)))
    Map(
      "docs" -> Fs.sha256(docLines(root, version).iterator.map(_.getBytes(UTF_8))),
      "chart_rows" -> rows(root.resolve("charts").resolve(version)),
      "pngs" -> Fs.treeDigest(pngDir(root, version)),
      "status" -> new StatusStore(root.toString).fetch().toSeq.sorted.mkString(";"),
      "store_rows" -> rows(storeDir(root, version)))
  }

  def version(hour: Int): String = f"gfs${hour / 24}%03d_${hour % 24}%02dz"
}
