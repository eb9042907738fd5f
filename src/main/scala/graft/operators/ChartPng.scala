package graft.operators

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import javax.imageio.ImageIO
import javax.imageio.stream.MemoryCacheImageOutputStream
import org.apache.spark.sql.DataFrame

/** PNG emission for the w18 chart raster — the reference's rendering
  * stage (main.py:399-443: `contourf` → `fig.savefig` → storage PUT
  * → catalog status) with JDK-only tooling (`javax.imageio`; no
  * external raster library needed after all). The image is the DATA
  * raster: one pixel per grid cell, band color from the reference's
  * 10-color palette, north up, west→east, the cyclic-wrap column
  * included so the left and right edges agree like a closed global
  * contour. Map projection, coastlines and contour smoothing are
  * presentation geometry (cartopy/matplotlib territory) and
  * deliberately out of scope — the banded field is what the chart
  * communicates. The storage PUT stays environment-bound (zero
  * egress): files land in an output directory and the chart catalog
  * is updated per rendered file, mirroring the reference's
  * upload → `set_status` sequence (main.py:425-440). Encoding is
  * distributed (one task group per chart, see [[renderAll]]); only
  * the file writes and catalog updates stay on the driver.
  */
object ChartPng {

  /** The chart palette (main.py:370-381), index = w14/w18 band. */
  val palette: IndexedSeq[Int] = IndexedSeq(
    0x004adb, 0x306cde, 0x468de0, 0x5aadde, 0x75cdd6,
    0xb3e8b6, 0xffde98, 0xfcad6e, 0xf27946, 0xe43a20)

  /** Encode ONE chart — the cells (lat, glon, band) of a single
    * (lday, vertex) slice of w18's raster — to PNG bytes. Returns
    * (width, height, bytes). Pure and in memory (the ImageIO writer
    * goes through a [[MemoryCacheImageOutputStream]], never a temp
    * cache file), so it runs the same on the driver and inside an
    * executor task.
    */
  def encode(cells: Array[(Double, Double, Int)]): (Int, Int, Array[Byte]) = {
    require(cells.nonEmpty, "empty chart slice")
    val lats = cells.map(_._1).distinct.sorted(Ordering[Double].reverse) // north up
    val lons = cells.map(_._2).distinct.sorted // west -> east, wrap col last
    val latIdx = lats.zipWithIndex.toMap
    val lonIdx = lons.zipWithIndex.toMap
    val img = new BufferedImage(lons.length, lats.length, BufferedImage.TYPE_INT_RGB)
    cells.foreach { case (la, lo, b) =>
      img.setRGB(lonIdx(lo), latIdx(la), palette(b))
    }
    val bytes = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bytes)
    try require(ImageIO.write(img, "png", ios), "no PNG writer")
    finally ios.close()
    (lons.length, lats.length, bytes.toByteArray)
  }

  /** Render every (lday, vertex) chart of a w18-shaped raster into
    * `outDir` with the reference's file-name shape
    * (`{day}Z_utci_{vertex}_from_{sourceVersion}.png`, main.py:418),
    * calling `onRendered(day, fileName)` after each file lands — the
    * hook where W4hJob updates the chart catalog.
    *
    * One distributed pass, whatever the chart count: the raster is
    * grouped by (lday, vertex), each group — one chart's bounded
    * grid — is encoded to PNG bytes inside its task, and only the
    * (day, vertex, bytes) rows are collected. The driver then writes
    * the files in sorted (day, vertex) order and runs the callback
    * after each one, keeping the reference's per-file
    * upload → `set_status` order (main.py:401-443) on the driver.
    */
  def renderAll(raster: DataFrame, outDir: Path, sourceVersion: String)(
      onRendered: (Long, String) => Unit): Int = {
    val sess = raster.sparkSession
    import sess.implicits._
    val pngs = raster
      .selectExpr("lday", "vertex", "lat", "glon", "CAST(band AS INT) AS band")
      .as[(Long, String, Double, Double, Int)]
      .groupByKey(c => (c._1, c._2))
      .mapGroups { (key: (Long, String), cells: Iterator[(Long, String, Double, Double, Int)]) =>
        (key._1, key._2, encode(cells.map(c => (c._3, c._4, c._5)).toArray)._3)
      }
      .collect()
      .sortBy(c => (c._1, c._2))
    if (pngs.nonEmpty) Files.createDirectories(outDir)
    pngs.foreach { case (day, vertex, png) =>
      val name = s"${day}Z_utci_${vertex}_from_$sourceVersion.png"
      Files.write(outDir.resolve(name), png)
      onRendered(day, name)
    }
    pngs.length
  }
}
