package graft

import org.scalatest.funsuite.AnyFunSuite
import javax.imageio.ImageIO

/** Pixel-exact checks of the PNG chart emission (ChartPng) against
  * the w18 banded raster it renders.
  */
class ChartPngSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = SharedSpark.sf

  test("ChartPng renders the banded field pixel-exactly, wrap column closed") {
    import spark.implicits._
    val raster = graft.operators.Weather.w18(spark, sf)
    val (day, vertex) = raster.select($"lday".as[Long], $"vertex".as[String])
      .distinct().collect().sorted.head
    val slice = raster.filter($"lday" === day && $"vertex" === vertex)
    val rows = slice.select($"lat".as[Double], $"glon".as[Double],
      $"band".as[Int]).collect()
    val (w, h, png) = graft.operators.ChartPng.encode(rows)
    assert(w == rows.map(_._2).distinct.length)
    assert(h == rows.map(_._1).distinct.length)
    val img = ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == w && img.getHeight == h)
    // every cell's pixel is exactly its band's palette entry
    val lats = rows.map(_._1).distinct.sorted(Ordering[Double].reverse)
    val lons = rows.map(_._2).distinct.sorted
    val li = lats.zipWithIndex.toMap
    val gi = lons.zipWithIndex.toMap
    rows.foreach { case (la, lo, b) =>
      assert((img.getRGB(gi(lo), li(la)) & 0xffffff) ==
        graft.operators.ChartPng.palette(b))
    }
    // the cyclic wrap column: left and right edges agree pixelwise
    (0 until h).foreach(y => assert(img.getRGB(0, y) == img.getRGB(w - 1, y)))
  }

  /** A synthetic w18-shaped raster: `days` local days × both
    * vertices, day d on a (3 + d) × (4 + d) grid so every slice has
    * its own size, and a band that differs per cell, day and vertex.
    */
  private def raster(days: Int) = {
    import spark.implicits._
    (for {
      d <- 0 until days; v <- Seq("highs", "lows")
      i <- 0 until 3 + d; j <- 0 until 4 + d
    } yield (d.toLong + 100, v, 10.0 - 2.5 * i, 5.0 * j,
      (i * 7 + j * 3 + d + (if (v == "lows") 5 else 0)) % 10))
      .toDF("lday", "vertex", "lat", "glon", "band")
  }

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

  test("renderAll: one file per (day, vertex), pixel-exact, callback in sorted order after each file lands") {
    import spark.implicits._
    val r = raster(days = 3)
    val dir = java.nio.file.Paths.get(graft.store.Versioned.tempRoot("graft_pngs")).resolve("out")
    val seen = Seq.newBuilder[(Long, String)]
    val n = graft.operators.ChartPng.renderAll(r, dir, "gfs20240101_00z") { (day, name) =>
      assert(java.nio.file.Files.isRegularFile(dir.resolve(name)), s"$name not on disk yet")
      seen += ((day, name))
    }
    val keys = for (d <- 100L to 102L; v <- Seq("highs", "lows")) yield (d, v)
    assert(n == 6)
    assert(seen.result() ==
      keys.map { case (d, v) => (d, s"${d}Z_utci_${v}_from_gfs20240101_00z.png") })
    assert(java.nio.file.Files.list(dir).count() == 6)
    keys.foreach { case (d, v) =>
      val cells = r.filter($"lday" === d && $"vertex" === v)
        .select($"lat".as[Double], $"glon".as[Double], $"band".as[Int]).collect()
      val img = ImageIO.read(dir.resolve(s"${d}Z_utci_${v}_from_gfs20240101_00z.png").toFile)
      assert(img.getWidth == 4 + (d - 100) && img.getHeight == 3 + (d - 100))
      val lats = cells.map(_._1).distinct.sorted(Ordering[Double].reverse)
      val lons = cells.map(_._2).distinct.sorted
      val li = lats.zipWithIndex.toMap
      val gi = lons.zipWithIndex.toMap
      cells.foreach { case (la, lo, b) =>
        assert((img.getRGB(gi(lo), li(la)) & 0xffffff) ==
          graft.operators.ChartPng.palette(b), s"day $d $v cell ($la, $lo)")
      }
    }
    // an empty raster renders nothing and never calls back
    val empty = dir.resolveSibling("empty")
    assert(graft.operators.ChartPng.renderAll(r.limit(0), empty, "v") { (_, _) =>
      fail("callback on an empty raster") } == 0)
    assert(!java.nio.file.Files.exists(empty))
  }

  test("renderAll's Spark job count does not grow with the chart count") {
    val dir = java.nio.file.Paths.get(graft.store.Versioned.tempRoot("graft_pngjobs"))
    def render(days: Int) = {
      val r = raster(days)
      withJobCount(graft.operators.ChartPng.renderAll(r, dir.resolve(s"d$days"), "v")((_, _) => ()))
    }
    val (n2, jobs2) = render(1)
    val (n6, jobs6) = render(3)
    assert(n2 == 2 && n6 == 6)
    assert(jobs2 >= 1 && jobs2 == jobs6, s"2 charts: $jobs2 jobs, 6 charts: $jobs6 jobs")
  }

  test("m10 JPEG roundtrip: golden decoded features at fixed quality") {
    import graft.operators.Media
    // pinned decoded quadrant sums at jpegQuality = 0.9f — regression
    // guard against codec-parameter drift (same JVM class of encoder;
    // a quality or subsampling change moves these immediately)
    val golden = Seq(
      "JPG the quick brown fox jumps over the lazy dog again and more" ->
        Seq(1511L, 1442L, 1490L, 1325L),
      "JPGaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa" ->
        Seq(1484L, 1555L, 1555L, 1485L),
      "JPG0123456789!@#$%^&*()_+-=[]{}|;:,.<>?/~` ABCDEFGHIJKLMNOPQRST" ->
        Seq(939L, 1073L, 1129L, 1091L))
    golden.foreach { case (s0, want) =>
      val s = s0.padTo(64, ' ')
      val bytes = Media.encodeJpeg8x8(s)
      // genuine JPEG: SOI marker FF D8
      assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
      val dec = Media.jpegLuminance(bytes)
      val qd = Array.ofDim[Long](4)
      (0 until 64).foreach { i =>
        qd((i / 8 / 4) * 2 + (i % 8 / 4)) += dec(i)
      }
      assert(qd.toSeq == want, s"golden drift for '${s0.take(16)}…'")
    }
  }

  test("m10 decode error stays inside the documented JPEG tolerance") {
    import graft.operators.Media
    // random payloads over the full masked-char domain: every pixel
    // within jpegPixelTol of its source, every quadrant sum within
    // jpegQuadrantTol — the property the oracle's TRUE booleans gate
    val rnd = new scala.util.Random(11)
    (1 to 100).foreach { _ =>
      val s = new String(Array.fill(64)((32 + rnd.nextInt(95)).toChar))
      val src = Array.tabulate(64)(i => s.charAt(i).toInt & 127)
      val dec = Media.jpegLuminance(Media.encodeJpeg8x8(s))
      val qs = Array.ofDim[Long](4)
      val qd = Array.ofDim[Long](4)
      (0 until 64).foreach { i =>
        val q = (i / 8 / 4) * 2 + (i % 8 / 4)
        qs(q) += src(i); qd(q) += dec(i)
        assert(math.abs(dec(i) - src(i)) <= Media.jpegPixelTol,
          s"pixel $i err ${math.abs(dec(i) - src(i))}")
      }
      (0 until 4).foreach(q =>
        assert(math.abs(qd(q) - qs(q)) <= Media.jpegQuadrantTol))
    }
  }

  test("m11 patches tile the decoded image exactly and match a sequential recompute") {
    import spark.implicits._
    val got = graft.operators.Media.m11(spark, sf).collect()
      .map(r => ((r.getAs[Long]("doc_id"), r.getAs[Int]("py"), r.getAs[Int]("px")),
        (r.getAs[Long]("p_sum"), r.getAs[Long]("p_min"), r.getAs[Long]("p_max")))).toMap
    val docs = Tables.documents(spark, sf)
      .filter("doc_id % 3 = 2")
      .selectExpr("doc_id", "rpad(concat('PAT', substring(text, 1, 253)), 256, ' ') AS s")
      .as[(Long, String)].collect()
    assert(got.size == docs.length * 16, "16 patches per image, no more, no fewer")
    docs.foreach { case (id, s) =>
      val px = Array.tabulate(256)(i => (s.charAt(i).toInt & 127).toLong)
      var total = 0L
      for (py <- 0 until 4; qx <- 0 until 4) {
        val vals = for (dy <- 0 until 4; dx <- 0 until 4)
          yield px((py * 4 + dy) * 16 + qx * 4 + dx)
        val (wSum, wMin, wMax) = (vals.sum, vals.min, vals.max)
        assert(got((id, py, qx)) == ((wSum, wMin, wMax)),
          s"doc $id patch ($py,$qx)")
        total += wSum
      }
      // the grid TILES: patch sums add up to the whole image's
      // luminance — no pixel dropped or double-counted
      assert(total == px.sum, s"doc $id patches do not tile")
    }
  }

  test("m7 intermediate bytes are genuine PNGs with the expected pixels") {
    val rows = graft.operators.Media.m7Png(spark, sf).take(5)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // PNG signature: 0x89 'P' 'N' 'G'
      assert((r.png(0) & 0xff) == 0x89 && r.png(1) == 'P' &&
        r.png(2) == 'N' && r.png(3) == 'G')
      val img = ImageIO.read(new java.io.ByteArrayInputStream(r.png))
      assert(img.getWidth == 8 && img.getHeight == 8)
      // pixel (0,0) is the 'I' of the IMG header — the codec
      // roundtrip preserved the raw value
      assert((img.getRGB(0, 0) & 0xff) == ('I'.toInt & 127))
    }
  }

  test("m13: MJPEG container parses to genuine JPEG frames; decoded scene split matches construction") {
    import graft.operators.Media
    val conts = Media.m13Container(spark, sf).collect()
    assert(conts.nonEmpty)
    conts.take(10).foreach { case (id, video, _) =>
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(video))
      val n = in.readInt()
      assert(n == (8 + id % 9).toInt, s"frame count of doc $id")
      val frames = (0 until n).map { _ =>
        val len = in.readInt(); val b = new Array[Byte](len)
        in.readFully(b); b
      }
      assert(in.available() == 0, "container exactly consumed")
      // every chunk is a genuine JPEG (SOI marker), not a stub blob
      frames.foreach(b =>
        assert((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8, "SOI"))
      // intra-scene motion: consecutive frames differ bytewise, so
      // the per-frame decode provably does distinct work
      assert(frames.sliding(2).forall {
        case Seq(a, b) => !java.util.Arrays.equals(a, b)
        case _ => true
      })
    }
    // the decoded-side segmentation equals the constructed scene
    // structure (scene = frame div 4) with exact source sums, and
    // every frame decoded inside the documented tolerance
    val got = Media.m13(spark, sf).collect()
      .map(r => ((r.getAs[Long]("doc_id"), r.getAs[Long]("scene_id")),
        (r.getAs[Int]("start_frame"), r.getAs[Long]("n_scene_frames"),
          r.getAs[Long]("scene_src_sum"), r.getAs[Boolean]("within_tol"))))
    assert(got.forall(_._2._4), "decode drifted outside the frame tolerance")
    val want = conts.flatMap { case (id, _, s) =>
      val n = (8 + id % 9).toInt
      val base = (0 until 64).map(i => (s.charAt(i) & 63).toLong).sum
      (0 until n).groupBy(_ / 4).toSeq.map { case (sc, fs) =>
        ((id, sc.toLong), (fs.min, fs.size.toLong,
          fs.map(f => base + 4096L * ((f / 4) % 2) + 10L * (f % 4)).sum,
          true))
      }
    }
    assert(got.length == want.length && got.toMap == want.toMap)
  }

  test("m14: chunk walk parses real PNGs; the CRC gate bites on corruption") {
    import graft.operators.Media
    val pngs = Media.m7Png(spark, sf).collect()
    assert(pngs.nonEmpty)
    // the engine result equals a direct per-doc parse
    val got = Media.m14(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("width"), r.getAs[Int]("height"),
        r.getAs[Int]("bit_depth"), r.getAs[Int]("color_type"), r.getAs[Boolean]("sig_ok"),
        r.getAs[Boolean]("ihdr_first"), r.getAs[Boolean]("iend_last"),
        r.getAs[Boolean]("crc_ok"), r.getAs[Boolean]("idat_nonempty"))).toSeq
    val want = pngs.map { p =>
      val m = Media.pngMeta(p.doc_id, p.png)
      (m.doc_id, m.width, m.height, m.bit_depth, m.color_type, m.sig_ok,
        m.ihdr_first, m.iend_last, m.crc_ok, m.idat_nonempty)
    }.sortBy(_._1).toSeq
    assert(got == want)
    assert(got.forall(t => t._2 == 8 && t._3 == 8 && t._4 == 8 && t._5 == 2
      && t._6 && t._7 && t._8 && t._9 && t._10))
    // the verification is REAL: flip one data byte inside the IDAT
    // chunk and the stored CRC no longer matches
    val sample = pngs.head
    val corrupted = sample.png.clone()
    // find IDAT: walk chunks
    var pos = 8
    var idatData = -1
    while (idatData < 0 && pos + 12 <= corrupted.length) {
      val len = ((corrupted(pos) & 0xff) << 24) | ((corrupted(pos+1) & 0xff) << 16) |
        ((corrupted(pos+2) & 0xff) << 8) | (corrupted(pos+3) & 0xff)
      val typ = new String(corrupted, pos + 4, 4, "US-ASCII")
      if (typ == "IDAT" && len > 0) idatData = pos + 8
      pos += 12 + len
    }
    assert(idatData > 0, "no IDAT found")
    corrupted(idatData) = (corrupted(idatData) ^ 0x5a).toByte
    val cm = Media.pngMeta(sample.doc_id, corrupted)
    assert(!cm.crc_ok, "corruption not caught - CRC check is fake")
    assert(cm.sig_ok && cm.ihdr_first, "unrelated flags flipped")
    // truncation kills the IEND/consumed invariant
    val tm = Media.pngMeta(sample.doc_id, sample.png.dropRight(5))
    assert(!tm.iend_last)
  }

  test("m15: WAV roundtrip parses back exactly; each consistency gate bites") {
    import graft.operators.Media
    // build → parse equals a direct sequential recompute of the stats
    val samples = "AUDhello world, this is pcm".getBytes("US-ASCII")
    val wav = Media.buildWav(samples)
    val m = Media.wavMeta(7L, wav)
    val ref = samples.map(b => (b & 0xff) - 128L)
    assert(m.riff_ok && m.wave_ok && m.fmt_ok && m.byte_rate_ok && m.size_ok)
    assert(m.audio_format == 1 && m.channels == 1 && m.sample_rate == 8000
      && m.bits_per_sample == 8)
    assert(m.data_len == samples.length.toLong)
    assert(m.pcm_energy == ref.map(s => s * s).sum)
    assert(m.pcm_peak == ref.map(math.abs).max)
    // odd-length data: RIFF pad byte must keep the walk aligned
    val odd = Media.wavMeta(8L, Media.buildWav(samples.dropRight(1)))
    assert(odd.size_ok && odd.data_len == samples.length - 1L)
    // corrupt the declared byte rate → consistency re-derivation bites
    val badRate = wav.clone(); badRate(28) = (badRate(28) ^ 0x01).toByte
    assert(!Media.wavMeta(7L, badRate).byte_rate_ok)
    // corrupt the RIFF size → declared-vs-actual bites
    val badSize = wav.clone(); badSize(4) = (badSize(4) ^ 0x01).toByte
    assert(!Media.wavMeta(7L, badSize).size_ok)
    // corrupt one PCM byte → the energy is really read from the data chunk
    val badPcm = wav.clone(); badPcm(44) = (badPcm(44) ^ 0x7f).toByte
    assert(Media.wavMeta(7L, badPcm).pcm_energy != m.pcm_energy)
    // flip the WAVE magic → format sniffing bites
    val badMagic = wav.clone(); badMagic(8) = 'X'.toByte
    assert(!Media.wavMeta(7L, badMagic).wave_ok)
  }

  test("m17: MP4 box walk recovers the built tree; every structural gate bites") {
    import graft.operators.Media
    val s = "MP4the quick brown fox jumps over the lazy dog pad".padTo(64, ' ')
    val n = 11
    val mp4 = Media.buildMp4(s, n)
    val m = Media.mp4Meta(3L, mp4)
    val sizes = (0 until n).map(f => 100L + (s.charAt(f).toInt & 63))
    assert(m.major_brand == "isom" && m.brands_ok)
    assert(m.timescale == 1000 && m.duration == 40L * n)
    assert(m.width == 8 && m.height == 8)
    assert(m.n_samples == n.toLong && m.sample_bytes == sizes.sum)
    assert(m.mdat_bytes == sizes.sum && m.stsz_matches_mdat)
    assert(m.sizes_ok && m.moov_before_mdat)
    // corrupt a nested box size → exact size closure bites
    // (moov starts at 24; its first child mvhd's size is at 24+8)
    val badSize = mp4.clone(); badSize(24 + 8 + 3) = (badSize(24 + 8 + 3) ^ 0x01).toByte
    assert(!Media.mp4Meta(3L, badSize).sizes_ok)
    // corrupt one stsz entry → declared-vs-mdat accounting bites
    val stszData = {
      // ftyp 24, moov hdr 8, mvhd 108, trak hdr 8, tkhd 92,
      // mdia hdr 8, mdhd 32, minf hdr 8, stbl hdr 8, stsz hdr+vf+fs+cnt 20
      24 + 8 + 108 + 8 + 92 + 8 + 32 + 8 + 8 + 20
    }
    val badStsz = mp4.clone(); badStsz(stszData + 3) = (badStsz(stszData + 3) ^ 0x02).toByte
    val bm = Media.mp4Meta(3L, badStsz)
    assert(!bm.stsz_matches_mdat && bm.sizes_ok, "stsz gate must bite alone")
    // truncation → the top-level walk no longer closes
    assert(!Media.mp4Meta(3L, mp4.dropRight(3)).sizes_ok)
    // mdat before moov → the ordering gate bites (swap the two spans)
    val moovStart = 24
    val moovLen = 8 + 108 + 8 + 92 + 8 + 32 + 8 + 8 + 20 + 4 * n
    val moovSpan = mp4.slice(moovStart, moovStart + moovLen)
    val mdatSpan = mp4.drop(moovStart + moovLen)
    val swapped = mp4.take(24) ++ mdatSpan ++ moovSpan
    val sm = Media.mp4Meta(3L, swapped)
    assert(!sm.moov_before_mdat && sm.sizes_ok && sm.stsz_matches_mdat)
    // hand-built spec cases: 64-bit largesize and size-0 (to end)
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val free = be32(16) ++ "free".getBytes ++ be32(0) ++ be32(0)
    // largesize mdat: size field 1, 64-bit size 16+5, 5 payload bytes
    val largeMdat = be32(1) ++ "mdat".getBytes ++ be32(0) ++ be32(21) ++
      Array[Byte](1, 2, 3, 4, 5)
    val lm = Media.mp4Meta(4L, free ++ largeMdat)
    assert(lm.sizes_ok && lm.mdat_bytes == 5L)
    // size-0 mdat: extends to end of file
    val zeroMdat = be32(0) ++ "mdat".getBytes ++ Array[Byte](9, 9, 9, 9, 9, 9, 9)
    val zm = Media.mp4Meta(5L, free ++ zeroMdat)
    assert(zm.sizes_ok && zm.mdat_bytes == 7L)
  }


  test("m18: fMP4 walk recovers fragments; every cross-fragment gate bites") {
    import graft.operators.Media
    val s = "FMPthe quick brown fox jumps over the lazy dog pad".padTo(64, ' ')
    val nf = 6
    val f4 = Media.buildFmp4(s, nf)
    val m = Media.fmp4Meta(3L, f4)
    val ks = (1 to nf).map(f => 2 + (s.charAt(f - 1).toInt & 3))
    val bytesTot = (1 to nf).map { f =>
      val c = s.charAt(f - 1).toInt
      (1 to (2 + (c & 3))).map(j => 60L + ((c + 7 * j) & 63)).sum
    }.sum
    assert(m.major_brand == "iso6" && m.brands_ok)
    assert(m.n_fragments == nf.toLong && m.seq_contiguous)
    assert(m.n_samples == ks.sum.toLong && m.sample_bytes == bytesTot)
    assert(m.mdat_bytes == bytesTot && m.frag_sizes_ok)
    assert(m.sizes_ok && m.moov_before_moof)
    assert(m.default_dur == 3600L && m.duration == 3600L * ks.sum)
    // offsets: ftyp 24, moov 332 (mvhd 108 + trak 176 + mvex 40) →
    // fragment 1's moof at 356; inside it mfhd seq at +20, first
    // trun size entry at +64
    val moof1 = 24 + (8 + 108 + (8 + 92 + (8 + 32 + (8 + 28))) + (8 + 32))
    assert(new String(f4.slice(moof1 + 4, moof1 + 8), "ISO-8859-1") == "moof")
    // corrupt one trun size entry → the moof↔mdat accounting bites
    val badTrun = f4.clone()
    badTrun(moof1 + 64 + 3) = (badTrun(moof1 + 64 + 3) ^ 0x02).toByte
    val bt = Media.fmp4Meta(3L, badTrun)
    assert(!bt.frag_sizes_ok && bt.sizes_ok, "trun gate must bite alone")
    // corrupt fragment 1's mfhd sequence number → contiguity bites
    val badSeq = f4.clone()
    badSeq(moof1 + 20 + 3) = (badSeq(moof1 + 20 + 3) ^ 0x04).toByte
    val bs = Media.fmp4Meta(3L, badSeq)
    assert(!bs.seq_contiguous && bs.sizes_ok && bs.frag_sizes_ok)
    // truncation mid-fragment → size closure bites
    assert(!Media.fmp4Meta(3L, f4.dropRight(5)).sizes_ok)
    // drop fragment 1 wholesale (its moof + mdat are both
    // well-formed boxes, so closure holds) → the lost-segment gate
    val k1 = 2 + (s.charAt(0).toInt & 3)
    val sz1 = (1 to k1).map(j => 60 + ((s.charAt(0).toInt + 7 * j) & 63)).sum
    val frag1Len = (8 + 16 + 8 + 16 + 16 + 4 * k1) + (8 + sz1)
    val dm = Media.fmp4Meta(3L, f4.take(moof1) ++ f4.drop(moof1 + frag1Len))
    assert(!dm.seq_contiguous && dm.sizes_ok && dm.frag_sizes_ok &&
      dm.n_fragments == (nf - 1).toLong)
    // sever the LAST fragment's mdat → a moof left awaiting its
    // mdat fails the pairing even though every box still closes
    val kN = 2 + (s.charAt(nf - 1).toInt & 3)
    val szN = (1 to kN).map(j => 60 + ((s.charAt(nf - 1).toInt + 7 * j) & 63)).sum
    val nm = Media.fmp4Meta(3L, f4.dropRight(8 + szN))
    assert(!nm.frag_sizes_ok && nm.sizes_ok && nm.seq_contiguous)
    // an orphan mdat (no owning moof) also fails the pairing
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val orphan = be32(13) ++ "mdat".getBytes ++ Array[Byte](1, 2, 3, 4, 5)
    val om = Media.fmp4Meta(4L, orphan)
    assert(!om.frag_sizes_ok && om.sizes_ok && om.mdat_bytes == 5L)
  }


  test("m19: SRT parse recovers hand-built cues; malformed tracks fail loudly") {
    import spark.implicits._
    import graft.operators.Media
    // generic-format checks: hour carry, multi-line captions,
    // verbatim text (trailing spaces preserved)
    val srt = "1\n01:02:03,004 --> 01:02:05,999\nhello there \n\n" +
      "2\n00:01:00,000 --> 00:01:02,750\ntwo line\ncaption\n"
    val cues = Media.srtCues(srt)
    assert(cues == Seq(
      (1, 3723004L, 3725999L, "hello there "),
      (2, 60000L, 62750L, "two line\ncaption")))
    // a malformed timestamp line must fail, not silently skip
    intercept[MatchError](Media.srtCues("1\nbad --> worse\ntext\n"))
    // end-to-end: the operator's rows equal a sequential recompute
    // of the construction arithmetic (the oracle's formula)
    val got = Media.m19(spark, SharedSpark.sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cue_idx"),
        r.getAs[Long]("start_ms"), r.getAs[Long]("end_ms"),
        r.getAs[Long]("n_chars"), r.getAs[Long]("cps_permille"),
        r.getAs[Long]("overlaps_next"))).toSeq
    val want = Tables.documents(spark, SharedSpark.sf)
      .filter("doc_id % 3 = 1")
      .selectExpr("doc_id", "rpad(concat('SRT', substring(text, 1, 61)), 64, ' ')")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
      .flatMap { case (id, s) =>
        val n = (4 + id % 5).toInt
        (1 to n).map { i =>
          val c = s.charAt(i - 1).toInt
          val start = (i - 1) * 2000L + (c & 1023)
          val dur = 800L + ((c * 7) & 127) * 12
          val nch = 10L + (c & 7)
          val ov = if (i < n) {
            val ns = i * 2000L + (s.charAt(i).toInt & 1023)
            if (start + dur > ns) 1L else 0L
          } else 0L
          (id, i.toLong, start, start + dur, nch, nch * 1000000L / dur, ov)
        }
      }
    assert(got == want && got.nonEmpty)
    // the fixture exercises both overlap outcomes
    assert(got.exists(_._7 == 1L) && got.exists(_._7 == 0L))
  }


  test("m20: frame-caption alignment equals a sequential recompute; as-of rule bites") {
    import spark.implicits._
    val got = graft.operators.Media.m20(spark, SharedSpark.sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx"),
        r.getAs[Long]("frame_ms"), r.getAs[Long]("cue_idx"),
        r.getAs[Long]("covered"))).toSeq
    var nMulti = 0
    val want = Tables.documents(spark, SharedSpark.sf)
      .filter("doc_id % 3 = 1")
      .selectExpr("doc_id", "rpad(concat('SRT', substring(text, 1, 61)), 64, ' ')")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
      .flatMap { case (id, s) =>
        val n = (4 + id % 5).toInt
        val cues = (1 to n).map { i =>
          val c = s.charAt(i - 1).toInt
          val st = (i - 1) * 2000L + (c & 1023)
          (i.toLong, st, st + 800L + ((c * 7) & 127) * 12)
        }
        val nf = 2 * (20 + (s.charAt(4).toInt & 15))
        (0 until nf).map { f =>
          val t = f * 200L
          val covering = cues.filter(c => c._2 <= t && t < c._3)
          if (covering.size > 1) nMulti += 1
          val pick = covering.sortBy(-_._2).headOption
          (id, f.toLong, t, pick.map(_._1).getOrElse(-1L),
            if (pick.isDefined) 1L else 0L)
        }
      }
    assert(got == want && got.nonEmpty)
    // both coverage outcomes exist (gaps route to ASR backfill)
    assert(got.exists(_._5 == 1L) && got.exists(_._5 == 0L))
    // the as-of rule bites: some frame sat inside TWO overlapping
    // cues and the later start won (checked by the mirror above)
    assert(nMulti > 0, "no frame ever covered by overlapping cues - rule untested")
  }

  test("m21: WARC record walk recovers real structure; truncation and length lies bite") {
    import graft.operators.Media
    val s = "WRCthe quick brown fox jumps over the lazy dog pad to len!"
      .padTo(63, ' ')
    val w = Media.buildWarc(7L, s)
    val recs = Media.warcRecords(w)
    assert(recs.map(_.recType) == Seq("warcinfo", "request", "response"))
    assert(recs.forall(r => r.versionOk == 1 && r.blockOk == 1))
    assert(recs(2).httpStatus == 200L && recs(0).httpStatus == -1L)
    assert(recs(0).nHeaders == 4L && recs(1).nHeaders == 5L)
    // content-length accounting derived from the same construction
    val winfo = "software: graft/1.0\r\nformat: WARC file version 1.0"
    assert(recs(0).contentLength == winfo.length.toLong)
    val plen = (40 + 7 % 24).toInt
    assert(recs(2).contentLength ==
      ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n".length + plen).toLong)
    // content plumbing: the response block's last byte is the
    // payload's last char
    assert(recs(2).lastByte == s.charAt(plen - 1).toLong)
    // truncation kills the final record's terminator gate
    val cut = Media.warcRecords(w.dropRight(3))
    assert(cut.last.blockOk == 0L)
    // a wrecked version line is caught
    assert(Media.warcRecords("XARC" + w.substring(4)).head.versionOk == 0L)
    // a LYING Content-Length derails the walk at the accounting gate
    val lied = w.replaceFirst(
      s"Content-Length: ${winfo.length}", "Content-Length: 40")
    assert(Media.warcRecords(lied)
      .exists(r => r.versionOk == 0L || r.blockOk == 0L))
    // and on the fixture every document's WARC parses healthy
    val rows = Media.m21(spark, SharedSpark.sf).collect()
    assert(rows.nonEmpty && rows.length % 3 == 0)
    assert(rows.forall(r => r.getAs[Long]("version_ok") == 1L &&
      r.getAs[Long]("block_ok") == 1L))
  }

  test("m22: TAR shard walk verifies ustar checksums and sample grouping; corruption bites") {
    import graft.operators.Media
    val s = "TARthe quick brown fox jumps over the lazy dog padding!!"
      .padTo(61, ' ')
    val t = Media.buildTar(9L, s)
    assert(t.length % 512 == 0, "tar must be block-aligned")
    val (ms, endOk) = Media.tarMembers(t)
    assert(ms.map(_.name) == Seq("9a.txt", "9a.cls", "9b.txt", "9b.cls"))
    assert(ms.forall(m => m.chksumOk == 1L && m.magicOk == 1L) && endOk == 1L)
    assert(ms.map(_.size) == Seq(30L + 9 % 17, 1L, 20L + 9 % 13, 1L))
    // WebDataset contract: members group into complete samples by key
    val samples = ms.groupBy(_.key)
    assert(samples.keySet == Set("9a", "9b"))
    assert(samples.values.forall(_.map(_.ext).toSet == Set("txt", "cls")))
    // a flipped HEADER byte breaks that member's checksum only
    val flipped = t.updated(1, 'X')
    val (fm, _) = Media.tarMembers(flipped)
    assert(fm.head.chksumOk == 0L && fm.tail.forall(_.chksumOk == 1L))
    // a wrecked magic is caught
    val badMagic = t.updated(257, 'x')
    assert(Media.tarMembers(badMagic)._1.head.magicOk == 0L)
    // a lying size field derails the walk at the accounting gate
    val badSize = t.updated(124, '7')
    val (bm, be) = Media.tarMembers(badSize)
    assert(be == 0L || bm.exists(m => m.chksumOk == 0L || m.magicOk == 0L))
    // truncating the end marker kills end_ok
    assert(Media.tarMembers(t.dropRight(600))._2 == 0L)
    // and on the fixture every document's shard parses healthy with
    // two complete samples
    val rows = Media.m22(spark, SharedSpark.sf).collect()
    assert(rows.nonEmpty && rows.length % 4 == 0)
    assert(rows.forall(r => r.getAs[Long]("chksum_ok") == 1L &&
      r.getAs[Long]("magic_ok") == 1L && r.getAs[Long]("end_ok") == 1L))
  }

  test("m16: JPEG marker walk recovers real structure; truncation and dim edits bite") {
    import graft.operators.Media
    val jb = Media.encodeJpeg8x8(
      "JPGthe quick brown fox jumps over the lazy dog pad".padTo(64, ' '))
    val m = Media.jpegMarkers(3L, jb)
    assert(m.soi_ok && m.has_app0 && m.sos_ok && m.eoi_last && m.scan_nonempty)
    assert(m.width == 8 && m.height == 8 && m.precision == 8 && m.n_components == 1)
    assert(m.n_dqt == 1L && m.n_dht == 2L)
    // find SOF0 and edit the width → geometry is really read from it
    var pos = 2
    var sof = -1
    while (sof < 0 && pos + 4 <= jb.length && (jb(pos) & 0xff) == 0xff) {
      if ((jb(pos + 1) & 0xff) == 0xc0) sof = pos
      else pos += 2 + (((jb(pos + 2) & 0xff) << 8) | (jb(pos + 3) & 0xff))
    }
    assert(sof > 0, "no SOF0 found")
    val widened = jb.clone(); widened(sof + 8) = 16.toByte // width low byte
    assert(Media.jpegMarkers(3L, widened).width == 16)
    // truncation kills the EOI-at-end invariant
    assert(!Media.jpegMarkers(3L, jb.dropRight(3)).eoi_last)
    // a wrecked SOI kills the signature
    val bad = jb.clone(); bad(1) = 0x00
    assert(!Media.jpegMarkers(3L, bad).soi_ok)
  }

  test("m26: the shard index satisfies the seek contract; multi-block offsets are real; truncation stops it") {
    import graft.operators.Media
    val s = "TARthe quick brown fox jumps over the lazy dog padding!!"
      .padTo(61, ' ')
    val id = 6L // a.txt size = 400 + (6 % 17) * 20 = 520 — TWO blocks
    val t = Media.buildTar26(id, s)
    val (ms, endOk) = Media.tarMembers(t)
    assert(endOk == 1L && ms.size == 4)
    // SEEK CONTRACT: the bytes at [data_offset, data_offset + size)
    // ARE the member body — random access without streaming the shard
    val exp = Seq((s * 12).substring(0, 520), (id % 10).toString,
      s.substring(0, (30 + id % 13).toInt), (id % 7).toString)
    ms.zip(exp).foreach { case (m, body) =>
      assert(t.substring((m.off + 512).toInt,
        (m.off + 512 + m.size).toInt) == body, s"seek failed at ${m.name}")
    }
    // the two-block member really displaces its successor
    assert(ms(1).off - ms(0).off == 512L + 1024L)
    // both ceil-arithmetic arms live on the fixture: single- AND
    // two-block first members occur among the doc ids
    val rows = Media.m26(spark, SharedSpark.sf).collect()
      .map(r => (r.getAs[Long]("member_idx"), r.getAs[Long]("hdr_offset")))
    val firstGaps = rows.filter(_._1 == 1L).map(_._2).distinct.sorted.toSeq
    assert(firstGaps == Seq(1024L, 1536L),
      s"expected both block arms, got $firstGaps")
    // truncating away a member's header stops the index at the damage
    val (tm, te) = Media.tarMembers(t.dropRight(2200))
    assert(te == 0L && tm.size < 4)
  }

  test("m27: the fetch reads exactly the indexed ranges — corrupting every other byte cannot touch it") {
    import graft.operators.Media
    val s = "TARthe quick brown fox jumps over the lazy dog padding!!"
      .padTo(61, ' ')
    val id = 6L
    val t = Media.buildTar26(id, s)
    val (ms, _) = Media.tarMembers(t)
    val wanted = ms.filter(_.ext == "txt")
      .map(m => (m.name, m.off + 512L, m.size))
    val fetched = Media.shardFetch(t, wanted)
    // the fetched bodies are the construction's, exactly
    val sa = (400 + (id % 17) * 20).toInt
    val sb = (30 + id % 13).toInt
    assert(fetched.map(f => (f._1, f._3)) == Seq(
      (s"${id}a.txt", (s * 12).substring(0, sa)),
      (s"${id}b.txt", s.substring(0, sb))))
    // RANGED-READ PIN: zap every byte OUTSIDE the wanted data ranges
    // (headers, other members, the end blocks) — the fetch must not
    // notice, because it never reads them
    val ranges = wanted.map { case (_, o, n) => (o, o + n) }
    val junk = t.zipWithIndex.map { case (c, i) =>
      if (ranges.exists { case (a, b) => i >= a && i < b }) c else 'Z'
    }.mkString
    assert(Media.shardFetch(junk, wanted) == fetched,
      "fetch read bytes outside the indexed ranges")
    // fixture-wide: two text members per shard, digests present
    val rows = Media.m27(spark, SharedSpark.sf).collect()
    assert(rows.nonEmpty && rows.length % 2 == 0)
    assert(rows.forall(_.getAs[String]("body_md5").length == 32))
  }

  test("m28: real-bytes fetch equals m27 bitwise; off-range bytes are never read; Long offsets clear the 2^31 boundary on a sparse shard") {
    import graft.operators.Media
    // the representation change is invisible: same rows as m27
    def parse(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("name"),
        r.getAs[Long]("size"), r.getAs[String]("body_md5"))).toSeq
    val viaBytes = parse(Media.m28(spark, SharedSpark.sf)).sorted
    assert(viaBytes == parse(Media.m27(spark, SharedSpark.sf)).sorted
      && viaBytes.nonEmpty)
    // RANGED-READ PIN on real bytes: copy a store shard, overwrite
    // every byte OUTSIDE the wanted data ranges with 0xFF (not
    // ASCII — a char-width confusion would also trip), and fetch
    // with the same index: digests identical
    val root = Media.shardByteStorePath(spark, SharedSpark.sf)
    val id = new java.io.File(root).listFiles().map(_.getName)
      .filter(_.startsWith("shard_")).sorted.head
      .stripPrefix("shard_").stripSuffix(".tar").toLong
    val orig = java.nio.file.Paths.get(root, s"shard_$id.tar")
    val bytes = java.nio.file.Files.readAllBytes(orig)
    val t = new String(bytes,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val (ms, _) = Media.tarMembers(t)
    val wanted = ms.filter(_.ext == "txt")
      .map(m => (m.name, m.off + 512L, m.size))
    val clean = Media.rangedFetch(orig.toString, wanted)
    val junk = bytes.clone()
    val ranges = wanted.map { case (_, o, n) => (o, o + n) }
    junk.indices.foreach { i =>
      if (!ranges.exists { case (a, b) => i >= a && i < b })
        junk(i) = 0xFF.toByte
    }
    val junkPath = java.nio.file.Files
      .createTempFile("graft_m28_junk_", ".tar")
    java.nio.file.Files.write(junkPath, junk)
    val viaJunk = Media.rangedFetch(junkPath.toString, wanted)
    assert(viaJunk.map(f => (f._1, f._2, f._3.toSeq)) ==
      clean.map(f => (f._1, f._2, f._3.toSeq)),
      "fetch read bytes outside the indexed ranges")
    java.nio.file.Files.delete(junkPath)
    // THE 2^31 LIFT: a sparse shard > 2 GiB with a member planted
    // past the Int boundary — the String model could not even
    // address this offset; the ranged read returns it exactly
    val big = java.nio.file.Files
      .createTempFile("graft_m28_big_", ".tar")
    val raf = new java.io.RandomAccessFile(big.toFile, "rw")
    try {
      val off = Int.MaxValue.toLong + 513L
      raf.setLength(off + 4096L) // sparse — no 2 GiB actually written
      val body = "past-the-int-boundary".getBytes("US-ASCII")
      raf.seek(off)
      raf.write(body)
      val got = Media.rangedFetch(big.toString,
        Seq(("big.txt", off, body.length.toLong)))
      assert(got.head._3.toSeq == body.toSeq,
        "Long-offset ranged read failed past 2^31")
    } finally { raf.close(); java.nio.file.Files.delete(big) }
  }

  test("m24: shard audit catches planted incomplete samples and the cross-shard key collision") {
    import graft.operators.Media
    val rows = Media.m24(spark, SharedSpark.sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("skey"),
        r.getAs[Long]("n_members"), r.getAs[Boolean]("complete"),
        r.getAs[Long]("n_shards"), r.getAs[Boolean]("cross_shard")))
    assert(rows.nonEmpty)
    val nDup = rows.count(_._2 == "dup")
    assert(nDup >= 2, "fixture must carry the cross-shard collision")
    rows.foreach { case (id, skey, nm, complete, nShards, xShard) =>
      // planted defect 1: every %7 shard's b sample is INCOMPLETE
      // (txt without cls) — and nothing else is
      if (skey == s"${id}b" || (skey == "dup" && id % 11 == 0))
        assert(complete == (id % 7 != 0), s"doc $id sample b completeness")
      if (skey == s"${id}a")
        assert(complete && nm == 2L, s"doc $id sample a must be complete")
      // planted defect 2: 'dup' collides across ALL %33 shards;
      // every other key is shard-unique
      if (skey == "dup") assert(nShards == nDup.toLong && xShard)
      else assert(nShards == 1L && !xShard, s"key $skey must be unique")
    }
    // both audit arms genuinely fire on the fixture
    assert(rows.exists(!_._4) && rows.exists(_._4))
    assert(rows.exists(_._6) && rows.exists(!_._6))
  }

  test("m25: policy strip is exact byte surgery — per-class byte equality, no-ops cleanly, refuses corrupt input") {
    import graft.operators.Media
    val base = "IMGquick brown fox jumps over the lazy dog padding!!".padTo(61, ' ')
    // force every data-chosen feature ON: gps(5), exif(11), maker(12),
    // serial(13), thumb(14), dt(15) — 'a' has an odd code point
    val sAll = Seq(5, 11, 12, 13, 14, 15).foldLeft(base)(_.updated(_, 'a'))
    Seq(8L, 9L).foreach { id => // both byte orders
      val full = Media.buildExifJpeg(id, sAll)
      // full policy strip == the render with every policy feature off
      assert(Media.exifStrip(full).sameElements(
        Media.buildExifJpeg(id, sAll, gpsO = Some(false), dtO = Some(false),
          makerO = Some(false), serialO = Some(false))),
        s"id $id: full-policy strip != policy-free render")
      // and PER TAG CLASS: each class alone strips exactly its feature
      assert(Media.exifStrip(full, Set(0x8825)).sameElements(
        Media.buildExifJpeg(id, sAll, gpsO = Some(false))), "gps class")
      assert(Media.exifStrip(full, Set(0x0132)).sameElements(
        Media.buildExifJpeg(id, sAll, dtO = Some(false))), "time class")
      assert(Media.exifStrip(full, Set(0x927c)).sameElements(
        Media.buildExifJpeg(id, sAll, makerO = Some(false))), "maker class")
      assert(Media.exifStrip(full, Set(0xa431)).sameElements(
        Media.buildExifJpeg(id, sAll, serialO = Some(false))), "serial class")
      // the stripped file re-walks healthy, with preserved fields
      // bit-for-bit and the thumbnail chain RELOCATED, not dropped
      val w = Media.exifWalk(id, Media.exifStrip(full))
      assert(w.exif_ok && !w.has_gps && w.dt_str.isEmpty &&
        !w.has_maker && w.serial.isEmpty)
      assert(w.has_thumb, "IFD1 must be relocated, never silently dropped")
      val before = Media.exifWalk(id, full)
      assert(w.orientation == before.orientation && w.iso == before.iso)
    }
    // a policy-free file (Exif sub-IFD and thumbnail present, no PII
    // tags) passes through byte-identical — the no-op arm
    val clean = Media.buildExifJpeg(8L, sAll, gpsO = Some(false),
      dtO = Some(false), makerO = Some(false), serialO = Some(false))
    assert(Media.exifStrip(clean).sameElements(clean))
    // corrupt inputs come back UNCHANGED — never half-surgered.
    // TIFF starts at file offset 12; IFD0 entries at 22, 12 bytes
    // each (0x0112@22, 0x0132@34, 0x8769@46, 0x8825@58); IFD0 next
    // pointer at 70 (4 entries)
    val g = Media.buildExifJpeg(8L, sAll) // little-endian, all features
    val badBo = g.updated(12, 'X'.toByte)
    assert(Media.exifStrip(badBo).sameElements(badBo), "bad byte order")
    val badOff = g.updated(45, 0x7f.toByte) // DateTime value-offset lie
    assert(Media.exifStrip(badOff).sameElements(badOff), "offset lie")
    val badPtr = g.updated(48, 3.toByte) // Exif pointer typed SHORT
    assert(Media.exifStrip(badPtr).sameElements(badPtr),
      "malformed sub-IFD pointer must quarantine, not copy a dangling offset")
    val cyc = g.updated(70, 8.toByte) // next-IFD points back at IFD0
    assert(Media.exifStrip(cyc).sameElements(cyc),
      "next-IFD pointer cycle must hit the chain budget and quarantine")
    // WALK/STRIP GATE SYMMETRY: every input the strip quarantines,
    // the audit walk rejects — the redaction never ships (or
    // no-ops on) a file the audit would have called healthy, and
    // vice versa
    Seq(badBo, badOff, badPtr, cyc).foreach { bb =>
      assert(!Media.exifWalk(8L, bb).exif_ok,
        "strip quarantined an input the walk calls healthy")
    }
    // fixture-wide: every stripped file re-walks healthy with no PII
    // in any class, and the reclaim shows exactly on the PII docs
    val rows = Media.m25(spark, SharedSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("still_ok") && !r.getAs[Boolean]("gps_after") &&
        !r.getAs[Boolean]("time_after") && !r.getAs[Boolean]("device_after"))
      val reclaimed = r.getAs[Long]("orig_len") - r.getAs[Long]("stripped_len")
      val hadPii = r.getAs[Boolean]("had_gps") || r.getAs[Boolean]("had_dt") ||
        r.getAs[Boolean]("had_maker") || r.getAs[Boolean]("had_serial")
      assert(if (hadPii) reclaimed > 0L else reclaimed == 0L)
    }
    assert(rows.exists(_.getAs[Boolean]("had_gps")) &&
      rows.exists(r => !r.getAs[Boolean]("had_gps")))
    // every policy class genuinely occurs on the fixture
    Seq("had_dt", "had_maker", "had_serial", "thumb_kept").foreach { c =>
      assert(rows.exists(_.getAs[Boolean](c)) &&
        rows.exists(r => !r.getAs[Boolean](c)), s"$c must vary on the data")
    }
  }

  test("m23: EXIF walk reads both byte orders, the sub-IFD topology, and the GPS leg; every offset gate bites") {
    import graft.operators.Media
    val base = "IMGquick brown fox jumps over the lazy dog padding!!".padTo(61, ' ')
    val sAll = Seq(5, 11, 12, 13, 14, 15).foldLeft(base)(_.updated(_, 'a'))
    // data-chosen fields the walk must recover
    val ori = 1 + (sAll.charAt(4).toInt & 7)
    val latD = (sAll.charAt(6).toInt % 90).toLong
    val iso = (100 * (1 + sAll.charAt(16).toInt % 8)).toLong
    // both byte orders parse to the same fields (id parity picks II/MM)
    val me = Media.exifWalk(8L, Media.buildExifJpeg(8L, sAll))
    val mb = Media.exifWalk(9L, Media.buildExifJpeg(9L, sAll))
    assert(me.exif_ok && mb.exif_ok)
    assert(me.byte_order == "II" && mb.byte_order == "MM")
    Seq(me, mb).foreach { m =>
      assert(m.orientation == ori && m.has_gps && m.needs_strip_gps)
      assert(m.dt_str.startsWith("2024:") && m.dt_str.length == 19 &&
        m.needs_strip_time)
      assert(m.lat_deg == latD && m.n_ifd0 == 4L)
      assert(m.iso == iso && m.has_maker && m.serial.length == 9 &&
        m.needs_strip_device)
      assert(m.has_thumb)
    }
    assert(me.serial == "000000008" && mb.serial == "000000009")
    // every feature genuinely off when its bit is off
    val sNone = Seq(5, 11, 14, 15).foldLeft(base)(_.updated(_, 'b'))
    val noF = Media.exifWalk(8L, Media.buildExifJpeg(8L, sNone))
    assert(noF.exif_ok && !noF.has_gps && !noF.needs_strip_gps &&
      noF.dt_str.isEmpty && !noF.needs_strip_time && noF.iso == 0L &&
      !noF.has_maker && noF.serial.isEmpty && !noF.needs_strip_device &&
      !noF.has_thumb && noF.n_ifd0 == 1L && noF.lat_deg == 0L)
    // offset gates — the TIFF structure starts at file offset 12
    // (SOI 0-1, APP1 marker 2-3, length 4-5, "Exif\0\0" 6-11):
    // byte-order mark 12, magic 14, IFD0-offset field 16-19,
    // DateTime entry's value-offset field 42-45, GPS pointer 66-69,
    // IFD0 next pointer 70-73
    val g = Media.buildExifJpeg(8L, sAll) // little-endian, all features
    def walk(bb: Array[Byte]) = Media.exifWalk(8L, bb)
    assert(!walk(g.updated(12, 'X'.toByte)).exif_ok, "byte-order gate")
    assert(!walk(g.updated(14, 9.toByte)).exif_ok, "TIFF magic gate")
    assert(!walk(g.updated(19, 0x7f.toByte)).exif_ok, "IFD0 offset lie")
    assert(!walk(g.updated(45, 0x7f.toByte)).exif_ok, "DateTime offset lie")
    assert(!walk(g.updated(69, 0x7f.toByte)).exif_ok, "GPS IFD offset lie")
    assert(!walk(g.updated(70, 8.toByte)).exif_ok, "next-IFD cycle gate")
    assert(!walk(g.updated(48, 3.toByte)).exif_ok,
      "malformed sub-IFD pointer gate (walk/strip symmetry)")
    assert(!walk(g.dropRight(2)).exif_ok, "missing EOI must halt")
    // INLINE vs OUT-OF-LINE value fields (TIFF stores any value of
    // byteLen <= 4 IN the entry's value field): a GPSLatitude whose
    // count falls short of the rational triple must never have its
    // value field dereferenced as a pointer. GPS IFD sits at file
    // offset 116; its 0x0002 entry: count field 134-137, value
    // field 138-141 (little-endian file).
    val gps0 = g.clone() // count 0 → inline per TIFF; garbage value
    gps0(134) = 0; gps0(135) = 0; gps0(136) = 0; gps0(137) = 0
    gps0(138) = 0xff.toByte; gps0(139) = 0xff.toByte
    gps0(140) = 0xff.toByte; gps0(141) = 0xff.toByte
    val w0 = walk(gps0)
    assert(w0.exif_ok && w0.has_gps && w0.lat_deg == 0L && w0.lat_min == 0L,
      "short GPS count: the inline value field is not a pointer — " +
        "no crash, no coordinate")
    assert(!Media.exifStrip(gps0, Set(0x0132)).sameElements(gps0),
      "strip accepts the same input (walk/strip gate symmetry)")
    val gps1 = gps0.clone() // count 1 → out-of-line 8 bytes, offset lies
    gps1(134) = 1
    assert(!walk(gps1).exif_ok,
      "count-1 GPS: the out-of-line bounds gate must bite")
    assert(Media.exifStrip(gps1, Set(0x0132)).sameElements(gps1),
      "strip quarantines the same input (walk/strip gate symmetry)")
    // an INLINE ASCII string (count <= 4) reads from the entry's own
    // value bytes: DateTime count field 38-41 → 4, value 42-45 = "ABC\0"
    val dtIn = g.clone()
    dtIn(38) = 4; dtIn(39) = 0; dtIn(40) = 0; dtIn(41) = 0
    dtIn(42) = 'A'.toByte; dtIn(43) = 'B'.toByte
    dtIn(44) = 'C'.toByte; dtIn(45) = 0
    val wIn = walk(dtIn)
    assert(wIn.exif_ok && wIn.dt_str == "ABC" && wIn.needs_strip_time,
      "inline string reads the entry bytes, never treats them as an offset")
    assert(!Media.exifStrip(dtIn, Set(0x8825)).sameElements(dtIn),
      "strip accepts the inline-string file (walk/strip gate symmetry)")
    // a DEGENERATE DateTime (count 1 → no readable value) still
    // flags for the time policy: the ENTRY is present and the strip
    // would remove it — the audit flag keys on tag presence, so the
    // flag and the surgery's action agree on exactly this input
    val dtDeg = g.clone()
    dtDeg(38) = 1; dtDeg(39) = 0; dtDeg(40) = 0; dtDeg(41) = 0
    val wDeg = walk(dtDeg)
    assert(wDeg.exif_ok && wDeg.dt_str.isEmpty && wDeg.needs_strip_time,
      "a present-but-degenerate DateTime entry must still flag for stripping")
    assert(!Media.exifStrip(dtDeg, Set(0x0132)).sameElements(dtDeg),
      "the strip acts on the same entry the flag reports")
    // a rejected walk leaks NO scraped metadata — quarantine-class
    // audit rows are clean of payload fields
    val leak = walk(g.updated(69, 0x7f.toByte))
    assert(leak.dt_str.isEmpty && leak.iso == 0L && leak.serial.isEmpty &&
      leak.orientation == 0 && leak.lat_deg == 0L && !leak.has_gps)
    // fixture-wide: healthy walks, per-class strip decisions, both
    // byte orders and every feature arm genuinely on the data
    val rows = Media.m23(spark, SharedSpark.sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("exif_ok")))
    assert(rows.forall(r =>
      r.getAs[Boolean]("needs_strip_gps") == r.getAs[Boolean]("has_gps")))
    Seq("has_gps", "has_maker", "has_thumb", "needs_strip_time",
        "needs_strip_device").foreach { c =>
      assert(rows.exists(_.getAs[Boolean](c)) &&
        rows.exists(r => !r.getAs[Boolean](c)), s"$c must vary on the data")
    }
    assert(rows.exists(r => r.getAs[String]("byte_order") == "II") &&
      rows.exists(r => r.getAs[String]("byte_order") == "MM"))
  }
}
