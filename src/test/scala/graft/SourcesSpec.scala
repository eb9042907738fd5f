package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{Catalog, ForecastStore, GridSource}

class SourcesSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = SharedSpark.sf

  private def tmp() = graft.store.Versioned.tempRoot("graft_src")

  private def grid() = {
    import spark.implicits._
    graft.functions.ThermalChain.df(spark, sf, 2)
      .selectExpr("lat", "lon",
        "timestampadd(HOUR, CAST(aoff AS INT), TIMESTAMP '2024-01-01 00:00:00') AS ts",
        "tmp2m", "wind_speed")
  }

  test("GridSource.read slices box, hours and variables with pushdown") {
    val dir = tmp() + "/grid"
    grid().write.parquet(dir)
    val df = GridSource.read(spark, dir, Seq("tmp2m"),
      GridSource.Box(-30, 30, -90, 90), hourFrom = 1, hourTo = 25)
    assert(df.columns.toSeq == Seq("lat", "lon", "ts", "tmp2m"))
    val r = df.agg(min("lat"), max("lat"), min("lon"), max("lon"),
      countDistinct(expr("date_trunc('hour', ts)"))).head()
    assert(r.getDouble(0) >= -30 && r.getDouble(1) <= 30)
    assert(r.getDouble(2) >= -90 && r.getDouble(3) <= 90)
    assert(r.getLong(4) <= 24)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThanOrEqual(lat,"))
  }

  test("ForecastStore: atomic save/load + combineFirst semantics") {
    import spark.implicits._
    val store = new ForecastStore(tmp() + "/store")
    assert(store.load(spark).isEmpty)
    val v1 = Seq((1L, "2024-01-01 00:00:00", 10.0), (2L, "2024-01-01 01:00:00", 20.0))
      .toDF("cell", "h", "t").withColumn("h", $"h".cast("timestamp"))
    store.save(v1, "v1")
    assert(store.load(spark).get.count() == 2)
    val v2 = Seq((1L, "2024-01-01 00:00:00", 11.0), (3L, "2024-01-01 02:00:00", 30.0))
      .toDF("cell", "h", "t").withColumn("h", $"h".cast("timestamp"))
    val merged = store.combineFirst(v2, store.load(spark).get,
      keys = Seq("cell", "h"), valueCols = Seq("t"),
      cutoffCol = "h", cutoff = java.sql.Timestamp.valueOf("2024-01-01 01:00:00"))
    val rows = merged.orderBy($"cell").collect()
    // cell 1 @00: clipped by cutoff; cell 2 @01 keeps old 20.0; cell 3 @02 new 30.0
    assert(rows.map(r => (r.getLong(0), r.getDouble(2))).toSeq == Seq((2L, 20.0), (3L, 30.0)))
    store.save(merged, "v2")
    assert(store.currentPath().get.endsWith("v2"))
  }


  test("ForecastStore orphans: manifest-diff detection, reclaim safety, committed reads") {
    import spark.implicits._
    val root = tmp() + "/orph"
    val store = new ForecastStore(root)
    store.save(spark.range(100).toDF("id"), "v0")
    store.save(spark.range(200).toDF("id"), "v1")
    // plant all three orphan classes
    val rp = java.nio.file.Paths.get(root)
    java.nio.file.Files.write(
      rp.resolve("v0").resolve("part-00099-leftover.parquet.tmp"),
      "junk".getBytes)
    val tmpTree = rp.resolve("v1").resolve("_temporary").resolve("0")
    java.nio.file.Files.createDirectories(tmpTree)
    java.nio.file.Files.write(tmpTree.resolve("task.bin"), Array[Byte](1, 2))
    java.nio.file.Files.write(rp.resolve("stale.csv"), "x\n".getBytes)
    assert(store.orphans() == Seq("stale.csv",
      "v0/part-00099-leftover.parquet.tmp", "v1/_temporary"))
    // COMMITTED READS: correct with the junk still in place (a
    // directory-listing reader would crash on the fake .parquet.tmp)
    assert(store.loadVersion(spark, "v0").get.count() == 100)
    assert(store.load(spark).get.count() == 200)
    // reclaim: orphans gone, committed data untouched
    val removed = store.removeOrphans()
    assert(removed == Seq("stale.csv",
      "v0/part-00099-leftover.parquet.tmp", "v1/_temporary"))
    removed.foreach(r =>
      assert(!java.nio.file.Files.exists(rp.resolve(r)), r))
    assert(store.orphans().isEmpty)
    assert(store.loadVersion(spark, "v0").get.count() == 100)
    assert(store.loadVersion(spark, "v1").get.count() == 200)
    // a PRE-MANIFEST version is left alone (no source of truth =>
    // never guess): delete v0's manifest, re-plant junk, audit clean
    java.nio.file.Files.delete(rp.resolve("v0").resolve("_MANIFEST"))
    java.nio.file.Files.write(rp.resolve("v0").resolve("mystery.bin"),
      "x".getBytes)
    assert(store.orphans().isEmpty)
  }

  test("ForecastStore: time travel reads retained versions; vacuum bounds the history") {
    import spark.implicits._
    val store = new ForecastStore(tmp() + "/tt")
    (0 to 3).foreach { i =>
      store.save(spark.range(10 * (i + 1)).toDF("id"), s"v$i")
    }
    // the history is readable oldest-first with the current flagged
    assert(store.versions() ==
      Seq(("v0", false), ("v1", false), ("v2", false), ("v3", true)))
    // AS OF: every retained version still serves its own bytes
    (0 to 3).foreach { i =>
      assert(store.loadVersion(spark, s"v$i").get.count() == 10L * (i + 1))
    }
    assert(store.loadVersion(spark, "v99").isEmpty)
    // retention: vacuum keeps the newest 2; superseded-but-retained
    // versions stay time-travel readable, the rest are gone
    assert(store.vacuum(keep = 2) == Seq("v0", "v1"))
    assert(store.versions() == Seq(("v2", false), ("v3", true)))
    assert(store.loadVersion(spark, "v2").get.count() == 30)
    assert(store.loadVersion(spark, "v0").isEmpty)
    // CURRENT untouched throughout
    assert(store.currentPath().get.endsWith("v3"))
    // version immutability under supersession: re-reading v2 after
    // further writes returns the identical row set
    store.save(spark.range(5).toDF("id"), "v4")
    assert(store.loadVersion(spark, "v2").get.as[Long].collect().sorted.toSeq
      == (0L until 30L))
  }

  test("ForecastStore: additive schema evolution — a wider version serves its own shape, old versions keep theirs, rollback restores the pre-evolution shape") {
    import spark.implicits._
    // the store's evolution story is PER-VERSION by construction:
    // every version is a COMPLETE copy behind the atomic CURRENT
    // swap (no cross-version resolution map to reconcile — contrast
    // the replica store's dq13 union-schema read), so an additive
    // publish just IS the new current shape, time travel serves each
    // version's own shape, and rollback is the schema undo too
    val store = new ForecastStore(tmp() + "/evo")
    store.save(Seq((1L, 2.0)).toDF("id", "t"), "v0")
    store.save(Seq((1L, 2.0, "a")).toDF("id", "t", "src"), "v1")
    assert(store.load(spark).get.columns.toSeq == Seq("id", "t", "src"),
      "the evolved current must serve the wider shape")
    assert(store.loadVersion(spark, "v0").get.columns.toSeq ==
      Seq("id", "t"), "time travel must serve v0's own shape")
    assert(store.rollback("v0") &&
      store.load(spark).get.columns.toSeq == Seq("id", "t"),
      "rollback must restore the pre-evolution shape")
  }

  test("p16: the expiry audit matches the store's real post-vacuum state") {
    val got = graft.operators.Incremental.p16(spark, sf).collect()
      .map(r => (r.getAs[String]("version"), r.getAs[Long]("is_current"),
        r.getAs[Long]("n_orders"), r.getAs[Long]("sum_cents"),
        r.getAs[String]("status"), r.getAs[Long]("load_ok"))).toSeq.sortBy(_._1)
    // keep-2 retention over three snapshots: v0 expired AND actually
    // gone; v1/v2 retained AND re-loaded intact (load_ok -1 would
    // mean vacuum corrupted a retained version)
    assert(got.map(t => (t._1, t._5, t._6)) ==
      Seq(("v0", "expired", 0L), ("v1", "retained", 1L), ("v2", "retained", 1L)))
    assert(got.map(_._2) == Seq(0L, 0L, 1L), "current flag must stay on v2")
    // snapshot stats equal p11's time-travel reads of the same store
    // construction (shared cutoffs — the two ops must agree)
    val p11 = graft.operators.Incremental.p11(spark, sf).collect()
      .map(r => (r.getAs[String]("version"), r.getAs[Long]("n_orders"),
        r.getAs[Long]("sum_cents"))).toSeq.sortBy(_._1)
    assert(got.map(t => (t._1, t._3, t._4)) == p11)
    // snapshots grow monotonically (cutoffs widen)
    assert(got.map(_._3) == got.map(_._3).sorted)
  }

  test("p18: rollback repoints CURRENT without touching data; refused for a missing version") {
    import spark.implicits._
    // the library semantics first: metadata-only undo
    val store = new ForecastStore(tmp() + "/rb")
    store.save(spark.range(10).toDF("id"), "v0")
    store.save(spark.range(99).toDF("id"), "v1")
    assert(store.currentPath().get.endsWith("v1"))
    assert(store.rollback("v0"))
    assert(store.currentPath().get.endsWith("v0"))
    assert(store.load(spark).get.count() == 10)
    // nothing deleted: the rolled-past version reads intact
    assert(store.loadVersion(spark, "v1").get.count() == 99)
    // rollback never invents a target
    assert(!store.rollback("v77"))
    assert(store.currentPath().get.endsWith("v0"))
    // roll FORWARD again works too (it is just a marker swap)
    assert(store.rollback("v1"))
    assert(store.load(spark).get.count() == 99)
    // the operator's audit: before corrupt, after clean, forensics
    // intact — and the phases agree on exact-cents arithmetic
    val got = graft.operators.Incremental.p18(spark, sf).collect()
      .map(r => (r.getAs[String]("phase"), r.getAs[String]("version"),
        r.getAs[Long]("n_rows"), r.getAs[Long]("n_bad"),
        r.getAs[Long]("sum_cents"))).toSeq
    assert(got.map(_._1) == Seq("1_before", "2_after", "3_forensic"))
    val Seq(before, after, forensic) = got
    assert(before._2 == "v1" && before._4 > 0, "audit must catch the bad batch")
    assert(after._2 == "v0" && after._4 == 0, "rollback must clean CURRENT")
    assert(forensic == before.copy(_1 = "3_forensic"),
      "the rolled-past version must read bit-identical to pre-rollback CURRENT")
    assert(before._3 > after._3 && before._5 < after._5,
      "negated batch must have dragged the sum down")
  }

  test("orc source roundtrips the events schema losslessly") {
    import spark.implicits._
    val base = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"value", $"ts")
    val dir = tmp() + "/orc"
    base.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == base.schema)
    assert(back.count() == base.count())
    assert(back.agg(sum($"event_id")).head().getLong(0) ==
      base.agg(sum($"event_id")).head().getLong(0))
    // predicate pushdown reaches the ORC scan too
    val q = back.filter($"user_id" === 7L)
    q.collect()
    assert(q.queryExecution.executedPlan.toString.contains("PushedFilters"))
  }

  test("hive-style partitioned writes prune partitions at the scan") {
    import spark.implicits._
    val dir = tmp() + "/parts"
    Tables.documents(spark, sf)
      .write.partitionBy("lang").parquet(dir)
    val one = spark.read.parquet(dir).filter($"lang" === "en")
    val n = one.count()
    assert(n > 0 && n < Tables.documents(spark, sf).count())
    // the filter must become a partition filter (directory pruning),
    // not a data filter: only lang=en files may be listed
    val scan = one.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.nonEmpty,
      "expected the lang predicate as a partition filter")
    // directory pruning: the scan must list only the lang=en partition
    assert(scan.selectedPartitions.totalNumberOfFiles >= 1)
    assert(scan.metadata("Location").contains(dir))
    val pruned = spark.read.parquet(dir).filter($"lang" === "en")
      .queryExecution.executedPlan.toString
    assert(pruned.contains("PartitionFilters") && pruned.contains("lang"))
  }

  test("binaryFile source ingests opaque media payloads with metadata") {
    import spark.implicits._
    val dir = tmp() + "/media"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val payloads = Map("a.img" -> Array[Byte](1, 2, 3, 4),
      "b.img" -> Array[Byte](9, 8), "skip.txt" -> Array[Byte](0))
    payloads.foreach { case (n, b) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, n), b)
    }
    // the ingestion shape for real image/audio pipelines: binary
    // content column + file metadata, glob-filtered at the source
    val df = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.img").load(dir)
    assert(df.columns.toSet == Set("path", "modificationTime", "length", "content"))
    val rows = df.select($"path", $"length", $"content")
      .collect().map(r => (r.getString(0).split('/').last,
        r.getLong(1), r.getAs[Array[Byte]](2)))
    assert(rows.length == 2)
    rows.foreach { case (name, len, content) =>
      assert(payloads(name).sameElements(content) && len == payloads(name).length)
    }
    // feeds straight into the Media decode plumbing
    val metas = df.select(monotonically_increasing_id().as("doc_id"), $"content".as("payload"))
      .as[graft.operators.Media.MediaRow]
      .mapPartitions(_.grouped(4).flatMap(graft.operators.Media.FakeDecoder.decodeBatch))
      .collect()
    assert(metas.length == 2 && metas.forall(_.n_bytes > 0))
  }

  test("csv and json sources roundtrip the events schema losslessly") {
    import spark.implicits._
    val base = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"value",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"))
    val want = base.as[(Long, Long, String, Double, String)].collect().sortBy(_._1).toSeq
    for (fmt <- Seq("csv", "json")) {
      val dir = tmp() + s"/events_$fmt"
      base.write.format(fmt).option("header", "true").save(dir)
      val got = spark.read.format(fmt)
        .option("header", "true").schema(base.schema).load(dir)
        .as[(Long, Long, String, Double, String)].collect().sortBy(_._1).toSeq
      assert(got == want, s"$fmt roundtrip mismatch")
    }
  }

  test("xml source roundtrips and from_xml extracts nested records") {
    import spark.implicits._
    // Spark 4 ships the XML datasource in core (no external jar):
    // a feed-shaped format breadth check next to csv/json/orc
    val base = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val want = base.as[(Long, Long, String, Double)].collect().sortBy(_._1).toSeq
    val dir = tmp() + "/events_xml"
    base.write.format("xml").option("rowTag", "event").save(dir)
    val got = spark.read.format("xml")
      .option("rowTag", "event").schema(base.schema).load(dir)
      .as[(Long, Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(got == want, "xml roundtrip mismatch")
    // semi-structured path: from_xml over an embedded payload column
    // (the XML twin of q20's from_json)
    val parsed = spark.range(3)
      .selectExpr("id", "concat('<m><k>', CAST(id * 7 AS STRING), '</k><tag>t', CAST(id AS STRING), '</tag></m>') AS payload")
      .selectExpr("id", "from_xml(payload, 'k BIGINT, tag STRING') AS m")
      .selectExpr("id", "m.k AS k", "m.tag AS tag")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(parsed == Seq((0L, 0L, "t0"), (1L, 7L, "t1"), (2L, 14L, "t2")))
  }

  test("schema evolution: mergeSchema reads old and new file generations") {
    import spark.implicits._
    // generation 1: (event_id, value); generation 2 adds a column —
    // the lakehouse reality of a store written over months
    val dir = tmp() + "/evolving"
    Seq((1L, 10.0), (2L, 20.0)).toDF("event_id", "value")
      .write.parquet(dir + "/gen=1")
    Seq((3L, 30.0, "eu"), (4L, 40.0, "us")).toDF("event_id", "value", "region")
      .write.parquet(dir + "/gen=2")
    val all = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(all.columns.toSet == Set("event_id", "value", "region", "gen"))
    val rows = all.select($"event_id", $"region").as[(Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    // old-generation rows surface the new column as null, not an error
    assert(rows == Seq((1L, None), (2L, None), (3L, Some("eu")), (4L, Some("us"))))
    // and a query touching only common columns still prunes to them
    val p = all.select($"event_id").queryExecution.executedPlan.toString
    assert(!p.contains("region") || p.contains("ReadSchema: struct<event_id:bigint>"))
  }

  test("parquet compression codecs roundtrip identically (snappy/gzip/zstd)") {
    import spark.implicits._
    // codec choice is a storage knob, never a semantics knob: the
    // same rows must come back bit-identical under every codec a
    // 100 TB lake realistically uses (zstd for cold, snappy for hot)
    val src = Tables.lineitem(spark, SharedSpark.sf)
      .select($"l_orderkey", $"l_partkey", $"l_quantity", $"l_shipdate")
    val want = src.collect().map(_.toSeq).toSet
    Seq("snappy" -> "snappy", "gzip" -> "gz", "zstd" -> "zstd").foreach { case (codec, ext) =>
      val dir = graft.store.Versioned.tempRoot(s"graft_codec_$codec")
      src.write.mode("overwrite").option("compression", codec).parquet(dir)
      val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty)
      // the codec must actually be applied, visible in the filename
      assert(files.forall(_.getName.contains(s".$ext.parquet")),
        s"$codec not reflected in ${files.head.getName}")
      val got = spark.read.parquet(dir).collect().map(_.toSeq).toSet
      assert(got == want, s"$codec roundtrip diverged")
    }
  }

  test("dynamic partition overwrite replaces only the written partitions") {
    import spark.implicits._
    val dir = graft.store.Versioned.tempRoot("graft_dpo_")
    val writer = spark.conf
    writer.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("id", "pt", "v")
        .write.partitionBy("pt").mode("overwrite").parquet(dir)
      // dynamic overwrite of ONLY pt=b must leave a and c untouched —
      // the incremental-backfill contract a partitioned lake relies on
      // (static mode would wipe the whole table root)
      Seq((9L, "b", 99L)).toDF("id", "pt", "v")
        .write.partitionBy("pt").mode("overwrite").parquet(dir)
      val got = spark.read.parquet(dir)
        .select($"id", $"pt", $"v").as[(Long, String, Long)].collect().toSet
      assert(got == Set((1L, "a", 10L), (9L, "b", 99L), (3L, "c", 30L)))
    } finally writer.unset("spark.sql.sources.partitionOverwriteMode")
  }

  test("Catalog.latestComplete and isNewer") {
    import spark.implicits._
    val cat = Seq(("20240101", "06", true), ("20240101", "12", false),
      ("20240102", "00", true)).toDF("date", "cycle", "complete")
    val latest = Catalog.latestComplete(cat)
    assert(latest.contains(("20240102", "00")))
    assert(Catalog.isNewer(latest.get, Some(("20240101", "06"))))
    assert(!Catalog.isNewer(latest.get, Some(("20240102", "00"))))
    assert(Catalog.isNewer(latest.get, None))
  }
}
