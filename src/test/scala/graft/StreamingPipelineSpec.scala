package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Ev, SessOut}
import graft.pipeline.{ChunkedSink, Retry, StatusStore, Timer}

class StreamingPipelineSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = SharedSpark.sf

  test("s1 streaming tumbling agg equals the batch result") {
    import spark.implicits._
    val stream = EventStreams.s1(spark, sf)
      .select($"window_start", $"event_type", $"n").as[(String, String, Long)]
      .collect().toSet
    val batch = graft.operators.EventWindows.tumbling(spark, sf)
      .select($"window_start", $"event_type", $"n").as[(String, String, Long)]
      .collect().toSet
    assert(stream == batch)
  }

  test("s2 carries session state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = EventStreams.sessionize(mem.toDS())
    val name = "s2_state_test"
    val q = out.toDF().writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      val h = 3600L * 1000000L
      mem.addData(Ev(1, 0L), Ev(1, 60L * 1000000L)) // one session
      q.processAllAvailable()
      // second batch: within-gap of the last event => same session,
      // then a far event => new session
      mem.addData(Ev(1, 90L * 1000000L), Ev(1, 10L * h))
      q.processAllAvailable()
      val rows = spark.table(name).as[SessOut].collect()
      val last = rows.maxBy(_.n_events)
      assert(last == SessOut(1, 2, 4))
    } finally q.stop()
  }

  test("s2 recovers sessionizer state from a checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = graft.store.Versioned.tempRoot("graft_ckpt")
    val mem = MemoryStream[Ev]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[SessOut]()
    def start() = EventStreams.sessionize(mem.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[SessOut], _: Long) =>
        b.collect().foreach(got.add)
      }.start()
    val q1 = start()
    try {
      mem.addData(Ev(1, 0L), Ev(1, 60L * 1000000L))
      q1.processAllAvailable()
    } finally q1.stop()
    // new query instance, same checkpoint: state must carry over
    val q2 = start()
    try {
      mem.addData(Ev(1, 90L * 1000000L)) // within-gap of the last event
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val last = got.asScala.maxBy(_.n_events)
      // state lost would yield (1,1,1); state recovered yields 3 events
      // still in ONE session
      assert(last == SessOut(1, 1, 3))
    } finally q2.stop()
  }

  test("s5 scores each batch against the running history") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.ValEv]
    val out = EventStreams.anomalies(mem.toDS())
    val name = "s5_state_test"
    val q = out.toDF().writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      // batch 1: tight cluster around 10.00 — no outliers
      mem.addData((1L to 20L).map(i => EventStreams.ValEv(1, i, 1000L + (i % 3))): _*)
      q.processAllAvailable()
      assert(spark.table(name).count() == 0)
      // batch 2: one wild value — flagged against accumulated stats
      mem.addData(EventStreams.ValEv(1, 99, 100000L))
      q.processAllAvailable()
      val rows = spark.table(name).as[EventStreams.AnomOut].collect()
      assert(rows.map(_.event_id).toSet == Set(99L))
      assert(rows.head.z > 2.0)
    } finally q.stop()
  }

  test("s6 transformWithState carries the record max across batches") {
    import EventStreams.RecEv
    val ns = spark.newSession()
    ns.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = ns.sqlContext
    import ns.implicits._
    val mem = MemoryStream[RecEv]
    val name = "s6_state_test"
    val q = EventStreams.records(mem.toDS()).toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      mem.addData(RecEv(1, 1, 100, 5.0), RecEv(1, 2, 200, 3.0))
      q.processAllAvailable()
      // 6.0 beats the carried 5.0; 4.0 does not
      mem.addData(RecEv(1, 3, 300, 6.0), RecEv(1, 4, 400, 4.0))
      q.processAllAvailable()
      val ids = ns.table(name).select($"event_id").as[Long].collect().toSet
      assert(ids == Set(1L, 3L))
    } finally q.stop()
  }

  test("s7 incremental EWMA across batches equals the one-shot fold") {
    import EventStreams.RecEv
    val ns = spark.newSession()
    ns.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = ns.sqlContext
    import ns.implicits._
    val mem = MemoryStream[RecEv]
    val name = "s7_state_test"
    val q = EventStreams.ewmaStream(mem.toDS()).toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      // batches split the history in time order; the carried
      // accumulator continues the same sequential recursion
      mem.addData(RecEv(1, 1, 100, 10.0), RecEv(1, 2, 200, 20.0))
      q.processAllAvailable()
      mem.addData(RecEv(1, 3, 300, 30.0))
      q.processAllAvailable()
      val rows = ns.table(name)
        .select($"n_events", $"ewma").as[(Long, Double)].collect().toSet
      // one-shot: s = 10 -> 0.1*20+0.9*10 = 11 -> 0.1*30+0.9*11 = 12.9
      assert(rows == Set((2L, 11.0), (3L, 12.9)))
    } finally q.stop()
  }

  test("s8 streaming top-k keeps O(k) state and merges across batches") {
    import EventStreams.RecEv
    val ns = spark.newSession()
    ns.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = ns.sqlContext
    import ns.implicits._
    val mem = MemoryStream[RecEv]
    val name = "s8_state_test"
    val q = EventStreams.topkStream(mem.toDS()).toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      mem.addData(RecEv(1, 1, 100, 5.0), RecEv(1, 2, 200, 9.0),
        RecEv(1, 3, 300, 1.0), RecEv(1, 4, 400, 7.0))
      q.processAllAvailable()
      // 8.0 enters the carried top-3 {9,7,5}; 0.5 does not
      mem.addData(RecEv(1, 5, 500, 8.0), RecEv(1, 6, 600, 0.5))
      q.processAllAvailable()
      val rows = ns.table(name).collect()
        .map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("event_id"),
          r.getAs[Double]("value"))).toSet
      // batch-1 emission: {9,7,5}; batch-2 emission after merge: {9,8,7}
      assert(Set((1, 2L, 9.0), (2, 4L, 7.0), (3, 1L, 5.0)).subsetOf(rows))
      assert(Set((2, 5L, 8.0), (3, 4L, 7.0)).subsetOf(rows))
      // 0.5 never entered the state
      assert(!rows.exists(_._2 == 6L))
    } finally q.stop()
  }

  test("s8 transformWithState recovers top-k state from a checkpoint restart") {
    import EventStreams.{RecEv, TopOut}
    val ns = spark.newSession()
    ns.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = ns.sqlContext
    import ns.implicits._
    val ckpt = graft.store.Versioned.tempRoot("graft_tws_ckpt")
    val mem = MemoryStream[RecEv]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[TopOut]()
    def start() = EventStreams.topkStream(mem.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[TopOut], _: Long) =>
        b.collect().foreach(got.add)
      }.start()
    val q1 = start()
    try {
      mem.addData(RecEv(1, 1, 100, 5.0), RecEv(1, 2, 200, 9.0), RecEv(1, 3, 300, 7.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // new query instance, same checkpoint: the RocksDB ValueState
    // must come back — 8.0 has to merge into the CARRIED {9,7,5}
    val q2 = start()
    try {
      got.clear()
      mem.addData(RecEv(1, 4, 400, 8.0))
      q2.processAllAvailable()
      val top = got.toArray(Array.empty[TopOut]).sortBy(_.rnk).toSeq
      assert(top.map(t => (t.rnk, t.event_id, t.value)) ==
        Seq((1, 2L, 9.0), (2, 4L, 8.0), (3, 3L, 7.0)),
        s"state lost across restart: $top")
    } finally q2.stop()
  }

  test("s10 quota admission carries the admitted count across batches") {
    import EventStreams.{QEv, QOut}
    val ns = spark.newSession()
    ns.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = ns.sqlContext
    import ns.implicits._
    val mem = MemoryStream[QEv]
    val name = "s10_state_test"
    val q = EventStreams.quotaStream(mem.toDS(), 3L).toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      mem.addData(QEv("a", 2, 200), QEv("a", 1, 100), QEv("b", 9, 900))
      q.processAllAvailable()
      // batch 1: a admitted 2 (time order), b admitted 1
      mem.addData(QEv("a", 3, 300), QEv("a", 4, 400), QEv("b", 8, 800))
      q.processAllAvailable()
      val rows = ns.table(name).collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("rnk"),
          r.getAs[Long]("event_id"))).toSet
      // a's quota (3) fills across batches: only event 3 admitted in
      // batch 2, event 4 dropped; b continues at rnk 2
      assert(rows == Set(
        ("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 3L),
        ("b", 1L, 9L), ("b", 2L, 8L)))
    } finally q.stop()
  }

  test("s13 outer join: matches emit immediately, unmatched only after watermark eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memA = MemoryStream[(Long, Long)] // (user_id, tus)
    val memB = MemoryStream[(Long, Long)]
    val a = memA.toDF().toDF("ua", "tua")
      .withColumn("ta", timestamp_micros($"tua")).drop("tua")
      .withWatermark("ta", "10 minutes")
    val b = memB.toDF().toDF("ub", "tub")
      .withColumn("tb", timestamp_micros($"tub")).drop("tub")
      .withWatermark("tb", "10 minutes")
    val joined = a.join(b,
      expr("ua = ub AND tb > ta AND tb <= ta + INTERVAL 5 MINUTES"), "left_outer")
    val name = "s13_state_test"
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    def rows(): Set[(Long, Option[Long])] = spark.table(name).collect()
      .map(r => (r.getAs[Long]("ua"),
        if (r.isNullAt(r.fieldIndex("ub"))) None else Some(r.getAs[Long]("ub"))))
      .toSet
    try {
      val M = 60L * 1000000L
      val base = 600L * M // not epoch 0: initial watermark starts there
      // batch 1: user 1 pairs within 5 min; user 2 has no successor
      memA.addData((1L, base), (2L, base))
      memB.addData((1L, base + 3 * M))
      q.processAllAvailable()
      val afterB1 = rows()
      assert(afterB1.contains((1L, Some(1L))), "match must emit in its own batch")
      assert(!afterB1.exists(_._2.isEmpty),
        "no null-padded row may emit before the watermark passes the match window")
      // batch 2 advances the watermark far past base + 5 min; batch 3
      // is one more DATA batch so eviction runs under the committed
      // watermark (the no-data flush can race processAllAvailable)
      memA.addData((99L, base + 120 * M))
      memB.addData((99L, base + 120 * M))
      q.processAllAvailable()
      memA.addData((98L, base + 240 * M))
      memB.addData((98L, base + 240 * M))
      q.processAllAvailable()
      val afterB3 = rows()
      assert(afterB3.contains((2L, None)),
        "expired unmatched row must emit null-padded")
      assert(!afterB3.contains((1L, None)),
        "a matched row must never also emit null-padded")
    } finally q.stop()
  }

  test("s14 merge sink: replayed batch is a no-op; merged state equals global aggregate") {
    import spark.implicits._
    val store = new graft.sources.ForecastStore(
      graft.store.Versioned.tempRoot("graft_s14_spec_"))
    def batch(rows: (Long, Long, Long, Double)*): org.apache.spark.sql.DataFrame =
      rows.toSeq.toDF("user_id", "tus", "event_id", "value")
        .withColumn("ts", timestamp_micros($"tus")).drop("tus")
    def state(): Set[(Long, Long, Long)] = store.load(spark).get
      .selectExpr("user_id", "n_events", "latest.cents")
      .as[(Long, Long, Long)].collect().toSet
    // batch 0: user 1 twice, user 2 once
    EventStreams.s14MergeBatch(store, batch(
      (1L, 100L, 1L, 1.0), (1L, 200L, 2L, 2.0), (2L, 100L, 3L, 9.0)), 0L)
    assert(state() == Set((1L, 2L, 200L), (2L, 1L, 900L)))
    // REPLAY of batch 0 (sink retry): must not double-merge
    EventStreams.s14MergeBatch(store, batch((1L, 100L, 1L, 1.0)), 0L)
    assert(state() == Set((1L, 2L, 200L), (2L, 1L, 900L)))
    // batch 1: an older event for user 1 (count up, latest unchanged)
    // and a new user 3
    EventStreams.s14MergeBatch(store, batch(
      (1L, 50L, 4L, 7.0), (3L, 10L, 5L, 3.5)), 1L)
    assert(state() == Set((1L, 3L, 200L), (2L, 1L, 900L), (3L, 1L, 350L)))
    // retention: after batch 2 the sink's vacuum(keep=2) must have
    // dropped v0 while CURRENT (v2) and the rollback target survive
    EventStreams.s14MergeBatch(store, batch((2L, 300L, 6L, 1.0)), 2L)
    assert(store.currentPath().get.endsWith("v2"))
    val vers = new java.io.File(store.currentPath().get).getParentFile
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(vers == Set("v1", "v2"), s"vacuum should keep v1+v2, found $vers")
    assert(state() == Set((1L, 3L, 200L), (2L, 2L, 100L), (3L, 1L, 350L)))
  }

  test("ForecastStore.vacuum keeps the newest versions numerically and never CURRENT") {
    import spark.implicits._
    val store = new graft.sources.ForecastStore(
      graft.store.Versioned.tempRoot("graft_vac_"))
    (0 to 10).foreach { i =>
      store.save(Seq((i.toLong, i.toLong)).toDF("k", "v"), s"v$i")
    }
    // repoint CURRENT at an OLD version, then vacuum: the current
    // version must survive even though it is not among the newest
    store.save(Seq((99L, 99L)).toDF("k", "v"), "v3")
    // plant a nested subtree (an interrupted write's _temporary dir)
    // inside a victim: vacuum must remove it RECURSIVELY — and only
    // report versions that actually left the disk
    val root = new java.io.File(store.currentPath().get).getParentFile
    val tmp = new java.io.File(root, "v0/_temporary/0")
    assert(tmp.mkdirs())
    assert(new java.io.File(tmp, "part-stub").createNewFile())
    val removed = store.vacuum(keep = 2)
    // numeric order: v9, v10 are the newest two; v3 survives as CURRENT
    assert(!removed.contains("v3") && !removed.contains("v9") && !removed.contains("v10"))
    assert(removed.toSet == (0 to 8).map(i => s"v$i").toSet - "v3")
    val left = root.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(left == Set("v3", "v9", "v10"), s"survivors on disk: $left")
    assert(store.load(spark).get.as[(Long, Long)].collect().toSet == Set((99L, 99L)))
  }

  test("s15 media-ingest dedup matches the locally hashed distinct set") {
    import spark.implicits._
    import graft.operators.Media
    val got = graft.streaming.EventStreams.s15(spark, SharedSpark.sf).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_unique"))).toMap
    // recompute every payload hash locally through the same real
    // PNG-roundtrip + DCT path, base + seeded variants
    val texts = Tables.documents(spark, SharedSpark.sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def pay(id: Long, text: String): String = {
      val pre = if (id % 3 == 0) "IMG" else if (id % 3 == 1) "AUD" else "VID"
      pre + text.take(61)
    }
    def flip8(s: String): String =
      if (s.length >= 8) s.updated(7, (s.charAt(7).toInt ^ 1).toChar) else s
    val payloads = texts.map { case (id, t) => pay(id, t) } ++
      texts.filter(_._1 % 6 == 0).map { case (id, t) => flip8(pay(id, t)) }
    val hashes = payloads.map(s =>
      Media.dctPhash(Media.pngLuminance(s.padTo(64, ' ')))).toSeq
    val want = hashes.distinct.groupBy(_ % 64).view.mapValues(_.size.toLong).toMap
    assert(got == want)
    // the variant seeding makes the dedup real: most ±1-pixel
    // variants collapse onto their base hash (mean 0.09 flipped bits)
    assert(hashes.distinct.size < hashes.size,
      "no duplicate hashes — the dedup state was never exercised")
  }

  test("s16 streamed DSIR scoring equals the batch t20 row-for-row") {
    // train-offline / serve-online: the literal-map narrow scorer on
    // the stream must reproduce the distributed batch estimator
    // bitwise — same quantized table, same integer arithmetic
    val streamed = graft.streaming.EventStreams.s16(spark, SharedSpark.sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("iw9"), r.getAs[Long]("selected"))).toSeq
    val batch = graft.operators.TextStats.t20(spark, SharedSpark.sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("iw9"), r.getAs[Long]("selected"))).toSeq
    assert(streamed == batch)
    // the gate is real: both keep and drop decisions occur
    assert(streamed.exists(_._4 == 1L) && streamed.exists(_._4 == 0L))
  }

  test("s18 streamed HLL registers equal the batch sketch; estimate audited") {
    // mergeability made operational: micro-batch max-per-register
    // folds must land on exactly the batch register table (max is
    // order-free), so the streamed estimate IS the batch estimate
    val streamed = graft.streaming.EventStreams.s18(spark, SharedSpark.sf).collect()
    assert(streamed.length == 1)
    val ev = Tables.events(spark, SharedSpark.sf)
    val batch = graft.functions.Hll.estimateWithAudit(
      graft.functions.Hll.registers(ev, "event_id"),
      ev.agg(org.apache.spark.sql.functions.count_distinct(
        org.apache.spark.sql.functions.col("event_id")).as("n_exact"))).collect()
    assert(streamed.head.toSeq == batch.head.toSeq)
    // the sketch is honest: error within 4 sigma of 1.04/sqrt(1024)
    assert(streamed.head.getAs[Long]("err_permille") < 130)
  }

  test("s17 streaming quality gate admits exactly the batch-kept documents") {
    // the shared rule map (gopherFlags) must make the stream door and
    // the batch curation pass bitwise-identical on every column
    val streamed = graft.streaming.EventStreams.s17(spark, SharedSpark.sf)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.TextStats.t21(spark, SharedSpark.sf)
      .filter("keep_doc = 1").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    // the gate rejects something (it is a filter, not a pass-through)
    val total = Tables.documents(spark, SharedSpark.sf).count()
    assert(streamed.nonEmpty && streamed.length < total)
  }

  test("s12 dedup suppresses re-delivered keys across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)] // (user_id, event_type, tus)
    val src = mem.toDF().toDF("user_id", "event_type", "tus")
      .withColumn("ts", timestamp_micros($"tus"))
    val name = "s12_state_test"
    val q = EventStreams.dedupStream(src).writeStream
      .outputMode(OutputMode.Append()).format("memory").queryName(name).start()
    try {
      // batch 1: an in-batch duplicate of (1, click, hour 0)
      mem.addData((1L, "click", 0L), (1L, "click", 60L * 1000000L))
      q.processAllAvailable()
      // batch 2: a CROSS-batch re-delivery of the same key (state
      // must remember it) plus one genuinely new key
      mem.addData((1L, "click", 120L * 1000000L), (2L, "view", 200L * 1000000L))
      q.processAllAvailable()
      val rows = spark.table(name).as[(Long, String, Long)].collect().toSet
      assert(rows == Set((1L, "click", 0L), (2L, "view", 0L)))
    } finally q.stop()
  }

  test("s12 chained topology recovers BOTH state stores from a checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val H = 3600L * 1000000L
    val ckpt = graft.store.Versioned.tempRoot("graft_ckpt_s12")
    val mem = MemoryStream[(Long, String, Long)] // (user_id, event_type, tus)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    def start() = EventStreams.chainedDedupWindow(
      mem.toDF().toDF("user_id", "event_type", "tus")
        .withColumn("ts", timestamp_micros($"tus")))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got.add((r.getAs[String]("event_type"),
          r.getAs[Long]("n_unique_users"))))
      }.start()
    // NOT hour zero: the late-row filter drops event times <= the
    // watermark, and the initial watermark is epoch 0 — an epoch-0
    // event time is dropped in batch 0 (measured; real feeds never
    // sit at the epoch)
    val B = 10L * H
    val q1 = start()
    try {
      // hour-10: users 1 and 2, plus an in-batch duplicate of user 1
      mem.addData((1L, "a", B), (1L, "a", B + 600L * 1000000L), (2L, "a", B))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      // cross-restart re-delivery of (1, a, hour-10): only the
      // RECOVERED dedup state can suppress it. The hour-13 event
      // advances the watermark to 12 h (committed at batch end).
      mem.addData((1L, "a", B + 1200L * 1000000L), (3L, "b", B + 3L * H))
      q2.processAllAvailable()
      // one more DATA batch so eviction runs under the committed
      // watermark deterministically (emission via the trailing
      // no-data batch can race processAllAvailable); the hour-13
      // dummy never emits — its window stays open
      mem.addData((4L, "c", B + 3L * H))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      // dedup state lost => count 3; agg state lost => count 1;
      // both recovered => exactly 2
      assert(got.asScala.toSet == Set(("a", 2L)))
      assert(q2.lastProgress.stateOperators.length == 2,
        "expected the dedup AND window-agg state operators in one query")
    } finally q2.stop()
  }

  test("s21 gate admits exactly what p9's batch purge keeps") {
    import spark.implicits._
    val gate = graft.streaming.EventStreams.s21(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_total"),
        r.getAs[Long]("n_admitted"))).toSeq.sortBy(_._1)
    val purge = graft.operators.Corpus.p9(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_before"),
        r.getAs[Long]("n_after"))).toSeq.sortBy(_._1)
    assert(gate == purge, "door gate and retro purge must agree per type")
    assert(gate.map(_._2).sum > gate.map(_._3).sum, "the gate actually blocks")
  }

  test("s22 streamed histogram quantiles equal the batch sketch bitwise") {
    val streamed = graft.streaming.EventStreams.s22(spark, sf).collect().toSeq
    val batch = graft.functions.HistQ.locate(
      graft.functions.HistQ.histogram(Tables.events(spark, sf), "value", 2L),
      2L, Seq(500, 900, 990)).collect().toSeq
    assert(streamed.map(_.toSeq) == batch.map(_.toSeq) && streamed.size == 3)
    // the guarantee q34's contract promises, on the streamed result
    streamed.foreach { r =>
      val (q, cb, ci, n) = (r.getAs[Int]("q_permille"), r.getAs[Long]("cum_before"),
        r.getAs[Long]("cum_incl"), r.getAs[Long]("n_rows"))
      assert(cb * 1000 < q.toLong * n && ci * 1000 >= q.toLong * n)
    }
  }

  test("s23 single-batch run equals batch e13; conversions complete across batches") {
    // contract parity: one batch == the batch query
    val streamed = graft.streaming.EventStreams.s23(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("first_view_us"),
        r.getAs[Long]("conv_us"), r.getAs[Long]("lag_us"))).toSet
    val batch = graft.operators.EventWindows.e13(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("first_view_us"),
        r.getAs[Long]("conv_us"), r.getAs[Long]("lag_us"))).toSet
    assert(streamed == batch && streamed.nonEmpty)
    // multi-batch: the view arrives one batch, the purchase a later one
    import EventStreams.{ConvEv, ConvOut}
    val ns = spark.newSession()
    ns.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = ns.sqlContext
    import ns.implicits._
    val mem = MemoryStream[ConvEv]
    val name = "s23_state_test"
    val q = EventStreams.convStream(mem.toDS()).toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      // u1: pre-view purchase must NOT convert; view pins first_view
      // u3: first view arrives at 200...
      mem.addData(ConvEv(1, "purchase", 50), ConvEv(1, "view", 100),
        ConvEv(3, "view", 200))
      q.processAllAvailable()
      assert(ns.table(name).count() == 0)
      // later batch completes u1; u2 purchase-only never converts;
      // u3's EARLIER view (120) arrives out-of-order pre-conversion —
      // min-tracking must adopt it
      mem.addData(ConvEv(1, "purchase", 300), ConvEv(2, "purchase", 400),
        ConvEv(3, "view", 120))
      q.processAllAvailable()
      // a second purchase must not emit a second row; u3's purchase at
      // 150 (< the first-seen view 200) converts only because
      // first_view was corrected down to 120 — and lag measures from it
      mem.addData(ConvEv(1, "purchase", 500), ConvEv(3, "purchase", 150))
      q.processAllAvailable()
      val rows = ns.table(name).as[ConvOut].collect().toSeq
        .sortBy(_.user_id)
      assert(rows == Seq(ConvOut(1, 100, 300, 200), ConvOut(3, 120, 150, 30)))
    } finally q.stop()
  }

  test("s26 single-batch run equals the batch decision; moments accumulate across batches, door fires once") {
    // contract parity: one batch == the batch first-20-gaps recompute
    val streamed = graft.streaming.EventStreams.s26(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_gaps"),
        r.getAs[Long]("sum_gap"), r.getAs[Long]("sum_gap2"), r.getAs[Long]("is_bot"))).toSet
    val first21 = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "unix_micros(ts) div 1000000 AS s")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"), r.getAs[Long]("s")))
      .groupBy(_._1).flatMap { case (u, rows) =>
        val ss = rows.sortBy(r => (r._3, r._2)).map(_._3).take(21)
        val gaps = ss.sliding(2).collect { case Array(x, y) => y - x }.toSeq
        if (gaps.size == 20) {
          val (n, sg, sg2) = (20L, gaps.sum, gaps.map(g => g * g).sum)
          val d = if (sg == 0) 0.0 else (n * sg2 - sg * sg).toDouble / (n * sg).toDouble
          Some((u, n, sg, sg2, if (d < 30000.0) 1L else 0L))
        } else None
      }.toSet
    assert(streamed == first21 && streamed.nonEmpty)
    // multi-batch: 11 events in batch 1 (10 gaps), 11 more in batch 2
    // (11 gaps; the 20th gap lands mid-batch) — ONE decision row whose
    // moments span both batches; batch 3 must not re-emit
    import EventStreams.{GapEv, GapOut}
    val ns = spark.newSession()
    ns.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
    import ns.implicits._
    val mem = MemoryStream[GapEv]
    val name = "s26_state_test"
    val q = EventStreams.gapStream(mem.toDS()).toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      // constant 7-second cadence: dispersion must be exactly 0 → bot
      mem.addData((0 until 11).map(i => GapEv(9L, i.toLong, 1000L + 7L * i)): _*)
      q.processAllAvailable()
      assert(ns.table(name).count() == 0, "door fired before 20 gaps")
      mem.addData((11 until 22).map(i => GapEv(9L, i.toLong, 1000L + 7L * i)): _*)
      q.processAllAvailable()
      mem.addData(GapEv(9L, 22L, 5000L))
      q.processAllAvailable()
      val rows = ns.table(name).as[GapOut].collect().toSeq
      assert(rows == Seq(GapOut(9L, 20L, 140L, 980L, 0.0, 1L)),
        s"unexpected door output: $rows")
    } finally q.stop()
  }

  test("s27 single-batch run equals batch dq2; histogram state merges across batches") {
    // contract parity: one batch == the batch PSI report, bitwise
    val streamed = graft.streaming.EventStreams.s27(spark, sf).collect()
      .map(r => (r.getAs[String]("col_name"), r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
        r.getAs[Long]("psi_micro"), r.getAs[Long]("drifted"))).toSeq
    val batch = graft.operators.Quality.dq2(spark, sf).collect()
      .map(r => (r.getAs[String]("col_name"), r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
        r.getAs[Long]("psi_micro"), r.getAs[Long]("drifted"))).toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // multi-batch: the same rows split across two batches must land
    // the identical histogram (counts are algebraic state)
    val ns = spark.newSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
    import ns.implicits._
    val mem = MemoryStream[(Double, Double, Double)]
    val agg = graft.operators.Quality.dq2Binned(
        mem.toDS().toDF("l_quantity", "l_extendedprice", "l_discount"), "cur")
      .groupBy($"col_name", $"bucket").agg(count(lit(1)).as("n"))
    val name = "s27_state_test"
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(name).start()
    try {
      mem.addData((10.0, 5000.0, 0.02), (45.0, 99000.0, 0.09))
      q.processAllAvailable()
      mem.addData((45.0, 5000.0, 0.02), (3.0, 50000.0, 0.05))
      q.processAllAvailable()
      val rows = ns.table(name).collect()
        .map(r => ((r.getAs[String]("col_name"), r.getAs[Long]("bucket")), r.getAs[Long]("n"))).toMap
      // quantity 45 capped to 30 -> bucket 6 twice; 10 -> 2; 3 -> 0
      assert(rows(("l_quantity", 6L)) == 2L)
      assert(rows(("l_quantity", 2L)) == 1L && rows(("l_quantity", 0L)) == 1L)
      assert(rows(("l_extendedprice", 0L)) == 2L)
      assert(rows.filterKeys(_._1 == "l_quantity").values.sum == 4L)
    } finally q.stop()
  }

  test("s24 frontier state merges across batches: counts sum, survivor is the global min") {
    import EventStreams.{s24Agg}
    val ns = spark.newSession()
    implicit val sqlCtx = ns.sqlContext
    import ns.implicits._
    val mem = MemoryStream[(Long, String)]
    val agg = s24Agg(mem.toDS().toDF("doc_id", "source"))
    val name = "s24_state_test"
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(name).start()
    try {
      // docs 13/23 (alpha) and 7 (beta) arrive first
      mem.addData((13L, "alpha"), (23L, "alpha"), (7L, "beta"))
      q.processAllAvailable()
      // a LATER batch brings doc 3 — same canonical URL as 13/23
      // (case/slash noise differs; canonicalization strips it) with a
      // SMALLER id: the algebraic min-merge must adopt it as survivor,
      // which first-arrival-wins state would get wrong
      mem.addData((3L, "alpha"), (17L, "beta"))
      q.processAllAvailable()
      val rows = ns.table(name).collect()
        .map(r => (r.getAs[String]("curl"), r.getAs[Long]("n_dups"),
          r.getAs[Long]("survivor_id"))).toSet
      assert(rows == Set(
        ("http://alpha.example.com/p/3", 3L, 3L),
        ("http://beta.example.com/p/7", 2L, 7L)))
    } finally q.stop()
  }

  test("s25 equals batch d19 bitwise; the door strips docs it never trained on") {
    // twin parity: the streamed door over the whole corpus == d19
    val stream = EventStreams.s25(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_lines"), r.getAs[Long]("n_boiler"),
        r.getAs[String]("new_text"))).sortBy(_._1)
    val batch = graft.operators.Dedup.d19(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_lines"), r.getAs[Long]("n_boiler"),
        r.getAs[String]("new_text"))).sortBy(_._1)
    assert(stream.toSeq == batch.toSeq && stream.nonEmpty)
    // multi-batch door: template trained offline, docs arrive in two
    // batches — including a doc the trainer NEVER saw (doc 9): the
    // door still strips its template line (model-vs-data separation)
    val ns = spark.newSession()
    implicit val sqlCtx = ns.sqlContext
    import ns.implicits._
    def doc(src: String, i: Int) = (i.toLong, src,
      s"$src nav one two three four five six " +
        s"u$i w$i x$i y$i z$i a$i b$i c$i")
    val trainDocs = ((1 to 4).map(doc("alpha", _)) ++ (5 to 8).map(doc("beta", _)))
      .toDF("doc_id", "source", "text")
    val boiler = graft.operators.Dedup.d19Boiler(trainDocs,
      graft.operators.Dedup.d19Lines(trainDocs))
    val mem = MemoryStream[(Long, String, String)]
    val door = graft.operators.Dedup.d19Strip(
      graft.operators.Dedup.d19Lines(mem.toDS().toDF("doc_id", "source", "text")),
      boiler)
    val name = "s25_door_test"
    val q = door.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(name).start()
    try {
      mem.addData(doc("alpha", 1), doc("beta", 5))
      q.processAllAvailable()
      mem.addData(doc("alpha", 2), doc("beta", 6), doc("alpha", 9))
      q.processAllAvailable()
      val rows = ns.table(name).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_lines"),
          r.getAs[Long]("n_boiler"), r.getAs[String]("new_text"))).toSet
      val want = Seq(("alpha", 1), ("beta", 5), ("alpha", 2), ("beta", 6), ("alpha", 9))
        .map { case (_, i) =>
          (i.toLong, 2L, 1L, s"u$i w$i x$i y$i z$i a$i b$i c$i")
        }.toSet
      assert(rows == want, s"got $rows")
    } finally q.stop()
  }

  test("s9 stream-static enrichment covers every event exactly once") {
    import spark.implicits._
    val got = EventStreams.s9(spark, sf).collect()
    // one row per present nation key (sf0.001 has 15 users, sf0.01 all 25)
    val keys = Tables.events(spark, sf)
      .selectExpr("user_id % 25 AS k").distinct().count()
    assert(got.length == keys)
    assert(got.map(_.getAs[Long]("n")).sum == Tables.events(spark, sf).count())
  }

  test("foreachBatch chunked file sink writes every event exactly once") {
    import spark.implicits._
    val out = graft.store.Versioned.tempRoot("graft_fsink")
    graft.Tables.tsConfs(spark)
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val src = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sf)
      .select($"event_id", $"event_type")
    val q = EventStreams.sinkToChunkedFiles(src, out)
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val written = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .iterator().asScala
      .flatMap(p => new String(java.nio.file.Files.readAllBytes(p)).split("\n").toSeq)
      .map(_.split(",")(0).toLong).toSeq
    val expected = Tables.events(spark, sf).select($"event_id")
      .as[Long].collect().sorted.toSeq
    assert(written.sorted == expected)
  }

  test("ChunkedSink fallback: oversize chunks split until they fit, no loss") {
    import spark.implicits._
    val outDir = graft.store.Versioned.tempRoot("graft_fb")
    val ds = spark.range(0, 100).map(_.toLong)
    val n = graft.pipeline.ChunkedSink.writeWithFallback(
      ds.repartition(2), chunkSize = 16, tries = 1, splits = 4) {
      (pid, id, chunk) =>
        // the fake backend rejects anything bigger than 5 rows
        if (chunk.size > 5) throw new RuntimeException(s"too big: ${chunk.size}")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"p${pid}_c$id.txt"),
          chunk.mkString("\n").getBytes)
    }
    assert(n == 100)
    val files = new java.io.File(outDir).listFiles.toSeq
    val chunks = files.map(f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath)).split("\n").map(_.toLong).toSeq)
    val all = chunks.flatten
    assert(all.size == 100 && all.distinct.size == 100)
    // every chunk that reached the backend fits its limit, and the
    // oversize ones really did go through the split path
    assert(chunks.forall(_.size <= 5))
    assert(files.exists(f => f.getName.contains(".0.") || f.getName.contains(".1.")))
  }

  test("Alert: notifies every handler then raises; broken handlers contained") {
    import graft.pipeline.Alert
    Alert.clear()
    val seen = scala.collection.mutable.ListBuffer.empty[String]
    Alert.register(m => seen += s"a:$m")
    Alert.register(_ => throw new IllegalStateException("broken channel"))
    Alert.register(m => seen += s"b:$m")
    val ex = intercept[RuntimeException](Alert.fail("boom"))
    assert(ex.getMessage == "boom")
    assert(seen.toList == List("a:boom", "b:boom"))
    Alert.clear()
  }

  test("Retry: recovers after transient failures, rethrows after max") {
    var calls = 0
    val v = Retry.retry(5, delayMs = 0, sleep = _ => ()) {
      calls += 1
      if (calls < 3) sys.error("transient")
      42
    }
    assert(v == 42 && calls == 3)
    var calls2 = 0
    val ex = intercept[RuntimeException] {
      Retry.retry(3, delayMs = 0, sleep = _ => ()) {
        calls2 += 1; sys.error("always")
      }
    }
    assert(calls2 == 3 && ex.getMessage == "always")
  }

  test("Retry: fatal throwables propagate immediately, no retry") {
    var calls = 0
    val ex = intercept[InterruptedException] {
      Retry.retry(5, delayMs = 0, sleep = _ => ()) {
        calls += 1; throw new InterruptedException("interrupt")
      }
    }
    assert(calls == 1 && ex.getMessage == "interrupt")
    Thread.interrupted() // clear flag if set by the test harness
  }

  test("StatusStore: lock and dotted-field semantics") {
    val dir = graft.store.Versioned.tempRoot("graft_status")
    val st = new StatusStore(dir)
    assert(st.tryAcquireUpdateLock())
    assert(!st.tryAcquireUpdateLock()) // held
    st.releaseUpdateLock()
    assert(st.tryAcquireUpdateLock())
    st.releaseUpdateLock()
    st.set("globalCharts.2024-01-01", "2024-01-01_06z")
    st.set("latestSuccessfulUpdateSource", "src-a")
    assert(st.fetch()("globalCharts.2024-01-01") == "2024-01-01_06z")
    st.unset("globalCharts.2024-01-01")
    assert(!st.fetch().contains("globalCharts.2024-01-01"))
    assert(st.fetch()("latestSuccessfulUpdateSource") == "src-a")
  }

  test("ChunkedSink: every row written exactly once, in bounded chunks") {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(graft.store.Versioned.tempRoot("graft_sink"))
    val dirStr = dir.toString // Path is not serializable; capture a String
    val n = 1000
    val ds = spark.range(n).map(_.toString)
    ChunkedSink.write(ds, chunkSize = 64) { (pid, ci, chunk) =>
      require(chunk.size <= 64)
      val p = java.nio.file.Paths.get(dirStr, s"part_${pid}_$ci")
      java.nio.file.Files.write(p, chunk.mkString("\n").getBytes)
    }
    import scala.jdk.CollectionConverters._
    val written: Seq[String] = java.nio.file.Files.list(dir).iterator().asScala
      .flatMap(p => new String(java.nio.file.Files.readAllBytes(p)).split("\n").toSeq)
      .toSeq
    assert(written.length == n)
    assert(written.map(_.toLong).sorted == (0L until n).toSeq)
  }

  test("salted two-phase aggregate equals the direct aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
      .select($"user_id", floor($"value" * 100 + 0.5).cast("long").as("cents"))
    val direct = ev.groupBy($"user_id")
      .agg(sum($"cents").as("total"), count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect().toSet
    val salted = graft.operators.Skew.saltedSum(ev, Seq("user_id"), buckets = 8,
      Map("total" -> sum($"cents"), "n" -> count(lit(1))))
      .as[(Long, Long, Long)].collect().toSet
    assert(salted == direct)
  }

  test("approximate sketches stay within error bounds of exact answers") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf)
    val exact = li.select(countDistinct($"l_orderkey")).as[Long].head()
    val approx = li.select(approx_count_distinct($"l_orderkey", 0.02)).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx=$approx exact=$exact")
    val Array(q25, q50, q75) =
      li.stat.approxQuantile("l_quantity", Array(0.25, 0.5, 0.75), 0.01)
    assert(q25 <= q50 && q50 <= q75 && q50 >= 1 && q75 <= 50)
  }

  test("Timer reports positive wall/cpu") {
    val t = new Timer
    var x = 0L
    (1 to 2000000).foreach(i => x += i)
    val (w, c) = t.diff()
    assert(w > 0 && c >= 0 && x > 0)
  }

  test("s19 streamed CMS cells equal the batch sketch; estimates audited") {
    // micro-batch cell-wise sums must land on exactly the batch cell
    // table (sum is order-free), so the streamed estimates ARE batch
    val streamed = graft.streaming.EventStreams.s19(spark, SharedSpark.sf).collect()
    val ev = Tables.events(spark, SharedSpark.sf)
    val top = ev.selectExpr("CAST(user_id AS STRING) AS ks")
      .groupBy(col("ks")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("ks")).limit(10)
    val batch = graft.functions.Cms
      .estimate(graft.functions.Cms.cells(ev, "user_id"), top)
      .orderBy(col("n_exact").desc, col("ks")).collect()
    assert(streamed.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
    streamed.foreach(r => assert(r.getAs[Long]("overcount") >= 0))
  }

  test("s20 streamed bottom-k sample equals the batch sample bitwise") {
    import spark.implicits._
    val streamed = graft.streaming.EventStreams.s20(spark, SharedSpark.sf).collect()
    assert(streamed.length == 100)
    // the batch sample: ALL pairs sorted, first k — state never saw
    // more than k-bounded partial buffers, yet lands on exactly this
    val pairs = graft.operators.Sampling
      .s20Pairs(Tables.events(spark, SharedSpark.sf))
      .as[(Long, Long)].collect().sorted.take(100).toSeq
    assert(streamed.map(r => (r.getAs[Long]("hvr"), r.getAs[Long]("event_id"))).toSeq
      == pairs)
    assert(streamed.map(_.getAs[Long]("rk")).toSeq == (1L to 100L))
  }

  test("s28 single-batch run equals batch dq3; digit-count state merges across batches") {
    // contract parity: one batch == the batch Benford report, bitwise
    val streamed = graft.streaming.EventStreams.s28(spark, sf).collect()
      .map(r => (r.getAs[String]("col_name"), r.getAs[Long]("digit"), r.getAs[Long]("n"),
        r.getAs[Long]("share_micro"), r.getAs[Long]("benford_micro"), r.getAs[Long]("dev_micro"))).toSeq
    val batch = graft.operators.Quality.dq3(spark, sf).collect()
      .map(r => (r.getAs[String]("col_name"), r.getAs[Long]("digit"), r.getAs[Long]("n"),
        r.getAs[Long]("share_micro"), r.getAs[Long]("benford_micro"), r.getAs[Long]("dev_micro"))).toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // multi-batch: the same rows split across two batches must land
    // the identical digit histogram (counts are algebraic state)
    val ns = spark.newSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
    import ns.implicits._
    val mem = MemoryStream[Double]
    val src = mem.toDS().toDF("l_extendedprice")
    val agg = graft.operators.Quality.dq3Digits(src, "l_extendedprice")
      .groupBy($"col_name", $"digit").agg(count(lit(1)).as("n"))
    val name = "s28_state_test"
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(name).start()
    try {
      mem.addData(123.45, 90.10, 0.0)   // digits 1, 9; zero excluded
      q.processAllAvailable()
      mem.addData(19999.99, 950.0)      // digits 1 (again), 9 (again)
      q.processAllAvailable()
      val rows = ns.table(name).collect()
        .map(r => (r.getAs[String]("digit"), r.getAs[Long]("n"))).toMap
      assert(rows == Map("1" -> 2L, "9" -> 2L), s"state merge wrong: $rows")
    } finally q.stop()
  }

  test("s29 single-batch run equals batch e18; last-day state carries gaps across batches") {
    // contract parity: one micro-batch == the batch hazard curve, bitwise
    def curve(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("gap_day"), r.getAs[Long]("n_events"),
        r.getAs[Long]("n_at_risk"), r.getAs[Long]("hazard_permille"))).toSeq
    val streamed = curve(graft.streaming.EventStreams.s29(spark, sf))
    val batch = curve(graft.operators.EventWindows.e18(spark, sf))
    assert(streamed == batch && streamed.nonEmpty)
    // multi-batch: gaps must close ACROSS micro-batches from the one
    // last-day scalar, and same-day repeats must be swallowed
    val ns = spark.newSession()
    ns.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
    import ns.implicits._
    import graft.streaming.EventStreams.{DayEv, hazardStream}
    val mem = MemoryStream[DayEv]
    val name = "s29_state_test"
    val q = hazardStream(mem.toDS()).toDF().writeStream
      .outputMode(OutputMode.Append()).format("memory").queryName(name).start()
    try {
      mem.addData(DayEv(1L, 10L), DayEv(1L, 10L), DayEv(2L, 5L)) // dup day swallowed
      q.processAllAvailable()
      mem.addData(DayEv(1L, 13L), DayEv(2L, 5L), DayEv(2L, 9L))  // gaps close across batches
      q.processAllAvailable()
      mem.addData(DayEv(1L, 14L))
      q.processAllAvailable()
      val rows = ns.table(name).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("gap"))).toSeq.sorted
      assert(rows == Seq((1L, 1L), (1L, 3L), (2L, 4L)), s"gap stream wrong: $rows")
    } finally q.stop()
  }

  test("s30 single-batch run equals batch dq4; day-count state merges across batches") {
    def chart(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("day"), r.getAs[Long]("n_rows"), r.getAs[Long]("n_flag"),
        r.getAs[Long]("rate_permille"), r.getAs[Long]("out_of_control"))).toSeq
    val streamed = chart(graft.streaming.EventStreams.s30(spark, sf))
    val batch = chart(graft.operators.Quality.dq4(spark, sf))
    assert(streamed == batch && streamed.nonEmpty)
    // multi-batch: the same rows split across batches land identical
    // day counts (counts are algebraic state)
    val ns = spark.newSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
    import ns.implicits._
    val mem = MemoryStream[(java.sql.Date, Double)]
    val src = mem.toDS().toDF("l_shipdate", "l_quantity")
    val agg = graft.operators.Quality.dq4Counts(src)
    val name = "s30_state_test"
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(name).start()
    val d1 = java.sql.Date.valueOf("1995-03-01")
    val d2 = java.sql.Date.valueOf("1995-03-02")
    try {
      mem.addData((d1, 10.0), (d1, 47.0), (d2, 3.0))
      q.processAllAvailable()
      mem.addData((d1, 46.0), (d2, 45.0), (d2, 12.0))
      q.processAllAvailable()
      val rows = ns.table(name).collect()
        .map(r => (r.getAs[String]("day"), r.getAs[Long]("n_rows"), r.getAs[Long]("n_flag"))).toSet
      assert(rows == Set(("1995-03-01", 3L, 2L), ("1995-03-02", 3L, 1L)),
        s"day-count state merge wrong: $rows")
    } finally q.stop()
  }

  test("s32 single-batch run equals batch q37; holds close across batches from O(1) state") {
    def twap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_holds"),
        r.getAs[Long]("span_s"), r.getAs[Long]("wsum_cents_s"),
        r.getAs[Double]("twap_cents"))).toSeq
    val streamed = twap(graft.streaming.EventStreams.s32(spark, sf))
    val batch = twap(graft.relational.Relational.q37(spark, sf))
    assert(streamed == batch && streamed.nonEmpty)
    // multi-batch: a hold must close ACROSS micro-batches with the
    // PREVIOUS batch's value carried in state
    val ns = spark.newSession()
    ns.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
    import ns.implicits._
    import graft.streaming.EventStreams.{TwapEv, twapStream}
    val mem = MemoryStream[TwapEv]
    val name = "s32_state_test"
    val q = twapStream(mem.toDS()).toDF().writeStream
      .outputMode(OutputMode.Append()).format("memory").queryName(name).start()
    try {
      mem.addData(TwapEv(1L, 1L, 0L, 500L))            // open at value 5.00
      q.processAllAvailable()
      mem.addData(TwapEv(1L, 2L, 10000000L, 900L))     // +10 s at 5.00
      q.processAllAvailable()
      mem.addData(TwapEv(1L, 3L, 14000000L, 100L))     // +4 s at 9.00
      q.processAllAvailable()
      val rows = ns.table(name).collect()
        .map(r => (r.getAs[Long]("n_holds"), r.getAs[Long]("span_s"),
          r.getAs[Long]("wsum_cents_s"))).toSet
      // emissions: after b1 (open), b2 (one 10s hold at 500), b3 (+4s at 900)
      assert(rows == Set((0L, 0L, 0L), (1L, 10L, 5000L), (2L, 14L, 8600L)),
        s"cross-batch hold algebra wrong: $rows")
    } finally q.stop()
  }

  test("s33 single-batch run equals batch e19; transitions close across batches") {
    def pi(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("pi_micro"),
        r.getAs[Long]("n_out"))).toSeq
    val streamed = pi(graft.streaming.EventStreams.s33(spark, sf))
    val batch = pi(graft.operators.EventWindows.e19(spark, sf))
    assert(streamed == batch && streamed.nonEmpty)
    // multi-batch: a transition must close ACROSS micro-batches from
    // the one last-type scalar
    val ns = spark.newSession()
    ns.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ns.sqlContext
    import ns.implicits._
    import graft.streaming.EventStreams.{TypeEv, transitionStream}
    val mem = MemoryStream[TypeEv]
    val name = "s33_state_test"
    val q = transitionStream(mem.toDS()).toDF().writeStream
      .outputMode(OutputMode.Append()).format("memory").queryName(name).start()
    try {
      mem.addData(TypeEv(1L, 1L, 10L, "view"), TypeEv(1L, 2L, 20L, "click"))
      q.processAllAvailable()
      mem.addData(TypeEv(1L, 3L, 30L, "purchase")) // closes click->purchase cross-batch
      q.processAllAvailable()
      val rows = ns.table(name).collect()
        .map(r => (r.getAs[String]("prev_type"), r.getAs[String]("event_type"))).toSeq.sorted
      assert(rows == Seq(("click", "purchase"), ("view", "click")),
        s"cross-batch transition wrong: $rows")
    } finally q.stop()
  }

  test("s34 stateless OOD door equals batch v24 row for row") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid"),
        r.getAs[Long]("d6"), r.getAs[Long]("ood"))).toSeq
    val streamed = rows(graft.streaming.EventStreams.s34(spark, sf))
    val batch = rows(graft.operators.Knn.v24(spark, sf))
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.exists(_._4 == 1L) && streamed.exists(_._4 == 0L))
  }

  test("s35 stateless graph-ANN door equals batch v21 row for row") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
        r.getAs[Long]("in_exact"))).toSeq
    val streamed = rows(graft.streaming.EventStreams.s35(spark, sf))
    val batch = rows(graft.operators.Knn.v21(spark, sf))
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.exists(_._5 == 1L), "ground-truth hits must exist")
  }

  test("s35 door is batch-split invariant: queries across MemoryStream batches") {
    import spark.implicits._
    val ix = graft.operators.Knn.v21Static(spark, sf)
    // the driver-side state bound: the ONLY driver-resident index
    // piece is the coarse codebook (≤ v21Cents entries) — adjacency,
    // reps and corpus vectors are partitioned DataFrames, never maps
    assert(ix.cents.length <= 8)
    // raw (un-normalized) query vectors, as they'd arrive on the wire
    val raw = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 10)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val src = graft.operators.Knn.normalized(
        mem.toDF().toDF("vec_id", "embedding"))
      .select(col("vec_id"), col("nv"))
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Long, Double, Long)]
    val q = src.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf ++= graft.streaming.EventStreams.graphAnnServe(ix, b).collect()
          .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
            r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
            r.getAs[Long]("in_exact")))
        ()
      }.start()
    try {
      mem.addData(raw.take(4).toSeq); q.processAllAvailable()
      mem.addData(raw.slice(4, 7).toSeq); q.processAllAvailable()
      mem.addData(raw.drop(7).toSeq); q.processAllAvailable()
    } finally q.stop()
    val got = buf.toSeq.sorted
    val batch = graft.operators.Knn.v21(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
        r.getAs[Long]("in_exact"))).toSeq.sorted
    assert(got == batch && got.nonEmpty)
  }


  test("s38 insert door: replay equals batch v26 edges; cross-batch links are sequential") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("nbr_id"), r.getAs[Double]("cos_sim"))).toSeq
    // twin contract: the whole stream replayed (one batch) == batch
    // v26's insert-edge selection, bitwise
    val streamed = rows(graft.streaming.EventStreams.s38(spark, sf)).sorted
    val e = graft.operators.Knn.vectors(spark, sf)
    val modK = graft.operators.Knn.v26ModK
    val (g0, reps0, cents0) = graft.operators.Knn.v21Index(spark, e,
      s"vec_id >= 10 AND vec_id % $modK <> 0")
    val ixBase = graft.operators.Knn.V21Static(e, g0, reps0, cents0)
    val newQs = e.filter(s"vec_id >= 10 AND vec_id % $modK = 0")
      .selectExpr("vec_id", "nv").as[(Long, Array[Double])]
      .collect().sortBy(_._1)
    val batch = rows(graft.operators.Knn.v21InsertEdges(ixBase, newQs)).sorted
    assert(streamed == batch && streamed.nonEmpty)
    // sequential cross-batch semantics: plant two near-copies of one
    // base vector in SEPARATE batches — the second arrival must link
    // to the first (it saw the grown graph), where a batch-parallel
    // insert of both cannot (it sees only the stable base)
    val baseX = e.filter("vec_id = 50")
      .selectExpr("vec_id", "transform(nv, x -> x)").as[(Long, Array[Double])]
      .collect()(0)._2
    val nrm = math.sqrt(baseX.map(x => x * x).sum)
    def copyOf(sign: Double): Seq[Double] = {
      val v = baseX.clone(); v(0) += sign * 0.1 * nrm; v.toSeq
    }
    val a = (9000001L, copyOf(1.0)); val b = (9000002L, copyOf(-1.0))
    implicit val sqlCtx = spark.sqlContext
    def runSplit(batches: Seq[Seq[(Long, Seq[Double])]]): Map[Long, Set[Long]] = {
      val st = graft.streaming.EventStreams.annInsertState(spark, sf)
      val mem = MemoryStream[(Long, Seq[Double])]
      val links = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val src = graft.operators.Knn.normalized(
          mem.toDF().toDF("vec_id", "embedding"))
        .select(col("vec_id"), col("nv"))
      val q = src.writeStream.outputMode("append")
        .foreachBatch { (bdf: org.apache.spark.sql.DataFrame, _: Long) =>
          links ++= graft.streaming.EventStreams.annInsertServe(st, bdf)
            .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("nbr_id")))
          ()
        }.start()
      try batches.foreach { bs => mem.addData(bs); q.processAllAvailable() }
      finally q.stop()
      links.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    }
    val seq2 = runSplit(Seq(Seq(a), Seq(b)))
    assert(seq2(b._1).contains(a._1),
      s"second arrival did not link to the first: ${seq2(b._1)}")
    val par1 = runSplit(Seq(Seq(a, b)))
    assert(!par1(b._1).contains(a._1) && !par1(a._1).contains(b._1),
      "batch-parallel insert must see only the stable base")
  }

  test("s38 growth is append-only: per-batch delta is O(|batch|·degree) and compaction conserves edges") {
    import spark.implicits._
    // drive the factored growth bookkeeping with synthetic link
    // frames (the search half is covered by the linking specs) so
    // the discipline is pinned EXACTLY without paying a beam search
    // per batch: 500 base nodes in a ring, then 10 batches of 4 new
    // nodes, each linking 16 existing + its batch-buddy (the mutual
    // intra-batch link that the delta dedup must collapse)
    val baseN = 500L
    val baseVecs = (0L until baseN).map(i => (i, Array(i.toDouble)))
      .toDF("vec_id", "nv").localCheckpoint()
    val baseGraph = (0L until baseN)
      .flatMap(i => Seq((i, (i + 1) % baseN), ((i + 1) % baseN, i)))
      .toDF("src_id", "nbr_id").localCheckpoint()
    val st = new graft.streaming.EventStreams.AnnInsertState(
      baseVecs, baseGraph, baseVecs, Array.empty)
    val baseEdges = st.graph.count()
    val nb = graft.streaming.EventStreams.annCompactEvery + 2
    var deltaSum = 0L
    (0 until nb).foreach { b =>
      val ids = (0 until 4).map(j => 10000L + b * 4 + j)
      // 16 base links each (deterministic), plus the mutual pair:
      // ids(0) links ids(1) AND ids(1) links ids(0) — the ONLY
      // duplicate class the append-only argument allows
      val ins = ids.flatMap(id =>
        (0 until 16).map(k => (id, (id * 7 + k * 31) % baseN))) ++
        Seq((ids(0), ids(1)), (ids(1), ids(0)))
      val arriving = ids.map(id => (id, Array(id.toDouble)))
      graft.streaming.EventStreams.annInsertGrow(st,
        ins.toDF("new_id", "nbr_id"),
        arriving.toDF("vec_id", "nv"))
      // exact delta: undirected-distinct pairs × 2 — the mutual
      // intra-batch pair collapses (2 rows, not 4), nothing else does
      val expected = 2L * ins.map { case (a, c) =>
        (math.min(a, c), math.max(a, c)) }.distinct.size
      assert(st.lastDeltaRows == expected,
        s"batch $b delta ${st.lastDeltaRows} != $expected")
      // the O(|batch|·degree) bound, graph-size independent
      assert(st.lastDeltaRows <= 2L * ins.size,
        s"batch $b delta exceeds the batch bound")
      deltaSum += st.lastDeltaRows
    }
    assert(st.batches > graft.streaming.EventStreams.annCompactEvery,
      "compaction path was not exercised")
    // append-only invariant: no edge recurs across batches, so the
    // accumulated graph (through ≥1 compaction) is EXACTLY base + Σ
    // deltas, and every vector arrived exactly once
    assert(st.graph.count() == baseEdges + deltaSum)
    assert(st.vecs.count() == baseN + nb * 4L)
    // a REPLAYED arrival is a no-op on the vector table (the anti-
    // join guard behind the no-cross-batch-duplicate argument)
    graft.streaming.EventStreams.annInsertGrow(st,
      Seq.empty[(Long, Long)].toDF("new_id", "nbr_id"),
      Seq((10000L, Array(10000.0))).toDF("vec_id", "nv"))
    assert(st.vecs.count() == baseN + nb * 4L)
    assert(baseEdges + deltaSum > st.lastDeltaRows,
      "fixture too small to distinguish delta from graph size")
  }

  test("s39 erasure door: full replay equals batch v27; erasure is idempotent across batches") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
        r.getAs[Long]("in_exact"), r.getAs[Long]("n_tomb_visited"))).toSeq
    // twin contract: the whole tombstone stream replayed (one batch)
    // == batch v27, bitwise
    val streamed = rows(graft.streaming.EventStreams.s39(spark, sf)).sorted
    val batch = rows(graft.operators.Knn.v27(spark, sf)).sorted
    assert(streamed == batch && streamed.nonEmpty)
    // multi-batch + replay-idempotence, on the factored kernel: the
    // same delete ids split across two batches converge to the same
    // state, and REPLAYING already-processed ids is a no-op (the
    // at-least-once erasure-feed contract)
    val st = graft.streaming.EventStreams.annDeleteState(spark, sf)
    val tombs = graft.operators.Knn.vectors(spark, sf)
      .filter("vec_id >= 10 AND vec_id % 23 = 0")
      .selectExpr("vec_id").as[Long].collect().sorted.toSeq
    assert(tombs.size >= 4)
    val (b1, b2) = tombs.splitAt(tombs.size / 2)
    def serve(ids: Seq[Long]) = rows(
      graft.streaming.EventStreams.annDeleteServe(st, ids.toDF("vec_id")))
    val mid = serve(b1)
    val full = serve(b2)
    assert(full.sorted == batch, "two-batch erasure != single replay")
    // mid-stream state already differs from the final one (the door
    // genuinely serves the PARTIAL delete set, not a precomputed end
    // state): any id in b2 may still surface at mid
    assert(mid.sorted != full.sorted || b2.forall(id => !batch.exists(_._3 == id)))
    val replayed = serve(b1)
    assert(replayed.sorted == full.sorted, "replaying old tombstones changed the state")
    assert(st.deleted.count() == tombs.size.toLong)
    // round 14 no-re-scoring pins (s38's bookkeeping idiom): the
    // invariant serve legs were built ONCE at state construction;
    // per-batch materialized work is delete-set-sized (a full replay
    // materializes ZERO rows); and the erasure serve never touches
    // the index object at all — nulling it out cannot change a row
    assert(st.legBuilds == 1, "erasure door rebuilt its serve legs per batch")
    assert(st.lastArrivalRows == 0L,
      "a replayed batch materialized non-zero arrival rows")
    st.ix = null
    val afterNull = serve(b2)
    assert(afterNull.sorted == full.sorted,
      "serve read the index object instead of the cached legs")
  }

  test("s40 compaction door: the deletion-fraction trigger fires, the dial collapses, erasure survives the rebuild") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
        r.getAs[Long]("in_exact"), r.getAs[Long]("n_tomb_visited"))).toSeq
    // twin contract: the full tombstone set crosses the threshold in
    // one batch, so the whole stream replayed == batch v28 bitwise
    val streamed = rows(graft.streaming.EventStreams.s40(spark, sf)).sorted
    val batch = rows(graft.operators.Knn.v28(spark, sf)).sorted
    assert(streamed == batch && streamed.nonEmpty)
    // two-phase on the factored kernel: half the tombstones stay
    // below the 4% threshold (delete set retained — no rebuild, the
    // filtered-serve arm), the crossing batch compacts (delete set
    // CONSUMED, dial 0 everywhere, rows == batch v28)
    val st = graft.streaming.EventStreams.annDeleteState(spark, sf)
    val tombs = graft.operators.Knn.vectors(spark, sf)
      .filter("vec_id >= 10 AND vec_id % 23 = 0")
      .selectExpr("vec_id").as[Long].collect().sorted.toSeq
    val (b1, b2) = tombs.splitAt(tombs.size / 2)
    def serve(ids: Seq[Long]) = rows(
      graft.streaming.EventStreams.annCompactServe(st, ids.toDF("vec_id")))
    val mid = serve(b1)
    assert(st.deleted.count() == b1.size.toLong,
      "sub-threshold batch must NOT compact")
    assert(mid.forall(t => !b1.contains(t._3)), "deleted id surfaced mid-stream")
    assert(st.legBuilds == 1, "sub-threshold batch must serve the cached legs")
    assert(st.lastArrivalRows == b1.size.toLong,
      "per-batch materialized work must be delete-set-sized")
    val fin = serve(b2)
    assert(st.deleted.count() == 0L, "compaction must consume the delete set")
    assert(fin.sorted == batch, "post-compaction serve != batch v28")
    assert(fin.forall(_._6 == 0L), "dial must collapse post-compaction")
    assert(st.legBuilds == 2, "compaction must rebuild the legs exactly once")
    // erasure is PERMANENT across the rebuild: replaying old
    // tombstones changes nothing — those vectors left the index —
    // AND (round 14) the replayed ids must not re-enter the delete
    // set via the corpus semi-join: with the old anti-join-only
    // fold they re-entered against the now-empty set and counted
    // toward the trigger against the SHRUNK corpus, so enough
    // replayed traffic fired a spurious full rebuild that removed
    // nothing — the one full-corpus cost the threshold amortizes
    val replayed = serve(b1)
    assert(replayed.sorted == fin.sorted,
      "replayed erasure ids changed results after compaction")
    assert(st.deleted.count() == 0L,
      "replayed ids re-entered the delete set after compaction")
    assert(st.lastArrivalRows == 0L)
    assert(st.legBuilds == 2, "replayed traffic fired a spurious rebuild")
  }

  test("s43 store-backed door: zero bootstrap builds, torn store refused at the boundary, compaction publishes back") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
        r.getAs[Long]("in_exact"), r.getAs[Long]("n_tomb_visited"))).toSeq
    // twin contract: the artifact boundary is invisible — the whole
    // stream replayed through the store-backed door == batch v28
    val streamed = rows(graft.streaming.EventStreams.s43(spark, sf)).sorted
    val batch = rows(graft.operators.Knn.v28(spark, sf)).sorted
    assert(streamed == batch && streamed.nonEmpty)
    // kernel: the batch trainer publishes v1
    val root = new java.io.File(graft.store.Versioned.tempRoot("graft_s43spec_"))
    val ix0 = graft.operators.Knn.v21Static(spark, sf)
    assert(graft.operators.Knn.saveIndexVersion(
      ix0, root.getAbsolutePath) == 1)
    ix0.reps.unpersist()
    // a torn store (manifest missing) refuses AT THE STREAM BOUNDARY
    // — before any batch is consumed
    val mf = new java.io.File(root, "v1/_MANIFEST")
    val mfBytes = java.nio.file.Files.readAllBytes(mf.toPath)
    assert(mf.delete())
    intercept[IllegalStateException] {
      graft.streaming.EventStreams.annDeleteStateFromStore(
        spark, sf, root.getAbsolutePath)
    }
    java.nio.file.Files.write(mf.toPath, mfBytes)
    // committed store: the bootstrap performs ZERO index-build work
    graft.operators.Knn.indexBuilds.set(0L)
    val st = graft.streaming.EventStreams.annDeleteStateFromStore(
      spark, sf, root.getAbsolutePath)
    assert(st.storeVersion == 1)
    val tombs = graft.operators.Knn.vectors(spark, sf)
      .filter("vec_id >= 10 AND vec_id % 23 = 0")
      .selectExpr("vec_id").as[Long].collect().sorted.toSeq
    val (b1, b2) = tombs.splitAt(tombs.size / 2)
    def serve(ids: Seq[Long]) = rows(
      graft.streaming.EventStreams.annCompactServe(st, ids.toDF("vec_id")))
    val mid = serve(b1)
    assert(graft.operators.Knn.indexBuilds.get == 0L,
      "a store-bootstrapped door must not build an index to serve")
    assert(mid.forall(t => !b1.contains(t._3)), "deleted id surfaced")
    // below the threshold there is no BASE publish — but the erasure
    // wave ships as a tombstone DELTA segment (v31's LSM discipline)
    assert(graft.operators.Knn.latestCommittedVersion(
      root.getAbsolutePath).contains(2) &&
      graft.operators.Knn.isDeltaVersion(root.getAbsolutePath, 2),
      "the erasure wave must publish as a delta, not a base")
    // CRASH RECOVERY: a sibling (or this process restarted) primes
    // its delete set from the unfolded deltas — it never re-serves
    // the erased vectors while its own stream catches up
    val st2 = graft.streaming.EventStreams.annDeleteStateFromStore(
      spark, sf, root.getAbsolutePath)
    assert(st2.deleted.collect().map(_.getLong(0)).sorted.toSeq == b1,
      "bootstrap must prime tombstones from the unfolded deltas")
    assert(graft.operators.Knn.indexBuilds.get == 0L)
    assert(rows(graft.streaming.EventStreams.annCompactServe(st2,
      Seq.empty[Long].toDF("vec_id"))).sorted == mid.sorted,
      "the delta-primed sibling must serve exactly the door's rows")
    // the crossing batch compacts: exactly ONE build, published as
    // the next committed BASE (after b2's delta) BEFORE the swap
    val fin = serve(b2)
    assert(fin.sorted == batch, "post-compaction serve != batch v28")
    assert(graft.operators.Knn.indexBuilds.get == 1L,
      "the compaction rebuild must be the only index build")
    assert(graft.operators.Knn.latestCommittedVersion(
      root.getAbsolutePath).contains(4) && st.storeVersion == 4,
      "compaction must publish the rebuilt base as v4 (after the b2 delta v3)")
    // the published artifact IS the serving index: a fresh load of
    // the new base serves the standing queries bitwise like the door
    val (ix2, v2) = graft.operators.Knn.loadLatestIndex(
      spark, root.getAbsolutePath)
    assert(v2 == 4)
    val noDel = spark.range(0).selectExpr("id AS vec_id")
    val fromStore = rows(graft.operators.Knn.v27ServeExcluding(
      ix2, st.qs, noDel))
    assert(fromStore.sorted == fin.sorted,
      "the published artifact serves differently from the door")
    assert(graft.operators.Knn.indexBuilds.get == 1L,
      "loading the published artifact must not build")
  }

  test("s43 retention: the door vacuums after publish-on-compact — keeps the published version + its rollback predecessor, reclaims the rest") {
    import spark.implicits._
    // a store with HISTORY: three trainer publishes (v1..v3 — the
    // periodic-refresh shape) plus a dead torn v4 left by a crashed
    // publish; the door bootstraps from v3
    val root = new java.io.File(graft.store.Versioned.tempRoot("graft_s43vac_"))
    val rootP = root.getAbsolutePath
    val ix0 = graft.operators.Knn.v21Static(spark, sf)
    (1 to 3).foreach { i =>
      assert(graft.operators.Knn.saveIndexVersion(ix0, rootP) == i)
    }
    ix0.reps.unpersist()
    val torn = new java.io.File(root, "v4")
    torn.mkdirs()
    java.nio.file.Files.write(torn.toPath.resolve("part-crash"),
      Array[Byte](1, 2, 3))
    val st = graft.streaming.EventStreams.annDeleteStateFromStore(
      spark, sf, rootP)
    assert(st.storeVersion == 3)
    // one crossing batch: the erasure delta publishes as v5 (skipping
    // torn v4), compaction publishes base v6, and the door's
    // kind-aware vacuum leaves {v3, v5, v6} — the published base, its
    // rollback predecessor, and the delta REPLAY window between them
    // (rollback = predecessor + replay deltas)
    val tombs = graft.operators.Knn.vectors(spark, sf)
      .filter("vec_id >= 10 AND vec_id % 23 = 0").selectExpr("vec_id")
    graft.streaming.EventStreams.annCompactServe(st, tombs.toDF())
      .foreach(_ => ())
    assert(st.storeVersion == 6, "delta v5 + base v6, skipping torn v4")
    val left = Option(root.listFiles()).getOrElse(Array.empty)
      .map(_.getName).toSet
    assert(left == Set("v3", "v5", "v6"),
      s"door retention must leave {v3, v5, v6}, found $left")
    assert(graft.operators.Knn.latestCommittedVersion(rootP).contains(6),
      "the just-published base is what siblings bootstrap from")
    // the kept predecessor is the ROLLBACK/FORENSICS target: it must
    // stay loadable through the committed-read gate (time-travel by
    // version name — the ForecastStore.loadVersion posture)
    assert(graft.operators.Knn.loadIndex(spark,
      new java.io.File(root, "v3").getAbsolutePath).cents.nonEmpty,
      "the retained predecessor must remain a valid rollback target")
  }

  test("s47 durable insert door: replay equals batch v26 edges; a killed door's sibling re-bootstraps with zero builds and serves bitwise") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("nbr_id"), r.getAs[Double]("cos_sim"))).toSeq
    // twin contract: the store-backed door replayed (one batch) ==
    // batch v26's insert-edge selection, bitwise — the store and its
    // per-batch publishes are semantically invisible
    val streamed = rows(graft.streaming.EventStreams.s47(spark, sf)).sorted
    val e = graft.operators.Knn.vectors(spark, sf)
    val modK = graft.operators.Knn.v26ModK
    val (g0, reps0, cents0) = graft.operators.Knn.v21Index(spark, e,
      s"vec_id >= 10 AND vec_id % $modK <> 0")
    val ixBase = graft.operators.Knn.V21Static(e, g0, reps0, cents0)
    val newQs = e.filter(s"vec_id >= 10 AND vec_id % $modK = 0")
      .selectExpr("vec_id", "nv").as[(Long, Array[Double])]
      .collect().sortBy(_._1)
    val batch = rows(
      graft.operators.Knn.v21InsertEdges(ixBase, newQs)).sorted
    assert(streamed == batch && streamed.nonEmpty)
    // KILL-AND-REBOOTSTRAP: plant two near-copies of one base vector
    // in separate batches with a CRASH in between — the sibling that
    // re-bootstraps from the store must see batch 1's growth (the
    // second arrival links to the first THROUGH the store), perform
    // zero index builds, and serve batch 2 bitwise like the
    // continuous door that never crashed
    val baseX = e.filter("vec_id = 50")
      .selectExpr("vec_id", "transform(nv, x -> x)")
      .as[(Long, Array[Double])].collect()(0)._2
    val nrm = math.sqrt(baseX.map(x => x * x).sum)
    def copyOf(sign: Double): Seq[Double] = {
      val v = baseX.clone(); v(0) += sign * 0.1 * nrm; v.toSeq
    }
    val a = (9000001L, copyOf(1.0)); val b = (9000002L, copyOf(-1.0))
    implicit val sqlCtx = spark.sqlContext
    def driveOne(st: graft.streaming.EventStreams.AnnInsertState,
        data: (Long, Seq[Double])): Seq[(Long, Long)] = {
      val mem = MemoryStream[(Long, Seq[Double])]
      val links = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val src = graft.operators.Knn.normalized(
          mem.toDF().toDF("vec_id", "embedding"))
        .select(col("vec_id"), col("nv"))
      val q = src.writeStream.outputMode("append")
        .foreachBatch { (bdf: org.apache.spark.sql.DataFrame, _: Long) =>
          links ++= graft.streaming.EventStreams.annInsertServe(st, bdf)
            .collect()
            .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("nbr_id")))
          ()
        }.start()
      try { mem.addData(data); q.processAllAvailable() } finally q.stop()
      links.toSeq
    }
    // continuous control: both batches on one door over its own store
    val rootC = graft.streaming.EventStreams.annInsertStoreSeed(spark, sf)
    val stC = graft.streaming.EventStreams.annInsertStateFromStore(
      spark, rootC)
    driveOne(stC, a)
    val contB2 = driveOne(stC, b).sorted
    // crashed door: batch 1, then the state is DISCARDED (the crash),
    // then a sibling re-bootstraps from the store
    val root = graft.streaming.EventStreams.annInsertStoreSeed(spark, sf)
    val st1 = graft.streaming.EventStreams.annInsertStateFromStore(
      spark, root)
    driveOne(st1, a)
    assert(graft.operators.Knn.isDeltaVersion(root, st1.storeVersion),
      "the insert batch must publish a delta segment")
    graft.operators.Knn.indexBuilds.set(0L)
    val st2 = graft.streaming.EventStreams.annInsertStateFromStore(
      spark, root)
    assert(graft.operators.Knn.indexBuilds.get == 0L,
      "the sibling bootstrap must perform zero index builds")
    assert(st2.vecs.filter(s"vec_id = ${a._1}").count() == 1L,
      "the sibling must inherit batch 1's arrival from the store")
    val sibB2 = driveOne(st2, b).sorted
    assert(sibB2 == contB2,
      "the re-bootstrapped sibling must serve batch 2 bitwise")
    assert(sibB2.exists { case (n, l) => n == b._1 && l == a._1 },
      "the second arrival must link to the first THROUGH the store")
  }

  test("s47 per-batch store bytes are O(|batch|): vectors = arrivals, edges endpoint-bounded; a replayed batch publishes nothing") {
    import spark.implicits._
    // synthetic kernel drive (the s38 growth-spec idiom): a seeded
    // store + direct annInsertGrow calls pin the publish volumes
    // exactly without paying a beam search per batch
    val baseN = 200L
    val baseVecs = (0L until baseN).map(i => (i, Array(i.toDouble)))
      .toDF("vec_id", "nv").localCheckpoint()
    val baseGraph = (0L until baseN)
      .flatMap(i => Seq((i, (i + 1) % baseN), ((i + 1) % baseN, i)))
      .toDF("src_id", "nbr_id").localCheckpoint()
    val root = new java.io.File(graft.store.Versioned.tempRoot("graft_s47vol_"))
    val rootP = root.getAbsolutePath
    val cents1 = Array((0L, Array(0.0)))
    assert(graft.operators.Knn.saveIndexVersion(
      graft.operators.Knn.V21Static(baseVecs, baseGraph, baseVecs,
        cents1), rootP) == 1)
    val st = new graft.streaming.EventStreams.AnnInsertState(
      baseVecs, baseGraph, baseVecs, cents1)
    st.storeRoot = rootP
    st.storeVersion = 1
    val ids = (0 until 4).map(j => 10000L + j)
    val ins = ids.flatMap(id =>
      (0 until 16).map(k => (id, (id * 7 + k * 31) % baseN)))
    graft.streaming.EventStreams.annInsertGrow(st,
      ins.toDF("new_id", "nbr_id"),
      ids.map(id => (id, Array(id.toDouble))).toDF("vec_id", "nv"))
    assert(st.storeVersion == 2 &&
      graft.operators.Knn.isDeltaVersion(rootP, 2))
    // the manifest counts ARE the published volume: |batch| vectors,
    // ≤ 2·degree·|batch| edges — graph- and corpus-size independent
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(rootP, "v2", "_MANIFEST")), "UTF-8")
      .split("\n").drop(1).map(_.split(" "))
      .map(x => x(0) -> x(1).toLong).toMap
    assert(mf("vectors") == ids.size.toLong,
      s"published vectors ${mf("vectors")} != arrivals ${ids.size}")
    assert(mf("edges") == st.lastDeltaRows,
      "an all-fresh batch publishes exactly its growth delta")
    assert(mf("edges") <= 2L * ins.size,
      "published edges exceed the batch bound")
    assert(mf("tombs") == 0L,
      "an insert segment must be component-sparse (no tombs written)")
    // REPLAY: the same batch again — no arrivals, NO publish (store
    // replay idempotence, the erasure door's deduped-arrival twin)
    graft.streaming.EventStreams.annInsertGrow(st,
      ins.toDF("new_id", "nbr_id"),
      ids.map(id => (id, Array(id.toDouble))).toDF("vec_id", "nv"))
    assert(st.storeVersion == 2 && st.lastPubRows == 0L,
      "a replayed batch must not publish a segment")
    assert(graft.operators.Knn.committedVersions(rootP) == Seq(1, 2))
  }

  test("s47 composes with tombstone deltas: insert then erase across a restart — erased id unscoreable, re-arrival is a fresh insert") {
    import spark.implicits._
    val baseN = 100L
    val baseVecs = (0L until baseN).map(i => (i, Array(i.toDouble)))
      .toDF("vec_id", "nv").localCheckpoint()
    val baseGraph = (0L until baseN)
      .flatMap(i => Seq((i, (i + 1) % baseN), ((i + 1) % baseN, i)))
      .toDF("src_id", "nbr_id").localCheckpoint()
    val root = new java.io.File(graft.store.Versioned.tempRoot("graft_s47mix_"))
    val rootP = root.getAbsolutePath
    val cents1 = Array((0L, Array(0.0)))
    graft.operators.Knn.saveIndexVersion(
      graft.operators.Knn.V21Static(baseVecs, baseGraph, baseVecs,
        cents1), rootP)
    val st = new graft.streaming.EventStreams.AnnInsertState(
      baseVecs, baseGraph, baseVecs, cents1)
    st.storeRoot = rootP
    st.storeVersion = 1
    // INSERT: id 10000 arrives and publishes (vectors+edges delta v2)
    graft.streaming.EventStreams.annInsertGrow(st,
      Seq((10000L, 0L), (10000L, 1L)).toDF("new_id", "nbr_id"),
      Seq((10000L, Array(10000.0))).toDF("vec_id", "nv"))
    assert(st.storeVersion == 2)
    // ERASE: the erasure path tombstones it (s43's per-batch delta,
    // published against the same root) — delta v3
    graft.operators.Knn.saveDeltaVersion(rootP,
      Map("tombs" -> Seq(10000L).toDF("vec_id")))
    // RESTART: the sibling's assembly folds all three segments — the
    // erased id is gone from the vector table (unscoreable: it can
    // neither serve as a link target nor accept links), its edges
    // dangle harmlessly, and the base is intact
    val st2 = graft.streaming.EventStreams.annInsertStateFromStore(
      spark, rootP)
    assert(st2.vecs.filter("vec_id = 10000").count() == 0L,
      "a tombstoned insert must not survive the restart assembly")
    assert(st2.vecs.count() == baseN,
      "the base corpus must survive the tombstone intact")
    // RE-ARRIVAL of the erased id: a fresh insert (the anti-join
    // sees it gone), re-published as a new delta — erasure is not
    // a permanent id ban
    graft.streaming.EventStreams.annInsertGrow(st2,
      Seq((10000L, 2L)).toDF("new_id", "nbr_id"),
      Seq((10000L, Array(-1.0))).toDF("vec_id", "nv"))
    assert(st2.lastPubRows == 1L,
      "a re-arrival after erasure must publish as a fresh insert")
    assert(st2.vecs.filter("vec_id = 10000").count() == 1L)
  }

  test("s48 upsert door: replay equals batch v33; a crash loses neither arrivals nor erasures; legs amortize across erasure-only batches") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
        r.getAs[Long]("in_exact"), r.getAs[Long]("n_tomb_visited"))).toSeq
    // twin contract: the mixed-op stream replayed (one batch) ==
    // batch v33, bitwise
    val streamed = rows(graft.streaming.EventStreams.s48(spark, sf)).sorted
    val batch = rows(graft.operators.Knn.v33(spark, sf)).sorted
    assert(streamed == batch && streamed.nonEmpty)
    // KILL-AND-REBOOTSTRAP with MIXED ops: insert a planted vector
    // (batch 1), erase a base vector (batch 2), CRASH, sibling
    // re-bootstraps from the one store — zero builds, both the
    // arrival and the erasure inherited — and the empty-batch serve
    // equals the continuous door's, bitwise
    val e = graft.operators.Knn.vectors(spark, sf)
    val baseX = e.filter("vec_id = 50")
      .selectExpr("vec_id", "transform(nv, x -> x)")
      .as[(Long, Array[Double])].collect()(0)._2
    val nrm = math.sqrt(baseX.map(x => x * x).sum)
    val planted = baseX.clone(); planted(0) += 0.1 * nrm
    val pnrm = math.sqrt(planted.map(x => x * x).sum)
    val pvec = planted.map(_ / pnrm).toSeq
    val victim = e.filter(graft.operators.Knn.v33DelPred)
      .select("vec_id").as[Long].collect().min
    def emptyB = Seq.empty[(Long, Seq[Double], String)]
      .toDF("vec_id", "nv", "op")
    def b1 = Seq((9000001L, pvec, "ins")).toDF("vec_id", "nv", "op")
    def b2 = Seq((victim, pvec, "del")).toDF("vec_id", "nv", "op")
    // continuous control
    val rootC = graft.streaming.EventStreams.annInsertStoreSeed(spark, sf)
    val stC = graft.streaming.EventStreams.annUpsertStateFromStore(
      spark, sf, rootC)
    graft.streaming.EventStreams.annUpsertServe(stC, b1).foreach(_ => ())
    graft.streaming.EventStreams.annUpsertServe(stC, b2).foreach(_ => ())
    val contB3 = rows(graft.streaming.EventStreams.annUpsertServe(
      stC, emptyB)).sorted
    // crashed door + sibling
    val root = graft.streaming.EventStreams.annInsertStoreSeed(spark, sf)
    val st1 = graft.streaming.EventStreams.annUpsertStateFromStore(
      spark, sf, root)
    graft.streaming.EventStreams.annUpsertServe(st1, b1).foreach(_ => ())
    graft.streaming.EventStreams.annUpsertServe(st1, b2).foreach(_ => ())
    graft.operators.Knn.indexBuilds.set(0L)
    val st2 = graft.streaming.EventStreams.annUpsertStateFromStore(
      spark, sf, root)
    assert(graft.operators.Knn.indexBuilds.get == 0L,
      "the sibling bootstrap must perform zero index builds")
    assert(st2.ins.vecs.filter("vec_id = 9000001").count() == 1L,
      "the sibling must inherit the arrival")
    assert(st2.deleted.collect().map(_.getLong(0)).toSeq == Seq(victim),
      "the sibling must inherit the erasure")
    assert(st2.ins.vecs.filter(s"vec_id = $victim").count() == 1L,
      "soft deletion keeps the tombstoned vector navigable")
    val sibB3 = rows(graft.streaming.EventStreams.annUpsertServe(
      st2, emptyB)).sorted
    assert(sibB3 == contB3,
      "the re-bootstrapped sibling must serve bitwise")
    assert(!sibB3.exists(_._3 == victim), "erased id served after restart")
    // LEG AMORTIZATION: erasure-only and empty batches reuse the
    // serve legs; a growth batch invalidates them
    assert(st2.legBuilds == 1)
    graft.streaming.EventStreams.annUpsertServe(st2,
      Seq((victim, pvec, "del")).toDF("vec_id", "nv", "op")) // replay: no-op
      .foreach(_ => ())
    assert(st2.legBuilds == 1, "an erasure-only batch must reuse the legs")
    graft.streaming.EventStreams.annUpsertServe(st2,
      Seq((9000002L, pvec, "ins")).toDF("vec_id", "nv", "op"))
      .foreach(_ => ())
    assert(st2.legBuilds == 2, "a growth batch must rebuild the legs")
  }

  test("s48 debt fold preserves soft-deletes: the consolidated tombs delta survives above the new base") {
    import spark.implicits._
    val k = graft.operators.Knn.annDeltaFoldK
    val baseN = 100L
    val baseVecs = (0L until baseN).map(i => (i, Array(i.toDouble)))
      .toDF("vec_id", "nv").localCheckpoint()
    val baseGraph = (0L until baseN)
      .flatMap(i => Seq((i, (i + 1) % baseN), ((i + 1) % baseN, i)))
      .toDF("src_id", "nbr_id").localCheckpoint()
    val cents1 = Array((0L, Array(0.0)))
    val root = new java.io.File(graft.store.Versioned.tempRoot("graft_s48fold_"))
    val rootP = root.getAbsolutePath
    graft.operators.Knn.saveIndexVersion(
      graft.operators.Knn.V21Static(baseVecs, baseGraph, baseVecs,
        cents1), rootP)
    val st = new graft.streaming.EventStreams.AnnInsertState(
      baseVecs, baseGraph, baseVecs, cents1)
    st.storeRoot = rootP
    st.storeVersion = 1
    // the erasure leg landed a tombs delta (soft: ids stay in vecs)
    val tombs = Seq(1L, 2L, 3L).toDF("vec_id").localCheckpoint()
    graft.operators.Knn.saveDeltaVersion(rootP, Map("tombs" -> tombs))
    st.foldTombs = tombs
    // k-1 insert publishes bring the unfolded tail to K -> fold
    (0 until k - 1).foreach { i =>
      val id = 30000L + i
      graft.streaming.EventStreams.annInsertGrow(st,
        Seq((id, (id * 7) % baseN)).toDF("new_id", "nbr_id"),
        Seq((id, Array(id.toDouble))).toDF("vec_id", "nv"))
    }
    assert(st.folds == 1, "the tail must have crossed K and folded")
    // the fold consolidated the delete set ABOVE the new base: a
    // cold assembly still carries the erasures AND the vectors stay
    // navigable (soft semantics survive the compaction)
    val (ixCold, tCold, _) = graft.operators.Knn.loadAnnStoreLsm(
      spark, rootP)
    assert(tCold.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L),
      "soft-deletes must survive the debt fold")
    assert(ixCold.e.filter("vec_id IN (1, 2, 3)").count() == 3L,
      "tombstoned vectors stay in the folded base (navigable)")
    assert(ixCold.e.count() == baseN + (k - 1),
      "the folded base must carry every arrival")
    assert(graft.operators.Knn.unfoldedDeltaCount(rootP) == 1,
      "exactly the consolidated tombs delta remains unfolded")
  }

  test("delta-debt fold: n sub-threshold publishes trigger exactly n/K folds and cold assembly never exceeds K segments") {
    import spark.implicits._
    val k = graft.operators.Knn.annDeltaFoldK
    val baseN = 200L
    val baseVecs = (0L until baseN).map(i => (i, Array(i.toDouble)))
      .toDF("vec_id", "nv").localCheckpoint()
    val baseGraph = (0L until baseN)
      .flatMap(i => Seq((i, (i + 1) % baseN), ((i + 1) % baseN, i)))
      .toDF("src_id", "nbr_id").localCheckpoint()
    val root = new java.io.File(graft.store.Versioned.tempRoot("graft_s47fold_"))
    val rootP = root.getAbsolutePath
    val cents1 = Array((0L, Array(0.0)))
    graft.operators.Knn.saveIndexVersion(
      graft.operators.Knn.V21Static(baseVecs, baseGraph, baseVecs,
        cents1), rootP)
    val st = new graft.streaming.EventStreams.AnnInsertState(
      baseVecs, baseGraph, baseVecs, cents1)
    st.storeRoot = rootP
    st.storeVersion = 1
    val n = 2 * k + 1 // crosses the trigger twice, leaves a tail
    var deltaSum = 0L
    (0 until n).foreach { i =>
      val id = 20000L + i
      graft.streaming.EventStreams.annInsertGrow(st,
        Seq((id, (id * 7) % baseN)).toDF("new_id", "nbr_id"),
        Seq((id, Array(id.toDouble))).toDF("vec_id", "nv"))
      deltaSum += st.lastDeltaRows
      // the RocksDB L0 bound: the observable unfolded tail never
      // reaches K (the publish that lands segment K folds in the
      // same grow call), so cold assembly unions ≤ K segments ever
      val unfolded = graft.operators.Knn.unfoldedDeltaCount(rootP)
      assert(unfolded < k, s"publish $i left $unfolded unfolded >= $k")
      assert(st.folds == (i + 1) / k,
        s"after ${i + 1} publishes expected ${(i + 1) / k} folds, got ${st.folds}")
    }
    assert(st.folds == n / k && st.folds == 2)
    assert(graft.operators.Knn.unfoldedDeltaCount(rootP) == n % k)
    // the fold is semantically invisible: cold assembly == the
    // door's live state, row for row
    val (ixCold, tombs, _) = graft.operators.Knn.loadAnnStoreLsm(
      spark, rootP)
    assert(tombs.isEmpty)
    assert(ixCold.e.count() == baseN + n,
      "cold assembly must carry every published arrival")
    assert(ixCold.e.count() == st.vecs.count() &&
      ixCold.graph.count() == st.graph.count(),
      "cold assembly must equal the door's live state")
    assert(ixCold.graph.count() == 2L * baseN + deltaSum)
  }

  test("s43 bootstrap: inherited tombstones near threshold do not fire a sibling rebuild; newly-observed arrivals still do") {
    import spark.implicits._
    // seed a committed store, then plant tombstone deltas whose
    // folded set already sits ABOVE corpus/denom — the advice
    // scenario: every freshly-bootstrapped sibling in a fleet would
    // otherwise fire the full-corpus rebuild on its first batch
    val root = new java.io.File(graft.store.Versioned.tempRoot("graft_s43primed_"))
    val rootP = root.getAbsolutePath
    val ix0 = graft.operators.Knn.v21Static(spark, sf)
    graft.operators.Knn.saveIndexVersion(ix0, rootP)
    ix0.reps.unpersist()
    val tombs = graft.operators.Knn.vectors(spark, sf)
      .filter(s"vec_id >= 10 AND vec_id % ${graft.operators.Knn.v27ModK} = 0")
      .selectExpr("vec_id")
    graft.operators.Knn.saveDeltaVersion(rootP, Map("tombs" -> tombs))
    val st = graft.streaming.EventStreams.annDeleteStateFromStore(
      spark, sf, rootP)
    val nPrimed = st.primedTombs
    assert(nPrimed > 0L &&
      nPrimed * graft.streaming.EventStreams.s40CompactDenom
        >= st.corpusN,
      "fixture must plant an over-threshold inherited set")
    graft.operators.Knn.indexBuilds.set(0L)
    // first batch: NOTHING newly observed — the primed set alone
    // must not trigger the rebuild (it is a sibling's already-
    // amortized history, not this process's debt)
    graft.streaming.EventStreams.annCompactServe(st,
      Seq.empty[Long].toDF("vec_id")).foreach(_ => ())
    assert(graft.operators.Knn.indexBuilds.get == 0L,
      "inherited tombstones must not fire a bootstrap rebuild")
    // newly-observed erasure arrivals past the threshold DO compact:
    // feed corpus/denom fresh (non-inherited) ids
    val fresh = st.ix.e.filter("vec_id >= 10")
      .join(st.deleted, Seq("vec_id"), "left_anti")
      .select("vec_id").as[Long].take(
        (st.corpusN / graft.streaming.EventStreams.s40CompactDenom
          + 1L).toInt).toSeq
    graft.streaming.EventStreams.annCompactServe(st,
      fresh.toDF("vec_id")).foreach(_ => ())
    assert(graft.operators.Knn.indexBuilds.get == 1L,
      "newly-observed arrivals past the threshold must compact")
    assert(st.primedTombs == 0L,
      "the compaction consumed the inherited set")
  }

  test("s44 reconciliation door: full replay equals batch dq8; the fold is algebraic; the low-water mark gates pending buckets, convictions are final") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_primary"),
        r.getAs[Long]("n_replica"), r.getAs[Long]("n_missing"),
        r.getAs[Long]("n_extra"), r.getAs[Long]("n_corrupt"))).toSeq
    // twin contract: the whole replica stream replayed == batch dq8
    val streamed = rows(graft.streaming.EventStreams.s44(spark, sf)).sorted
    val batch = rows(graft.operators.Quality.dq8(spark, sf)).sorted
    assert(streamed == batch && streamed.nonEmpty)
    // two-batch drive on the factored kernel, split BY BUCKET PARITY
    // so batch 1 delivers every store row of the even buckets and
    // none of the odd ones: even buckets reach the low-water mark
    // immediately, odd buckets sit below it
    val st = graft.streaming.EventStreams.replicaDiffState(spark, sf)
    val replica = graft.operators.Quality.dq8Replica(
        graft.Tables.orders(spark, sf).selectExpr("o_orderkey",
          "o_custkey", "o_orderstatus", "o_orderpriority"))
      .as[(Long, Long, String, String)].collect().sortBy(_._1).toSeq
    val nb = graft.operators.Quality.dq8Buckets
    val (b1, b2) = replica.partition(t => (t._1 % nb) % 2 == 0)
    def serve(b: Seq[(Long, Long, String, String)]) = rows(
      graft.streaming.EventStreams.replicaDiffServe(st,
        b.toDF("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority")))
    val mid = serve(b1)
    // mid-stream, the mark arbitrates EXPLICITLY: a divergent bucket
    // at the mark (all its store rows arrived — the even buckets,
    // plus any bucket the store holds NO rows for, whose fold
    // trivially equals the mark) convicts with its FINAL class
    // counts; a divergent bucket below the mark (odd, rows in
    // flight) must not convict at all
    val storeBuckets = replica.map(t => t._1 % nb).toSet
    val expectedMid = batch.filter(t =>
      t._1 % 2 == 0 || !storeBuckets.contains(t._1)).toSet
    assert(mid.toSet == expectedMid,
      "mid-stream convictions must be exactly the at-the-mark divergent buckets, with final counts")
    assert(mid.nonEmpty && mid.size < batch.size,
      "the fixture must exercise both the convicted and the pending arm")
    val fin = serve(b2)
    assert(fin.sorted == batch,
      "two-batch digest fold != single replay (algebra broken)")
    assert(fin.forall(t => t._4 + t._5 + t._6 > 0L),
      "a clean bucket stayed flagged after the fold caught up")
  }

  test("s45 repair door: full replay equals batch dq9; mid-stream corrections are the at-the-mark buckets' finals and the residual dial counts the pending divergent buckets") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("k"),
        r.getAs[String]("action"), r.getAs[Long]("residual_buckets"))).toSeq
    // twin contract: the whole replica stream replayed == batch dq9
    val streamed = rows(graft.streaming.EventStreams.s45(spark, sf)).sorted
    val batch = rows(graft.operators.Quality.dq9(spark, sf)).sorted
    assert(streamed == batch && streamed.nonEmpty)
    assert(batch.forall(_._4 == 0L))
    // two-batch drive, split by bucket parity (the s44 split): even
    // buckets reach the mark in batch 1, odd ones stay pending
    val st = graft.streaming.EventStreams.replicaDiffState(spark, sf)
    val replica = graft.operators.Quality.dq8Replica(
        graft.Tables.orders(spark, sf).selectExpr("o_orderkey",
          "o_custkey", "o_orderstatus", "o_orderpriority"))
      .as[(Long, Long, String, String)].collect().sortBy(_._1).toSeq
    val nb = graft.operators.Quality.dq8Buckets
    val (b1, b2) = replica.partition(t => (t._1 % nb) % 2 == 0)
    def serve(b: Seq[(Long, Long, String, String)]) = rows(
      graft.streaming.EventStreams.replicaRepairServe(st,
        b.toDF("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority")))
    val mid = serve(b1)
    // mid-stream corrections = the final corrections of exactly the
    // at-the-mark buckets (even, or holding no store rows at all)
    val storeBuckets = replica.map(t => t._1 % nb).toSet
    val expCorr = batch.filter(t =>
      t._1 % 2 == 0 || !storeBuckets.contains(t._1))
      .map(t => (t._1, t._2, t._3)).toSet
    assert(mid.map(t => (t._1, t._2, t._3)).toSet == expCorr,
      "mid-stream corrections must be the at-the-mark buckets' finals")
    // the residual dial counts the divergent buckets NOT yet
    // convicted — the pending half — and every row carries it
    val allBad = batch.map(_._1).toSet
    val expResidual = (allBad -- expCorr.map(_._1)).size.toLong
    assert(mid.nonEmpty && mid.forall(_._4 == expResidual) &&
      expResidual > 0L,
      s"mid residual must read $expResidual pending divergent buckets")
    // the fold catches up: corrections complete, the dial hits 0
    val fin = serve(b2)
    assert(fin.sorted == batch,
      "post-catch-up repair != batch dq9 (algebra or arbitration broken)")
  }

  test("s46 write-back door: full replay equals batch dq10; a healed bucket is never re-convicted; each batch publishes once and the store ends fully healed") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("k"),
        r.getAs[String]("action"), r.getAs[Long]("residual_buckets"),
        r.getAs[Long]("rerun_corrections"))).toSeq
    // twin contract: the whole replica stream replayed == batch dq10
    val streamed = rows(graft.streaming.EventStreams.s46(spark, sf)).sorted
    val batch = rows(graft.operators.Quality.dq10(spark, sf)).sorted
    assert(streamed == batch && streamed.nonEmpty)
    assert(batch.forall(t => t._4 == 0L && t._5 == 0L))
    // two-batch drive, split by bucket parity (the s44/s45 split)
    val st = graft.streaming.EventStreams.replicaRepairWbState(spark, sf)
    val root = st.replicaStore
    val replica = graft.operators.Quality.dq8Replica(
        graft.Tables.orders(spark, sf).selectExpr("o_orderkey",
          "o_custkey", "o_orderstatus", "o_orderpriority"))
      .as[(Long, Long, String, String)].collect().sortBy(_._1).toSeq
    val nb = graft.operators.Quality.dq8Buckets
    val (b1, b2) = replica.partition(t => (t._1 % nb) % 2 == 0)
    def serve(b: Seq[(Long, Long, String, String)]) = rows(
      graft.streaming.EventStreams.replicaRepairWbServe(st,
        b.toDF("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority")))
    val mid = serve(b1)
    // batch 1 convicts + HEALS the at-the-mark buckets: v2 published
    val storeBuckets = replica.map(t => t._1 % nb).toSet
    val corrOf = (t: (Long, Long, String, Long, Long)) => (t._1, t._2, t._3)
    val expMid = batch.filter(t =>
      t._1 % 2 == 0 || !storeBuckets.contains(t._1)).map(corrOf).toSet
    assert(mid.map(corrOf).toSet == expMid,
      "batch-1 corrections must be the at-the-mark buckets' finals")
    assert(graft.operators.Quality.latestStoreVersion(root).contains(2),
      "batch 1 must publish exactly one version")
    // mid-stream dials: the still-divergent (pending odd) buckets
    // and their key-grain corrections — read from the healed store
    val pendBad = (batch.map(_._1).toSet -- expMid.map(_._1)).size.toLong
    val pendCorr = batch.map(corrOf).toSet -- expMid
    assert(mid.forall(t => t._4 == pendBad && t._5 == pendCorr.size.toLong)
      && pendBad > 0L, "mid dials must count the pending divergence")
    // batch 2: the healed buckets are NEVER re-convicted — batch-2
    // corrections are exactly the remaining (odd) buckets'
    val fin = serve(b2)
    assert(fin.map(corrOf).toSet == pendCorr,
      "a healed bucket re-convicted (or a pending one was missed)")
    assert(fin.map(_._1).toSet.intersect(expMid.map(_._1)) == Set.empty)
    assert(fin.forall(t => t._4 == 0L && t._5 == 0L),
      "after catch-up both persisted-state proofs must read 0")
    assert(graft.operators.Quality.latestStoreVersion(root).contains(3))
    // the store on disk ends fully healed: row-identical to the primary
    val p = graft.Tables.orders(spark, sf).selectExpr("o_orderkey",
      "o_custkey", "o_orderstatus", "o_orderpriority")
    val healed = graft.operators.Quality.readReplicaStore(spark, root)
      .drop("pg").collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(healed == p.collect().map(_.toSeq).sortBy(_.toString).toSeq)
    // a third, empty batch convicts nothing and publishes nothing
    val post = serve(Seq.empty)
    assert(post.isEmpty &&
      graft.operators.Quality.latestStoreVersion(root).contains(3))
  }

  test("s41 shard-audit door: full replay equals batch m24; collisions surface only once both shards arrive") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("skey"),
        r.getAs[Long]("n_members"), r.getAs[Boolean]("has_txt"),
        r.getAs[Boolean]("has_cls"), r.getAs[Boolean]("complete"),
        r.getAs[Long]("n_shards"), r.getAs[Boolean]("cross_shard"))).toSeq
    // twin contract: the whole shard stream replayed (one batch)
    // == batch m24, bitwise
    val streamed = rows(graft.streaming.EventStreams.s41(spark, sf)).sorted
    val batch = rows(graft.operators.Media.m24(spark, sf)).sorted
    assert(streamed == batch && streamed.nonEmpty)
    // multi-batch on the factored kernel: split so the colliding
    // 'dup' shards straddle the boundary — the collision must NOT
    // be visible mid-stream (only one has arrived) and MUST be
    // visible after the second lands; replay is a no-op
    val st = graft.streaming.EventStreams.shardAuditState(spark)
    val shards = graft.Tables.documents(spark, sf)
      .filter("doc_id % 3 = 0")
      .selectExpr("doc_id", "rpad(substring(text, 1, 61), 61, ' ') AS s")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val dupIds = shards.map(_._1).filter(_ % 11 == 0)
    assert(dupIds.size >= 2, "fixture needs >= 2 colliding shards")
    // batch 1 = everything up to and including the FIRST dup shard
    val (b1, b2) = shards.partition(_._1 <= dupIds.head)
    def serve(b: Seq[(Long, String)]) = rows(
      graft.streaming.EventStreams.shardAuditServe(st, b.toDF("doc_id", "s")))
    val mid = serve(b1)
    assert(graft.streaming.EventStreams.annCompactEvery > 1,
      "spec assumes the first batch is uncompacted")
    assert(st.lastDeltaRows > 0 && st.lastDeltaRows <= 4L * b1.size,
      "delta must be arriving-shard-sized")
    val midDup = mid.filter(_._2 == "dup")
    assert(midDup.size == 1 && midDup.head._7 == 1L && !midDup.head._8,
      "collision must not fire with one dup shard arrived")
    val fin = serve(b2)
    assert(fin.sorted == batch, "two-batch ingest != single replay")
    assert(fin.filter(_._2 == "dup").forall(t => t._7 == dupIds.size.toLong && t._8))
    // replaying already-audited shards is a no-op (at-least-once feed)
    val replayed = serve(b1)
    assert(replayed.sorted == batch && st.lastDeltaRows == 0L)
  }

  test("s42 stateless strip door equals batch m25 and is batch-split invariant") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("had_gps"),
        r.getAs[Boolean]("had_dt"), r.getAs[Boolean]("had_maker"),
        r.getAs[Boolean]("had_serial"),
        r.getAs[Long]("orig_len"), r.getAs[Long]("stripped_len"),
        r.getAs[Boolean]("still_ok"), r.getAs[Boolean]("gps_after"),
        r.getAs[Boolean]("time_after"), r.getAs[Boolean]("device_after"),
        r.getAs[Int]("orientation"), r.getAs[Long]("iso"),
        r.getAs[Boolean]("thumb_kept"))).toSeq
    val streamed = rows(graft.streaming.EventStreams.s42(spark, sf))
      .sortBy(_._1)
    val batch = rows(graft.operators.Media.m25(spark, sf)).sortBy(_._1)
    assert(streamed == batch && streamed.nonEmpty)
    // stateless ⇒ any batch split concatenates to the same rows
    val docs = graft.Tables.documents(spark, sf)
      .filter("doc_id % 3 = 1")
      .selectExpr("doc_id", "rpad(substring(text, 1, 61), 61, ' ') AS s")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val (b1, b2) = docs.splitAt(docs.size / 3)
    val split = (rows(graft.streaming.EventStreams.stripServe(
        b1.toDF("doc_id", "s"))) ++
      rows(graft.streaming.EventStreams.stripServe(
        b2.toDF("doc_id", "s")))).sortBy(_._1)
    assert(split == batch, "batch split changed the stateless door's rows")
  }

  test("s36 stateless winnowing door equals batch d23 row for row") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_shared"))).toSeq
    val streamed = rows(graft.streaming.EventStreams.s36(spark, sf))
    val batch = rows(graft.operators.Dedup.d23(spark, sf))
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("s36 door is batch-split invariant and the guarantee bites at the door") {
    import spark.implicits._
    // the partitioned index — a DataFrame, never collected (the
    // driver-side state bound the door claims)
    val index = graft.operators.Dedup.d23Fps(spark, sf)
      .select(col("doc_id").as("id_a"), col("fp")).persist()
    val docs = graft.Tables.documents(spark, sf)
      .selectExpr("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf ++= graft.streaming.EventStreams.winnowServe(index, b).collect()
          .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
            r.getAs[Long]("n_shared")))
        ()
      }.start()
    try {
      val third = docs.length / 3
      mem.addData(docs.take(third).toSeq); q.processAllAvailable()
      mem.addData(docs.slice(third, 2 * third).toSeq); q.processAllAvailable()
      mem.addData(docs.drop(2 * third).toSeq); q.processAllAvailable()
    } finally q.stop()
    val got = buf.toSeq.sorted
    val batch = graft.operators.Dedup.d23(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_shared"))).toSeq.sorted
    assert(got == batch && got.nonEmpty)
    // the w+k-1 guarantee at the door: a doc sharing a >=19-char run
    // with an indexed doc MUST surface (append a doc that copies a
    // 40-char span of doc 0 and check it pairs with it)
    val src = docs.head
    val span = src._2.take(40)
    val probe = (999999L, span + " entirely novel tail text to pad this out")
    val hits = graft.streaming.EventStreams.winnowServe(index,
      Seq(probe).toDF("doc_id", "text")).collect()
    index.unpersist()
    assert(hits.exists(r => r.getAs[Long]("id_a") == src._1),
      s"guaranteed detection missed: ${hits.mkString(",")}")
  }

  test("s37 streaming MAD door equals batch dq6 row for row") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("n_events"),
        r.getAs[Long]("m"), r.getAs[Long]("med2"), r.getAs[Long]("dev2"),
        r.getAs[Long]("mad4"), r.getAs[Long]("is_outlier"))).toSeq
    val streamed = rows(graft.streaming.EventStreams.s37(spark, sf))
    val batch = rows(graft.operators.Quality.dq6(spark, sf))
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.exists(_._7 == 1L) && streamed.exists(_._7 == 0L))
  }

  test("s37 day counts accumulate correctly across MemoryStream batches") {
    import spark.implicits._
    val (med2, mad4) = graft.operators.Quality.dq6Trained(spark, sf)
    val days = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts) div 86400000000 AS day")
      .as[Long].collect().sorted
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val agg = mem.toDF().toDF("day")
      .groupBy(col("day")).agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream.format("memory").queryName("s37_mem")
      .outputMode("complete").start()
    try {
      // split mid-day so one day's count accumulates across batches
      val third = days.length / 3 + 7
      mem.addData(days.take(third).toSeq); q.processAllAvailable()
      mem.addData(days.slice(third, 2 * third).toSeq); q.processAllAvailable()
      mem.addData(days.drop(2 * third).toSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("s37_mem")
      .selectExpr("day", "n_events",
        "CASE WHEN day % 11 = 3 THEN n_events * 4 ELSE n_events END AS m")
      .selectExpr("day", "n_events",
        s"CAST(CASE WHEN 2 * abs(2 * m - $med2) > 3 * $mad4 THEN 1 ELSE 0 END AS BIGINT) AS is_outlier")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    val batch = graft.operators.Quality.dq6(spark, sf).collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("n_events"),
        r.getAs[Long]("is_outlier"))).toSeq.sortBy(_._1)
    assert(got == batch && got.nonEmpty)
  }

  test("s31 stateless code door equals batch t32 row for row") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_sym"),
        r.getAs[Long]("n_kw"), r.getAs[String]("route"))).toSeq
    val streamed = rows(graft.streaming.EventStreams.s31(spark, sf))
    val batch = rows(graft.operators.TextStats.t32(spark, sf))
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.exists(_._4 == "code") && streamed.exists(_._4 == "prose"))
  }
}
