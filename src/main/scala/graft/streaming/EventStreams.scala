package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.Stable

/** Structured Streaming counterparts of the batch event analytics
  * (SURVEY.md §2 s1/s2): the same transformations declared over
  * `readStream`, so the identical code path serves both a backfill
  * (batch) and a live feed — watermarks bound state, and the
  * stateful sessionizer carries per-user session state across
  * micro-batches via flatMapGroupsWithState.
  *
  * For the driver contract the streaming queries run against the
  * testdata parquet with a memory sink and `processAllAvailable`
  * (single micro-batch => results equal the batch oracle); the specs
  * additionally drive multi-batch execution through MemoryStream.
  */
object EventStreams {

  /** Child session for the streaming queries with a bounded state
    * partition count. `spark.sql.shuffle.partitions` fixes the number
    * of state-store partitions at first run, and every stateful op
    * pays a fixed per-partition commit cost per micro-batch (delta
    * file + snapshot maintenance; a stream-stream join keeps FOUR
    * stores per partition). The testdata volume never needs 32 state
    * partitions — 8 cuts that fixed I/O 4x. At cluster scale raise
    * `graft.streaming.statePartitions` to match the key cardinality /
    * executor count; it only bounds state commits, not source reads.
    */
  private def streamSession(spark: SparkSession): SparkSession =
    graft.ChildSessions.of(spark, "streaming") { ns =>
      val parts = spark.conf.getOption("graft.streaming.statePartitions")
        .orElse(sys.env.get("SPARK_GRAFT_STATE_PARTS")).getOrElse("8")
      ns.conf.set("spark.sql.shuffle.partitions", parts)
      // the HDFS-backed provider stays the default here: measured 3.0s
      // vs 5.6s (RocksDB) for the single-batch interval join — RocksDB
      // pays per-batch snapshot/changelog costs that only amortize on
      // long-running queries with large state.
      // skip the trailing no-data micro-batch: it exists only to
      // advance the watermark/evict state, but commits EVERY state
      // store partition again (4 stores x parts for the interval
      // join) — all contract queries emit their rows in the data
      // batch, so the extra commit round buys nothing here
      ns.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    }

  /** events.ts has shipped as TIMESTAMP(NANOS) (BIGINT nanos under
    * the legacy conf) and as micros (TimestampType once NTZ inference
    * is off — [[graft.Tables.tsConfs]]' rationale). The streaming
    * readers take the file schema verbatim, so both layouts reach
    * them; normalize to a session-zone TimestampType `ts`.
    */
  private def tsToTimestamp(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case _ => df
  }

  /** SQL fragment producing epoch-micros of `ts` under either layout. */
  private def tusSql(schema: org.apache.spark.sql.types.StructType): String =
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => "ts div 1000"
      case _ => "unix_micros(ts)"
    }

  private def streamingEvents(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    graft.Tables.tsConfs(spark)
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // the streaming file source needs a directory; select the single
    // table file out of the sf dir with a glob filter
    tsToTimestamp(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  private def runToTable(spark: SparkSession, df: DataFrame, mode: OutputMode): DataFrame = {
    val name = "graft_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    // the memory sink's temp view is session-scoped: read it from the
    // session that ran the query (the streaming child session)
    df.sparkSession.table(name)
  }

  /** s1: watermarked tumbling-window aggregate (complete mode). */
  def s1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val agg = streamingEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        Stable.dsum($"value", 2).as("sum_value"),
        min($"value").as("min_value"),
        max($"value").as("max_value"))
    runToTable(spark, agg, OutputMode.Complete())
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"), col("min_value"), col("max_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** s1 oracle: identical to the batch tumbling window. */
  val s1Sql: String = graft.operators.EventWindows.tumblingSql

  // ---------- s2: stateful gap sessionization ----------

  case class Ev(user_id: Long, tus: Long)
  case class SessState(lastTus: Long, nSessions: Long, nEvents: Long)
  case class SessOut(user_id: Long, n_sessions: Long, n_events: Long)

  private val gapUs = 1800L * 1000000L

  /** Merge a micro-batch of events into per-user session state and
    * emit the updated running totals.
    */
  def sessionStep(uid: Long, events: Iterator[Ev],
      state: GroupState[SessState]): Iterator[SessOut] = {
    val sorted = events.map(_.tus).toArray.sorted
    if (sorted.isEmpty) Iterator.empty
    else {
      var s = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
      sorted.foreach { t =>
        val newSession = s.lastTus == Long.MinValue || t - s.lastTus > gapUs
        s = SessState(t, s.nSessions + (if (newSession) 1 else 0), s.nEvents + 1)
      }
      state.update(s)
      Iterator.single(SessOut(uid, s.nSessions, s.nEvents))
    }
  }

  def sessionize(events: Dataset[Ev]): Dataset[SessOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(sessionStep)
  }

  /** s2: one micro-batch over the testdata => equals the batch oracle. */
  def s2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = streamingEvents(spark, dir)
      .select($"user_id", unix_micros($"ts").as("tus")).as[Ev]
    runToTable(spark, sessionize(src).toDF(), OutputMode.Append())
      .orderBy($"user_id")
  }

  val s2Sql: String = graft.operators.EventWindows.sessionizeSql

  /** s3: streaming deduplication — `dropDuplicatesWithinWatermark`
    * on (user_id, event_type); the streaming half of the dedup
    * family (SURVEY §2). Single micro-batch over the testdata =>
    * one row per distinct pair, earliest-in-batch retained; the
    * aggregate projection makes the result batch-comparable.
    */
  def s3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val deduped = streamingEvents(spark, dir)
      .select($"user_id", $"event_type", $"ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    runToTable(spark, deduped, OutputMode.Append())
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_types"))
      .orderBy($"user_id")
  }

  val s3Sql: String =
    """SELECT user_id, count(DISTINCT event_type) AS n_types
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** s4: stream-stream interval self-join — pairs of events of the
    * same user within (0, 5 min], the streaming twin of the batch
    * range join (q12, identical oracle). Both sides watermarked so
    * the join state is bounded; pair counting happens batch-side on
    * the appended matches.
    */
  def s4(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val a = streamingEvents(spark, dir)
      .select($"user_id".as("ua"), $"ts".as("ta"))
      .withWatermark("ta", "10 minutes")
    val b = streamingEvents(spark, dir)
      .select($"user_id".as("ub"), $"ts".as("tb"))
      .withWatermark("tb", "10 minutes")
    val joined = a.join(b,
      $"ua" === $"ub" && $"tb" > $"ta" &&
        $"tb" <= $"ta" + expr("INTERVAL 5 MINUTES"))
    runToTable(spark, joined, OutputMode.Append())
      .groupBy(col("ua").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("user_id"))
  }

  val s4Sql: String = graft.operators.AsOf.rangeSql

  // ---------- s5: stateful streaming anomaly detection ----------

  case class ValEv(user_id: Long, event_id: Long, c: Long)
  case class StatState(n: Long, sc: Long, sc2: Long)
  case class AnomOut(user_id: Long, event_id: Long, z: Double)

  /** Per-user running moment state (integerized sums — exact, order
    * free); each batch flags events >2σ from the stats accumulated so
    * far INCLUDING the current batch. With everything in one batch
    * this equals the batch z-score (e6's oracle); across batches the
    * semantics are "anomalous vs history to date" — the live-scoring
    * behavior a fraud/quality monitor actually wants.
    */
  def anomalyStep(uid: Long, events: Iterator[ValEv],
      state: GroupState[StatState]): Iterator[AnomOut] = {
    val batch = events.toArray
    if (batch.isEmpty) Iterator.empty
    else {
      val prev = state.getOption.getOrElse(StatState(0L, 0L, 0L))
      val n = prev.n + batch.length
      val sc = prev.sc + batch.map(_.c).sum
      val sc2 = prev.sc2 + batch.map(e => e.c * e.c).sum
      state.update(StatState(n, sc, sc2))
      val mean = (sc.toDouble / n) / 1e2
      val m2 = (sc2.toDouble / n) / 1e4
      val variance = m2 - mean * mean
      if (variance <= 0) Iterator.empty
      else batch.iterator.flatMap { e =>
        val z = ((e.c / 1e2) - mean) / math.sqrt(variance)
        if (math.abs(z) > 2.0)
          Iterator.single(AnomOut(uid, e.event_id, math.floor(z * 1e6 + 0.5) / 1e6))
        else Iterator.empty
      }
    }
  }

  def anomalies(events: Dataset[ValEv]): Dataset[AnomOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(anomalyStep)
  }

  /** s5: one micro-batch over the testdata => equals the batch e6. */
  def s5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = streamingEvents(spark, dir)
      .selectExpr("user_id", "event_id",
        "CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS c").as[ValEv]
    runToTable(spark, anomalies(src).toDF(), OutputMode.Append())
      .orderBy($"user_id", $"event_id")
  }

  val s5Sql: String = graft.operators.EventWindows.anomalySql

  // ---------- s6: transformWithState (Spark 4 arbitrary-state API) ----------

  case class RecEv(user_id: Long, event_id: Long, tus: Long, value: Double)
  case class RecOut(user_id: Long, event_id: Long, value: Double)

  /** Per-user running-maximum state on the modern `StatefulProcessor`
    * surface (typed ValueState + TTL + timers), the successor of
    * flatMapGroupsWithState: emit exactly the events that set a new
    * personal record. State is one double per user — O(users), and
    * TTLConfig can bound even that on an unbounded key space.
    */
  class RecordProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, RecEv, RecOut] {
    @transient private var mx: org.apache.spark.sql.streaming.ValueState[Double] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      mx = getHandle.getValueState[Double]("mx",
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[RecEv],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[RecOut] = {
      // group iterators carry no ordering guarantee: establish event
      // time order before the stateful scan
      val sorted = rows.toArray.sortBy(e => (e.tus, e.event_id))
      var cur = if (mx.exists()) mx.get() else Double.NegativeInfinity
      val out = sorted.flatMap { e =>
        if (e.value > cur) { cur = e.value; Some(RecOut(key, e.event_id, e.value)) }
        else None
      }
      mx.update(cur)
      out.iterator
    }
  }

  def records(events: Dataset[RecEv]): Dataset[RecOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RecordProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  case class EwmaSt(n: Long, s: Double)
  case class EwmaOut(user_id: Long, n_events: Long, ewma: Double)

  /** Per-user incremental EWMA: the streaming shape of e8's recursive
    * scan. State is ONE (count, accumulator) pair per user — O(1)
    * regardless of history length, which removes e8's "full per-key
    * history in one task" caveat for unbounded streams: each batch
    * folds only its own rows (time-ordered within the batch) on top
    * of the carried accumulator, so a hot key never materializes its
    * past. Emits the running EWMA after each batch; the accumulator
    * stays unquantized (quantization is emit-only, exactly like e8),
    * so a single batch reproduces e8's oracle bitwise and multi-batch
    * replay is the identical sequential recursion in pieces.
    */
  class EwmaProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, RecEv, EwmaOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[EwmaSt] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[EwmaSt]("ewma",
        org.apache.spark.sql.Encoders.product[EwmaSt],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[RecEv],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[EwmaOut] = {
      val sorted = rows.toArray.sortBy(e => (e.tus, e.event_id))
      var (n, s) = if (st.exists()) { val v = st.get(); (v.n, v.s) } else (0L, 0.0)
      sorted.foreach { e =>
        s = if (n == 0) e.value else 0.1 * e.value + 0.9 * s
        n += 1
      }
      st.update(EwmaSt(n, s))
      Iterator.single(EwmaOut(key, n, math.floor(s * 1e6 + 0.5) / 1e6))
    }
  }

  def ewmaStream(events: Dataset[RecEv]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new EwmaProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** s9: stream-static enrichment join — the live-feed version of the
    * dimension lookup every event pipeline needs: the stream joins a
    * BATCH dimension table (re-read each micro-batch, so dimension
    * updates flow in without restarting the query) and aggregates on
    * the enriched key. The static side broadcasts — a stream-static
    * join never keeps join state, unlike stream-stream s4. Same
    * session discipline as every streaming query (the dim must live
    * on the streaming child session to join its stream).
    */
  /** s11: t15's mixture resampling on the streaming surface — the
    * SAME `TextStats.mixtureOf` function over `readStream` (stateless
    * narrow maps + bounded explode need no state store, no watermark):
    * the batch/stream code-sharing the stateless half of a pipeline
    * gets for free. Same oracle as t15.
    */
  def s11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ss = streamSession(spark)
    val schema = ss.read.parquet(s"$dir/documents.parquet").schema
    val src = ss.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    runToTable(ss, graft.operators.TextStats.mixtureOf(src), OutputMode.Append())
      .orderBy($"doc_id", $"rep")
  }

  def s9(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ss = streamSession(spark)
    val dim = graft.Tables.nation(ss, dir)
      .selectExpr("n_nationkey AS k", "n_name")
    val enriched = streamingEvents(spark, dir)
      .selectExpr("user_id % 25 AS k", "value")
      .join(broadcast(dim), Seq("k"))
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n"), Stable.dsum($"value", 2).as("sum_value"))
    runToTable(spark, enriched, OutputMode.Complete())
      .orderBy(col("n_name"))
  }

  val s9Sql: String =
    s"""SELECT n_name, count(*) AS n,
      |  ${graft.functions.Stable.sumSql("value", 2)} AS sum_value
      |FROM events JOIN nation ON user_id % 25 = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** s21: CONSENT ENFORCEMENT AT THE INGEST DOOR — p9's streaming
    * twin: p9 is the retroactive purge over the stored corpus; s21
    * is the gate that keeps a revoked user's events from entering it
    * in the first place (the two sides every erasure workflow needs).
    * The registry (p9's derivation, read batch-side) broadcasts into
    * a stream-static LEFT join; the per-type audit (n_total,
    * n_admitted) aggregates in complete mode over the type-bounded
    * key space — no watermark, no per-user state: the gate itself is
    * STATELESS, so it scales as a narrow map however many users
    * revoke.
    */
  def s21(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ss = streamSession(spark)
    // ONE registry definition shared with the batch purge (p9) — the
    // two erasure sides cannot drift
    val optout = graft.operators.Corpus.optoutRegistry(graft.Tables.events(ss, dir))
    val gated = streamingEvents(spark, dir)
      .join(broadcast(optout), Seq("user_id"), "left_outer")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_total"),
        sum(when($"revoked".isNull, 1L).otherwise(0L)).as("n_admitted"))
    runToTable(spark, gated, OutputMode.Complete())
      .orderBy(col("event_type"))
  }

  /** s21 oracle: the batch gate (p9's registry, admitted = NOT IN). */
  val s21Sql: String =
    s"""WITH optout AS (
      |${graft.operators.Corpus.optoutRegistrySql})
      |SELECT event_type, count(*) AS n_total,
      |  CAST(sum(CASE WHEN user_id IN (SELECT user_id FROM optout)
      |           THEN 0 ELSE 1 END) AS BIGINT) AS n_admitted
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  private val s22Width = 2L
  private val s22Quantiles = Seq(500, 900, 990)

  /** s22: STREAMING quantile monitoring — [[graft.functions.HistQ]]'s
    * histogram run as a stateful streaming aggregate over event
    * values, the rank member of the mergeable-sketch streaming
    * family (s18 HLL / s19 CMS / s20 bottom-k): state = ≤ 256 count
    * cells, bounded FOREVER (no watermark — counts only grow), each
    * micro-batch folds in map-side, cells merge by sum; the
    * quantile location runs over the final 256-row table through
    * the SAME locate() as the batch query, so q34's rank-guarantee
    * contract holds on the stream verbatim. The always-on latency/
    * value-percentile monitor an exact streaming sort could never
    * be.
    */
  def s22(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    val hist = runToTable(ss,
      graft.functions.HistQ.histogram(streamingEvents(spark, dir), "value", s22Width),
      OutputMode.Complete())
    graft.functions.HistQ.locate(hist, s22Width, s22Quantiles)
  }

  /** s22 oracle: the batch sketch over the same stream (order-free —
    * cell sums), from the shared SQL generator.
    */
  val s22Sql: String =
    graft.functions.HistQ.oracleSql("events", "value", s22Width, s22Quantiles)

  case class ConvEv(user_id: Long, event_type: String, tus: Long)
  case class ConvSt(first_view: Long, conv: Long) // -1 = unset
  case class ConvOut(user_id: Long, first_view_us: Long, conv_us: Long, lag_us: Long)

  /** e13's per-user conversion state machine: `first_view` tracks
    * the MINIMUM view time seen so far (not the first arrival —
    * min-tracking makes every pre-conversion out-of-order view
    * harmless, so the result matches batch e13 even when a later
    * micro-batch delivers an earlier view); the first at-or-after
    * purchase completes the conversion and emits the user's ONE
    * output row. In-batch rows sort by (tus, views-before-purchases)
    * so an equal-microsecond view+purchase pair resolves exactly
    * like the batch `>=`. The one remaining ordering contract is the
    * conversion boundary itself: once the append-mode row is
    * emitted it cannot be recalled, so a view arriving AFTER the
    * conversion with an earlier timestamp can no longer change the
    * emitted lag (the state machine ignores it by construction —
    * conv >= 0 freezes the state). State is TWO longs per user,
    * forever — O(1), no watermark.
    */
  class ConvProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, ConvEv, ConvOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[ConvSt] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[ConvSt]("conv",
        org.apache.spark.sql.Encoders.product[ConvSt],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[ConvEv],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[ConvOut] = {
      val sorted = rows.toArray
        .sortBy(e => (e.tus, if (e.event_type == "view") 0 else 1))
      var s = if (st.exists()) st.get() else ConvSt(-1L, -1L)
      val out = scala.collection.mutable.ArrayBuffer.empty[ConvOut]
      sorted.foreach { e =>
        if (s.conv < 0) {
          if (e.event_type == "view" &&
            (s.first_view < 0 || e.tus < s.first_view))
            s = s.copy(first_view = e.tus)
          else if (e.event_type == "purchase" && s.first_view >= 0 &&
            e.tus >= s.first_view) {
            s = s.copy(conv = e.tus)
            out += ConvOut(key, s.first_view, e.tus, e.tus - s.first_view)
          }
        }
      }
      st.update(s)
      out.iterator
    }
  }

  /** s23: REAL-TIME CONVERSION TRACKING — e13's streaming twin on
    * `transformWithState`: the batch query reports every user's
    * view→purchase latency nightly; s23 emits each user's row the
    * micro-batch their first qualifying purchase ARRIVES (the
    * marketing/alerting surface of the same metric). The purchase-
    * and-view prefilter is the stateless door; per-user state is two
    * longs with unbounded lifetime and no watermark; output is
    * append-only, exactly one row per converting user. Oracle: the
    * batch e13 SQL verbatim (single-batch contract run == batch).
    */
  def s23(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rs = rocksSession(spark)
    graft.Tables.tsConfs(rs)
    val schema = rs.read.parquet(s"$dir/events.parquet").schema
    val src = rs.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .filter(col("event_type").isin("view", "purchase"))
      .selectExpr("user_id", "event_type", s"${tusSql(schema)} AS tus").as[ConvEv]
    runToTable(rs, convStream(src).toDF(), OutputMode.Append())
      .orderBy(col("user_id"))
  }

  def convStream(src: Dataset[ConvEv]): Dataset[ConvOut] = {
    import src.sparkSession.implicits._
    src.groupByKey(_.user_id)
      .transformWithState(new ConvProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  // ---------- s24: streaming crawl-frontier URL dedup ----------

  /** s24: URL dedup AS A STREAM — a crawl frontier IS a stream in
    * production (discovered links arrive continuously; the frontier
    * asks "have I seen this canonical URL, and who saw it first"),
    * so d16 gets the full batch/stream twin treatment: the SAME
    * synthesis + canonicalization expressions
    * ([[graft.operators.Dedup.d16UrlExpr]]/[[graft.operators.Dedup.d16CanonExpr]]
    * — one source of truth, the s15/s16 sharing contract) feed a
    * streaming (digest, curl) aggregate whose per-key state is the
    * algebraic (count, min survivor) pair — mergeable in any batch
    * order, so the stream converges to the batch answer regardless
    * of how the feed is chopped. The oracle is d16's VERBATIM.
    *
    * State is one row per canonical URL — the frontier dedup table
    * itself, exactly what a crawler persists; digest-led grouping
    * keeps the exchange keyed on 8 bytes with the collision-proof
    * (k, curl) grain (d16's round-9 fix inherited by construction).
    * The contract run reads the final table in Complete mode
    * (memory sink); a production frontier emits Update-mode upserts
    * into an idempotent store (s14's ForecastStore pattern) — the
    * aggregation state and semantics are identical either way.
    */
  /** The frontier aggregate over a (doc_id, source, …) document feed
    * — shared by [[s24]] and its multi-batch spec (which stages the
    * same feed as two files to prove the cross-batch merge).
    */
  private[graft] def s24Agg(docs: DataFrame): DataFrame =
    docs
      .selectExpr("doc_id", graft.operators.Dedup.d16UrlExpr)
      .selectExpr("doc_id", graft.operators.Dedup.d16CanonExpr)
      .withColumn("k", graft.functions.Fnv64.fnv64(col("curl")))
      .groupBy(col("k"), col("curl"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("survivor_id"))

  def s24(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val schema = ss.read.parquet(s"$dir/documents.parquet").schema
    val agg = s24Agg(ss.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir))
    runToTable(ss, agg, OutputMode.Complete())
      .select(col("curl").as("canonical_url"), col("n_dups"), col("survivor_id"))
      .orderBy(col("canonical_url"))
  }

  /** s24 oracle: d16's, verbatim — the twin contract. */
  val s24Sql: String = graft.operators.Dedup.d16Sql

  /** s25: STREAMING BOILERPLATE DOOR — d19's template stripping at
    * the ingest boundary, the train-offline/serve-online pattern
    * (s16 DSIR / s17 Gopher / s21 opt-out's sibling): the template
    * table is TRAINED in batch on yesterday's corpus
    * ([[graft.operators.Dedup.d19Boiler]] — site chrome is
    * O(10) lines/source, source-count bounded), and the stream
    * applies it as a STREAM-STATIC left join (stateless — no
    * streaming state grows with it) after d19's narrow line map,
    * with the doc reassembly as the one Complete-mode aggregate.
    * Batch/stream share the splitter, the trainer and the strip
    * verbatim, so the twin contract is d19's oracle unchanged.
    */
  def s25(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    import ss.implicits._
    // offline half: train the template table on the stored corpus
    val batchDocs = ss.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "source", s"${graft.operators.Dedup.d19Tpl} AS text")
    val boiler = graft.operators.Dedup
      .d19Boiler(batchDocs, graft.operators.Dedup.d19Lines(batchDocs))
    // online half: the same docs arriving as a stream hit the door
    val schema = ss.read.parquet(s"$dir/documents.parquet").schema
    val streamDocs = ss.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .selectExpr("doc_id", "source", s"${graft.operators.Dedup.d19Tpl} AS text")
    val stripped = graft.operators.Dedup
      .d19Strip(graft.operators.Dedup.d19Lines(streamDocs), boiler)
    runToTable(ss, stripped, OutputMode.Complete())
      .orderBy(col("doc_id"))
  }

  /** s25 oracle: d19's, verbatim — the twin contract. */
  val s25Sql: String = graft.operators.Dedup.d19Sql

  // ---------- s26: streaming bot door (burstiness at ingest) ----------

  case class GapEv(user_id: Long, event_id: Long, s: Long)
  case class GapSt(last_s: Long, n: Long, sg: Long, sg2: Long, done: Boolean)
  case class GapOut(user_id: Long, n_gaps: Long, sum_gap: Long, sum_gap2: Long,
      dispersion: Double, is_bot: Long)

  /** Gaps observed before the door decides, and the dispersion below
    * which a stream is flagged machine-generated (e16's metric; the
    * cut sits near this corpus' median so the door demonstrably
    * swings both ways).
    */
  private[graft] val s26Gaps = 20L
  private[graft] val s26BotBelow = 30000.0

  /** e16's per-user moment state machine: second-grain gaps from the
    * last-seen timestamp, exact BIGINT moments, ONE decision row the
    * micro-batch the [[s26Gaps]]-th gap arrives (then the key goes
    * quiet — `done` pins state growth at one row per user forever).
    * Within-batch rows sort by (s, event_id); across batches the
    * feed is event-time ordered (s23's documented contract).
    */
  class GapProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, GapEv, GapOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[GapSt] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[GapSt]("gaps",
        org.apache.spark.sql.Encoders.product[GapSt],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[GapEv],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[GapOut] = {
      val sorted = rows.toArray.sortBy(e => (e.s, e.event_id))
      var s = if (st.exists()) st.get() else GapSt(-1L, 0L, 0L, 0L, done = false)
      val out = scala.collection.mutable.ArrayBuffer.empty[GapOut]
      sorted.foreach { e =>
        if (!s.done) {
          if (s.last_s >= 0L) {
            val gap = e.s - s.last_s
            s = s.copy(last_s = e.s, n = s.n + 1, sg = s.sg + gap,
              sg2 = s.sg2 + gap * gap)
            if (s.n == s26Gaps) {
              val d = if (s.sg == 0L) 0.0
                else (s.n * s.sg2 - s.sg * s.sg).toDouble / (s.n * s.sg).toDouble
              out += GapOut(key, s.n, s.sg, s.sg2, d,
                if (d < s26BotBelow) 1L else 0L)
              s = s.copy(done = true)
            }
          } else s = s.copy(last_s = e.s)
        }
      }
      st.update(s)
      out.iterator
    }
  }

  def gapStream(src: Dataset[GapEv]): Dataset[GapOut] = {
    import src.sparkSession.implicits._
    src.groupByKey(_.user_id)
      .transformWithState(new GapProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** s26: the STREAMING BOT DOOR — e16's burstiness decided AT
    * INGEST: the micro-batch a user's [[s26Gaps]]-th inter-event gap
    * arrives, the door emits that user's dispersion and verdict ONCE
    * (append-only — the admission decision a corpus pipeline
    * gates user-generated text on, taken on the stream rather than
    * in the nightly batch). State is five scalars per user, pinned
    * by the `done` flag; output exactly one row per user with ≥
    * [[s26Gaps]] gaps. Oracle: e16's moment algebra restricted to
    * each user's first [[s26Gaps]]+1 events — the batch recompute
    * of the same decision.
    */
  def s26(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rs = rocksSession(spark)
    graft.Tables.tsConfs(rs)
    val schema = rs.read.parquet(s"$dir/events.parquet").schema
    val src = rs.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .selectExpr("user_id", "event_id", s"(${tusSql(schema)}) div 1000000 AS s")
      .as[GapEv]
    runToTable(rs, gapStream(src).toDF(), OutputMode.Append())
      .orderBy(col("user_id"))
  }

  // ---------- s27: streaming PSI drift monitor ----------

  /** s27: PSI DRIFT AS A STREAM — dq2's monitor in the always-on
    * deployment it is actually run as: the REFERENCE histogram is
    * trained on the stored snapshot in batch, the CURRENT snapshot
    * arrives as a stream, and the per-(col, bucket) counts are the
    * streaming aggregation state — ALGEBRAIC and ≤ 30 rows total
    * (the sketch-family bounded-state argument: a histogram is a
    * mergeable sketch, so the stream converges to the batch answer
    * in any batch order). Binning, histogram and the PSI term
    * algebra are [[graft.operators.Quality.dq2Binned]]/
    * [[graft.operators.Quality.dq2Report]] SHARED VERBATIM (the
    * s15/s16 contract), so the twin's oracle is dq2's unchanged.
    * The contract run reads the final count table in Complete mode;
    * a production monitor emits the 3-row report per micro-batch
    * from the same state.
    */
  def s27(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    // offline half: the reference histogram from the stored table
    val refC = graft.operators.Quality.dq2Counts(
      ss.read.parquet(s"$dir/lineitem.parquet"), "ref")
    // online half: the current snapshot arriving as a stream
    val schema = ss.read.parquet(s"$dir/lineitem.parquet").schema
    val curStream = graft.operators.Quality.dq2Binned(
        ss.readStream.schema(schema)
          .option("pathGlobFilter", "lineitem.parquet").parquet(dir), "cur")
      .groupBy(col("col_name"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val curC = runToTable(ss, curStream, OutputMode.Complete())
    graft.operators.Quality.dq2Report(refC, curC)
  }

  /** s27 oracle: dq2's, verbatim — the twin contract. */
  val s27Sql: String = graft.operators.Quality.dq2Sql

  /** s28: STREAMING BENFORD AUDIT — dq3's first-digit screen at the
    * ingest door (the s27 offline/online split on the numeric
    * grain): the lineitem amount columns arrive AS A STREAM and
    * their digit counts are the bounded algebraic streaming state
    * (≤ 9 rows per column, forever — counts only grow and merge by
    * sum, the HLL/CMS contract), while the orders leg reads
    * offline; the shared [[graft.operators.Quality.dq3Report]]
    * turns the merged counts into the same report, so a fabricated-
    * amounts source alarms while data is still landing, not at the
    * end of the day. Digit extraction is dq3Digits VERBATIM (the
    * twin contract) — row-local, so the stream never holds rows.
    */
  def s28(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val schema = ss.read.parquet(s"$dir/lineitem.parquet").schema
    val liStream = ss.readStream.schema(schema)
      .option("pathGlobFilter", "lineitem.parquet").parquet(dir)
    val liCounts = graft.operators.Quality.dq3Digits(liStream, "l_extendedprice")
      .unionByName(graft.operators.Quality.dq3Digits(liStream, "l_quantity"))
      .groupBy(col("col_name"), col("digit"))
      .agg(count(lit(1)).as("n"))
    val liC = runToTable(ss, liCounts, OutputMode.Complete())
    val ordC = graft.operators.Quality.dq3Digits(
        ss.read.parquet(s"$dir/orders.parquet"), "o_totalprice")
      .groupBy(col("col_name"), col("digit"))
      .agg(count(lit(1)).as("n"))
    // the report self-joins its count table (per-column totals);
    // checkpoint the ≤27-row union so the memory-sink view's
    // attributes don't conflict across the self-join
    graft.operators.Quality.dq3Report(
      liC.unionByName(ordC).localCheckpoint())
  }

  /** s28 oracle: dq3's, verbatim — the twin contract. */
  val s28Sql: String = graft.operators.Quality.dq3Sql

  // ---------- s29: streaming repurchase hazard curve ----------

  case class DayEv(user_id: Long, day: Long)
  case class GapRow(user_id: Long, gap: Long)
  case class LastDay(last: Long)

  /** e18's distinct-day + lag gap extraction as per-user streaming
    * state: ONE scalar (the last purchase day seen) per user,
    * forever — each arriving purchase day strictly after it emits
    * one gap row and advances the scalar; same-day repeats are
    * swallowed (the batch `distinct()`). Within-batch rows sort by
    * day; across batches the feed is event-time ordered (s23's
    * documented contract).
    */
  class HazardGapProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, DayEv, GapRow] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[LastDay] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[LastDay]("last",
        org.apache.spark.sql.Encoders.product[LastDay],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[DayEv],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[GapRow] = {
      val days = rows.map(_.day).toArray.sorted
      var last = if (st.exists()) st.get().last else Long.MinValue
      val out = scala.collection.mutable.ArrayBuffer.empty[GapRow]
      days.foreach { d =>
        if (last == Long.MinValue) last = d
        else if (d > last) { out += GapRow(key, d - last); last = d }
      }
      st.update(LastDay(last))
      out.iterator
    }
  }

  def hazardStream(src: Dataset[DayEv]): Dataset[GapRow] = {
    import src.sparkSession.implicits._
    src.groupByKey(_.user_id)
      .transformWithState(new HazardGapProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** s29: STREAMING REPURCHASE HAZARD — e18's life-table curve kept
    * live as purchases arrive (the s26/s27 always-on deployment):
    * per-user state is ONE scalar (last purchase day — O(1) however
    * long the user's history), each completed inter-purchase
    * interval lands as an append-only gap row the micro-batch it
    * closes, and the curve re-derives from the gap-value-grain
    * count table (≤ ~30 rows — a mergeable histogram, the s27
    * bounded-sketch argument) through
    * [[graft.operators.EventWindows.e18Report]] SHARED VERBATIM.
    * Oracle: e18's, unchanged — the twin contract.
    */
  def s29(spark: SparkSession, dir: String): DataFrame = {
    val rs = rocksSession(spark)
    graft.Tables.tsConfs(rs)
    import rs.implicits._
    val schema = rs.read.parquet(s"$dir/events.parquet").schema
    val src = tsToTimestamp(rs.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      .filter(col("event_type") === "purchase")
      .selectExpr("user_id",
        s"${graft.operators.EventWindows.dayExpr} AS day")
      .as[DayEv]
    val landed = runToTable(rs, hazardStream(src).toDF(), OutputMode.Append())
    val byGap = landed.groupBy(col("gap")).agg(count(lit(1)).as("n_events"))
    graft.operators.EventWindows.e18Report(byGap)
  }

  /** s29 oracle: e18's, verbatim — the twin contract. */
  val s29Sql: String = graft.operators.EventWindows.e18Sql

  /** s30: STREAMING CONTROL CHART — dq4's Shewhart p-chart kept
    * live as the load lands (the s27/s28 always-on split): the
    * per-day (n_rows, n_flag) counts ARE the streaming aggregation
    * state — algebraic, merge = sum, bounded by the calendar-day
    * grain (≤ ~10⁴ rows forever; the histogram-as-mergeable-sketch
    * argument) — and the chart re-derives from the landed count
    * table through [[graft.operators.Quality.dq4Report]] SHARED
    * VERBATIM, so the day a source silently breaks alarms while
    * its rows are still arriving. Oracle: dq4's, unchanged — the
    * twin contract.
    */
  def s30(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val schema = ss.read.parquet(s"$dir/lineitem.parquet").schema
    val counts = graft.operators.Quality.dq4Counts(
      ss.readStream.schema(schema)
        .option("pathGlobFilter", "lineitem.parquet").parquet(dir))
    graft.operators.Quality.dq4Report(
      runToTable(ss, counts, OutputMode.Complete()))
  }

  /** s30 oracle: dq4's, verbatim — the twin contract. */
  val s30Sql: String = graft.operators.Quality.dq4Sql

  /** s31: STREAMING CODE DOOR — t32's code-vs-prose mixture gate
    * applied STATELESSLY at the ingest boundary (the s17
    * Gopher-door class: a pure narrow map per arriving document,
    * no streaming state at all — the cheapest door there is), so
    * code is binned away from the prose pot the moment it lands
    * rather than in the nightly batch. `t32Route` SHARED VERBATIM;
    * oracle IS t32Sql (twin contract).
    */
  def s31(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    import ss.implicits._
    val schema = ss.read.parquet(s"$dir/documents.parquet").schema
    val src = ss.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    runToTable(ss, graft.operators.TextStats.t32Route(src), OutputMode.Append())
      .orderBy($"doc_id")
  }

  /** s31 oracle: t32's, verbatim — the twin contract. */
  val s31Sql: String = graft.operators.TextStats.t32Sql

  // ---------- s32: streaming TWAP ----------

  case class TwapEv(user_id: Long, event_id: Long, tus: Long, cents: Long)
  case class TwapSt(last_tus: Long, last_cents: Long, n_holds: Long,
      span_s: Long, wsum: Long)
  case class TwapOut(user_id: Long, n_holds: Long, span_s: Long,
      wsum_cents_s: Long)

  /** q37's hold-weighted accumulation as per-user streaming state:
    * FIVE scalars (last observation + running moments — O(1)
    * however long the series), each arriving event closes the
    * previous hold exactly as the batch lead window does
    * (truncating whole-second duration, §8.39). Emits the running
    * aggregate every batch in Complete-through-latest fashion:
    * the LAST emitted row per user equals the batch answer.
    */
  class TwapProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TwapEv, TwapOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[TwapSt] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[TwapSt]("twap",
        org.apache.spark.sql.Encoders.product[TwapSt],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TwapEv],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[TwapOut] = {
      val sorted = rows.toArray.sortBy(e => (e.tus, e.event_id))
      var s = if (st.exists()) st.get()
        else TwapSt(Long.MinValue, 0L, 0L, 0L, 0L)
      sorted.foreach { e =>
        if (s.last_tus != Long.MinValue) {
          val d = (e.tus - s.last_tus) / 1000000L
          s = TwapSt(e.tus, e.cents, s.n_holds + 1L,
            s.span_s + d, s.wsum + d * s.last_cents)
        } else s = s.copy(last_tus = e.tus, last_cents = e.cents)
      }
      st.update(s)
      Iterator.single(TwapOut(key, s.n_holds, s.span_s, s.wsum))
    }
  }

  def twapStream(src: Dataset[TwapEv]): Dataset[TwapOut] = {
    import src.sparkSession.implicits._
    src.groupByKey(_.user_id)
      .transformWithState(new TwapProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** s32: STREAMING TWAP — q37's time-weighted average maintained
    * ONLINE (the telemetry/market-data deployment: the running TWA
    * per sensor/instrument, updated as each observation lands):
    * per-user state is five scalars (last observation + running
    * moments — O(1) forever, the s26 bounded-state class); every
    * event closes the previous hold with the batch's exact
    * truncating-second algebra, and the latest emitted row per
    * user IS the batch answer (the contract run keeps the
    * max-event row per user; a production monitor reads the same
    * append stream continuously). Oracle: q37's, verbatim — the
    * twin contract.
    */
  def s32(spark: SparkSession, dir: String): DataFrame = {
    val rs = rocksSession(spark)
    graft.Tables.tsConfs(rs)
    import rs.implicits._
    val schema = rs.read.parquet(s"$dir/events.parquet").schema
    val src = tsToTimestamp(rs.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS tus",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
      .as[TwapEv]
    val landed = runToTable(rs, twapStream(src).toDF(), OutputMode.Append())
    // latest emission per user = the completed aggregate (one row per
    // user per micro-batch; n_holds only grows)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_holds").desc)
    landed.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("span_s") > 0L)
      .selectExpr("user_id", "n_holds", "span_s", "wsum_cents_s",
        "CAST(wsum_cents_s AS DOUBLE) / CAST(span_s AS DOUBLE) AS twap_cents")
      .transform(graft.Tables.ordered(_, col("user_id")))
  }

  /** s32 oracle: q37's, verbatim — the twin contract. */
  val s32Sql: String = graft.relational.Relational.q37Sql

  // ---------- s33: streaming Markov chain ----------

  case class TypeEv(user_id: Long, event_id: Long, tus: Long, event_type: String)
  case class PairRow(prev_type: String, event_type: String)
  case class LastType(last: String)

  /** e19's per-user transition-pair extraction as streaming state:
    * ONE string scalar (the user's last event type) — each arriving
    * event emits one (prev, next) pair row and advances it. The
    * s29 ordered-feed contract; within-batch rows sort by
    * (tus, event_id).
    */
  class TransitionProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypeEv, PairRow] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[LastType] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[LastType]("last",
        org.apache.spark.sql.Encoders.product[LastType],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TypeEv],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[PairRow] = {
      val sorted = rows.toArray.sortBy(e => (e.tus, e.event_id))
      var last = if (st.exists()) st.get().last else null
      val out = scala.collection.mutable.ArrayBuffer.empty[PairRow]
      sorted.foreach { e =>
        if (last != null) out += PairRow(last, e.event_type)
        last = e.event_type
      }
      st.update(LastType(last))
      out.iterator
    }
  }

  def transitionStream(src: Dataset[TypeEv]): Dataset[PairRow] = {
    import src.sparkSession.implicits._
    src.groupByKey(_.user_id)
      .transformWithState(new TransitionProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** s33: STREAMING MARKOV CHAIN — e19's behavior model kept live
    * (the recommendation/capacity model retrained as sessions
    * evolve): per-user state is ONE scalar (the last event type —
    * O(1) forever), transition pairs land append-only the
    * micro-batch they close, and the ≤|types|²-row count matrix
    * they aggregate into is a mergeable sketch, so the shared
    * [[graft.operators.EventWindows.e19Stationary]] power
    * iteration re-derives the same bitwise fixpoint from the
    * landed counts. Oracle: e19's, verbatim — the twin contract.
    */
  def s33(spark: SparkSession, dir: String): DataFrame = {
    val rs = rocksSession(spark)
    graft.Tables.tsConfs(rs)
    import rs.implicits._
    val schema = rs.read.parquet(s"$dir/events.parquet").schema
    val src = tsToTimestamp(rs.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS tus", "event_type")
      .as[TypeEv]
    val landed = runToTable(rs, transitionStream(src).toDF(), OutputMode.Append())
    graft.operators.EventWindows.e19Stationary(
      landed.groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n")))
  }

  /** s33 oracle: e19's, verbatim — the twin contract. */
  val s33Sql: String = graft.operators.EventWindows.e19Sql

  /** s34: STREAMING OOD DOOR — v24's embedding outlier gate at the
    * vector-ingest boundary, the train-offline/serve-online split
    * (s16 DSIR / s25 boilerplate's sibling on the vector grain):
    * centroids AND the p95 threshold are trained in batch on the
    * stored corpus ([[graft.operators.Knn.v24Trained]] — three
    * driver constants), and the stream applies the shared
    * [[graft.operators.Knn.normalized]] + [[graft.operators.Knn.v24Assign]]
    * narrow map plus a row-local bucket test — ZERO streaming
    * state (the s17/s31 stateless-door class). Corrupt or
    * off-distribution vectors are flagged the moment they land.
    * Oracle IS v24Sql (twin contract).
    */
  def s34(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    import ss.implicits._
    val (cents, tb, w) = graft.operators.Knn.v24Trained(ss, dir)
    val schema = ss.read.parquet(s"$dir/embeddings.parquet").schema
    val src = graft.operators.Knn.normalized(
        ss.readStream.schema(schema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(dir))
      .filter(col("vec_id") >= 18)
      .select(col("vec_id"), col("nv")).as[(Long, Array[Double])]
    val flagged = graft.operators.Knn.v24Assign(src, cents)
      .selectExpr("vec_id", "cid", "d6",
        s"CAST(CASE WHEN least(CAST(255 AS BIGINT), d6 div $w) > $tb THEN 1 ELSE 0 END AS BIGINT) AS ood")
    runToTable(ss, flagged, OutputMode.Append())
      .transform(graft.Tables.ordered(_, col("vec_id")))
  }

  /** s34 oracle: v24's, verbatim — the twin contract. */
  val s34Sql: String = graft.operators.Knn.v24Sql

  /** s35: STREAMING GRAPH-ANN DOOR — v21's beam search at the
    * query-ingest boundary, PARTITION-ROUTED: the degree-16 kNN
    * graph, node vectors and IVF entry representatives are trained
    * in batch and stay PARTITIONED DataFrames
    * ([[graft.operators.Knn.v21Static]] — cached on executors,
    * never collected; the only driver-resident index piece is the
    * ≤ 8-entry coarse codebook). Each micro-batch routes its
    * arriving queries to their probed cells and runs batch v21's
    * OWN hop-loop joins ([[graft.operators.Knn.v21ServeBatch]] —
    * stream-static equality joins against the partitioned index,
    * the exact join shape batch v21 uses), emitting v21's exact
    * rows. ZERO streaming state; the bounded side of every join is
    * the micro-batch's query set (arrival-rate-sized), so at 100 TB
    * the index grows with the corpus while nothing
    * corpus-proportional ever reaches the driver or a broadcast.
    * Oracle IS v21Sql (twin contract); the spec feeds queries
    * across multiple MemoryStream batches and pins bitwise equality
    * with batch v21.
    */
  def s35(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val ix = graft.operators.Knn.v21Static(ss, dir)
    val schema = ss.read.parquet(s"$dir/embeddings.parquet").schema
    val src = graft.operators.Knn.normalized(
        ss.readStream.schema(schema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(dir))
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), col("nv"))
    runBatched(src, b => graphAnnServe(ix, b))
      .transform(graft.Tables.ordered(_, col("qid"), col("rnk")))
  }

  /** One micro-batch through the partition-routed serving path —
    * factored so the MemoryStream spec drives the identical code
    * across batches. The batch's queries (the BOUNDED side) are
    * collected and broadcast; everything corpus-sized stays in the
    * partitioned index joins.
    */
  private[graft] def graphAnnServe(ix: graft.operators.Knn.V21Static,
      batch: DataFrame): DataFrame = {
    val ss = batch.sparkSession
    import ss.implicits._
    val qs = batch.select(col("vec_id"), col("nv"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    graft.operators.Knn.v21ServeBatch(ix, qs)
  }

  /** Drive a streaming source through a PER-MICRO-BATCH batch
    * transform (`foreachBatch`) and return the accumulated output —
    * the runner for serving doors whose trained index is the
    * PARTITIONED static side of stream-static joins rather than a
    * driver-collected map. Zero streaming state (any aggregation
    * completes WITHIN the micro-batch); the driver accumulates only
    * the door's OUTPUT rows — the memory sink's own contract,
    * output-sized, never corpus-sized.
    */
  private def runBatched(src: DataFrame,
      f: DataFrame => DataFrame): DataFrame = {
    val ss = src.sparkSession
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    var schema: org.apache.spark.sql.types.StructType = null
    val q = src.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val r = f(b)
        schema = r.schema
        buf ++= r.collect()
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    require(schema != null, "streaming source produced no micro-batch")
    import scala.jdk.CollectionConverters._
    ss.createDataFrame(buf.asJava, schema)
  }

  /** s35 oracle: v21's, verbatim — the twin contract. */
  val s35Sql: String = graft.operators.Knn.v21Sql

  /** s36: STREAMING WINNOWING DOOR — d23's MOSS fingerprint dedup at
    * the document-ingest boundary, PARTITION-ROUTED (the
    * train-offline/serve-online split on the FINGERPRINT grain):
    * the stored corpus's capped fingerprint index
    * ([[graft.operators.Dedup.d23Fps]] — the SAME winnowing
    * selection + df cap the batch pair join uses) stays a
    * PARTITIONED DataFrame, cached on executors and NEVER
    * collected. Each arriving document is fingerprinted ROW-LOCALLY
    * ([[graft.operators.Dedup.winnowOne]] — winnowing needs only
    * the document's own text, so extraction is stateless), exploded
    * to its fingerprint keys, and equality-joined against the
    * partitioned index per micro-batch — exactly batch d23's join
    * shape, with the pair count completing WITHIN the batch (all of
    * a document's fingerprints arrive with it). Matching keeps only
    * SMALLER indexed doc ids ("does this new document plagiarize
    * anything already ingested"), so across the whole stream every
    * d23 pair surfaces exactly once and the oracle IS d23Sql (twin
    * contract). The w+k−1 = 19-char detection GUARANTEE holds at
    * the door: any long-enough overlap with an indexed document
    * shares a fingerprint by construction, not in expectation.
    * ZERO streaming state; at 100 TB the index side of the join
    * grows with the corpus while the driver holds nothing
    * corpus-proportional — per-fp fan-in stays df-capped at
    * [[graft.operators.Dedup.d23DfCap]].
    */
  def s36(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val index = graft.operators.Dedup.d23Fps(ss, dir)
      .select(col("doc_id").as("id_a"), col("fp")).persist()
    index.count() // materialize ONCE — per-batch joins reuse the cache
    val schema = ss.read.parquet(s"$dir/documents.parquet").schema
    val src = ss.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .selectExpr("doc_id", "text")
    try runBatched(src, b => winnowServe(index, b))
      .transform(graft.Tables.ordered(_, col("id_a"), col("id_b")))
    finally index.unpersist()
  }

  /** One micro-batch through the partition-routed winnowing door —
    * factored so the MemoryStream spec drives the identical code
    * across batches. Row-local fingerprint extraction, then an
    * fp-equality join against the partitioned index and an in-batch
    * pair count at the d23 τ — no text and no corpus structure ever
    * rides a broadcast or lands on the driver.
    */
  private[graft] def winnowServe(index: DataFrame, batch: DataFrame)
      : DataFrame = {
    val ss = batch.sparkSession
    import ss.implicits._
    val fps = batch.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (docId, text) =>
        graft.operators.Dedup.winnowOne(text).iterator.map(fp => (fp, docId))
      }.toDF("fp", "id_b")
    fps.join(index, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= graft.operators.Dedup.d23Tau)
      .select(col("id_a"), col("id_b"), col("n_shared"))
  }

  /** s36 oracle: d23's, verbatim — the twin contract. */
  val s36Sql: String = graft.operators.Dedup.d23Sql


  /** s38: STREAMING ANN-INSERT DOOR — v26's NSW insert at the
    * vector-ingest boundary, the MAINTENANCE half of the serving
    * pair (s35 answers queries over the index; s38 GROWS it as
    * vectors arrive — what a daily-ingest ANN fleet actually runs
    * between full rebuilds). The standing index trains in batch and
    * stays PARTITIONED ([[graft.operators.Knn.v21Static]]'s shape
    * on the base corpus); each micro-batch beam-searches its
    * arriving vectors over the CURRENT graph and links each to its
    * top-16 results ([[graft.operators.Knn.v21InsertEdges]] —
    * batch v26's exact kernel), then the new undirected links join
    * the graph the NEXT batch searches. Cross-batch semantics are
    * SEQUENTIAL NSW by design: later arrivals can link to earlier
    * arrivals (the property that keeps insert-only growth
    * navigable — spec-proved with a planted near-duplicate across
    * batches); within a batch the insert is order-free (all
    * searches see the same pre-batch graph). The evolving edge
    * table is executor-resident DataFrame state grown APPEND-ONLY:
    * each batch checkpoints only its own delta and the accumulated
    * graph is a lazy union of the once-checkpointed pieces,
    * compacted (and the pieces freed) every [[annCompactEvery]]
    * batches — per-batch materialized volume is O(|batch|·degree),
    * never O(|graph|). The driver accumulates only the emitted
    * link rows. Replayed as ONE batch (the Verify path)
    * the door's rows ARE batch v26's insert edges — oracle
    * [[graft.operators.Knn.v26InsertSql]] (twin contract).
    */
  def s38(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val st = annInsertState(ss, dir)
    val schema = ss.read.parquet(s"$dir/embeddings.parquet").schema
    val src = graft.operators.Knn.normalized(
        ss.readStream.schema(schema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(dir))
      .filter(col("vec_id") >= 10 &&
        col("vec_id") % graft.operators.Knn.v26ModK === 0)
      .select(col("vec_id"), col("nv"))
    runBatched(src, b => annInsertServe(st, b))
      .transform(graft.Tables.ordered(_, col("new_id"), col("rnk")))
  }

  /** The door's evolving serving-index state: the growing vector
    * table and the growing graph (an insert door must grow BOTH —
    * a later arrival can only link to an earlier one if the earlier
    * vector is scoreable). Everything is a partitioned DataFrame —
    * the driver holds only the ≤ 8-entry codebook. */
  private[graft] final class AnnInsertState(
      var vecs: org.apache.spark.sql.DataFrame,
      var graph: org.apache.spark.sql.DataFrame,
      val reps: org.apache.spark.sql.DataFrame,
      val cents: Array[(Long, Array[Double])],
      var batches: Int = 0,
      var lastDeltaRows: Long = 0L,
      var storeRoot: String = null,
      var storeVersion: Int = 0,
      var folds: Int = 0,
      var lastPubRows: Long = 0L,
      // the upsert door's SOFT-delete set at fold time (null for the
      // pure insert door): a debt fold materializes the index
      // CONTENT as the new base, but soft-deleted vectors stay in
      // that content by design (navigable tombstones) — so the fold
      // must re-publish the consolidated delete set as ONE tombs
      // delta right above the new base, or the fold would silently
      // resurrect every erased vector at the next bootstrap
      // (RocksDB's deletion markers surviving compaction until the
      // bottom level)
      var foldTombs: org.apache.spark.sql.DataFrame = null)

  /** Compact the lazy union tree every this-many micro-batches: one
    * localCheckpoint over the accumulated pieces, then the pieces'
    * blocks are freed. Between compactions, growth is append-only —
    * a batch materializes ONLY its own delta. */
  private[graft] val annCompactEvery = 8

  private[graft] def annInsertState(ss: SparkSession, dir: String)
      : AnnInsertState = {
    val e = graft.operators.Knn.vectors(ss, dir)
    val (g, reps, cents) = graft.operators.Knn.v21Index(ss, e,
      s"vec_id >= 10 AND vec_id % ${graft.operators.Knn.v26ModK} <> 0")
    new AnnInsertState(e.select(col("vec_id"), col("nv")), g,
      reps.persist(), cents)
  }

  /** The insert door's state built FROM A COMMITTED STORE — the
    * durable half s38 was missing its bootstrap for: a cold start
    * (or a sibling) assembles the base plus every vectors+edges
    * delta the fleet's insert batches published since the last fold
    * ([[graft.operators.Knn.loadAnnStoreLsm]] — ZERO index builds),
    * so a crash loses no arrival that a batch shipped. Tombstone
    * deltas a co-located erasure path may have landed are honored
    * by EXCLUDING their ids from the vector table: an edge into a
    * tombstoned node stays in the graph but the node is unscoreable
    * (absent from `vecs`, it drops out of every candidate scoring
    * join), so it can neither be emitted as a link target nor
    * accept new links — and a LATER re-arrival of the id is a fresh
    * insert (the anti-join sees it gone), never a resurrection of
    * the erased vector's bytes. */
  private[graft] def annInsertStateFromStore(ss: SparkSession,
      root: String): AnnInsertState = {
    val (ix, tombs, _) = graft.operators.Knn.loadAnnStoreLsm(ss, root)
    val st = new AnnInsertState(
      ix.e.join(tombs, Seq("vec_id"), "left_anti"),
      ix.graph, ix.reps, ix.cents)
    st.storeRoot = root
    st.storeVersion = graft.operators.Knn.committedVersions(root).max
    st
  }

  /** One micro-batch through the insert door — factored so the
    * MemoryStream spec drives the identical code across batches.
    * Searches run over the CURRENT graph and vector table; the
    * batch's links then augment the graph and its vectors join the
    * table (id-anti-joined, so replaying corpus members is a no-op)
    * for the next batch.
    *
    * Growth is APPEND-ONLY: the only rows a batch materializes are
    * its own delta (≤ 2·degree·|batch| edge rows + |batch| vector
    * rows), never the accumulated index. Dedup is batch-local
    * because it can be: every delta edge has a this-batch `new_id`
    * endpoint (v21InsertEdges links FROM the arrivals) and the
    * vec-table anti-join guarantees each new_id is inserted once —
    * so an edge can never recur across batches, and the only
    * possible duplicates are intra-batch mutual links (two arrivals
    * picking each other), caught by a batch-sized `distinct`.
    * `st.graph`/`st.vecs` stay the LAZY union of once-checkpointed
    * pieces; every [[annCompactEvery]] batches the union tree is
    * compacted into one checkpoint and the pieces' blocks freed.
    * At 100 TB: per-batch work is O(|batch|) regardless of index
    * size — the accumulated graph is only ever the probe side of
    * the hop joins, never rewritten. */
  private[graft] def annInsertServe(st: AnnInsertState,
      batch: DataFrame): DataFrame = {
    val ss = batch.sparkSession
    import ss.implicits._
    val qs = batch.select(col("vec_id"), col("nv"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val ix = graft.operators.Knn.V21Static(st.vecs, st.graph, st.reps, st.cents)
    val ins = graft.operators.Knn.v21InsertEdges(ix, qs).localCheckpoint()
    annInsertGrow(st, ins, batch.select(col("vec_id"), col("nv")))
    ins
  }

  /** The growth half of the insert door, factored so the volume
    * spec can drive the bookkeeping with synthetic link frames (the
    * search half is covered by the linking specs): fold one batch's
    * insert edges + arriving vectors into the state under the
    * append-only discipline documented on [[annInsertServe]]. */
  private[graft] def annInsertGrow(st: AnnInsertState, ins: DataFrame,
      arriving: DataFrame): Unit = {
    val edges = ins.select(col("new_id").as("src_id"), col("nbr_id"))
    val delta = edges
      .unionByName(edges.select(col("nbr_id").as("src_id"),
        col("src_id").as("nbr_id")))
      .distinct().localCheckpoint()
    st.lastDeltaRows = delta.count() // checkpointed — a cheap cache scan
    st.graph = st.graph.unionByName(delta)
    val arrivals = arriving
      .join(st.vecs.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .localCheckpoint()
    st.vecs = st.vecs.unionByName(arrivals)
    // DURABILITY (v31's segment discipline, the erasure door's twin):
    // a store-backed door ships the batch's growth — its once-arriving
    // vectors plus the delta edges that TOUCH them — as an O(|batch|)
    // vectors+edges segment the moment it lands, so a crash loses
    // nothing and a sibling's cold bootstrap inherits every arrival
    // ([[annInsertStateFromStore]]). The endpoint restriction keeps
    // replay idempotent at the STORE too: a replayed id has no
    // arrival row, so neither its vector nor its edges re-publish
    // (assembly stays duplicate-free without any cross-segment dedup).
    st.lastPubRows = 0L
    if (st.storeRoot != null) {
      val nArr = arrivals.count()
      if (nArr > 0L) {
        val aSrc = arrivals.select(col("vec_id").as("src_id"))
        val aNbr = arrivals.select(col("vec_id").as("nbr_id"))
        val pubEdges = delta.join(aSrc, Seq("src_id"), "left_semi")
          .unionByName(delta.join(aNbr, Seq("nbr_id"), "left_semi")
            .select(col("src_id"), col("nbr_id")))
          .distinct()
        st.storeVersion = graft.operators.Knn.saveDeltaVersion(
          st.storeRoot,
          Map("vectors" -> arrivals, "edges" -> pubEdges))
        st.lastPubRows = nArr
        // DELTA-DEBT fold (RocksDB's L0 trigger — the axis the
        // growth/deletion thresholds don't bound): once the unfolded
        // tail reaches [[graft.operators.Knn.annDeltaFoldK]]
        // segments, materialize the door's CURRENT state — which IS
        // the store assembly, base ∪ published deltas — as the next
        // committed base. No index build, no extra store read: the
        // fold is one O(base + deltas) write every K batches, and it
        // bounds cold-start assembly at ≤ K segments forever. The
        // kind-aware vacuum then reclaims the folded tail (keeping
        // the rollback predecessor — s43's retention posture).
        if (graft.operators.Knn.unfoldedDeltaCount(st.storeRoot)
            >= graft.operators.Knn.annDeltaFoldK) {
          st.storeVersion = graft.operators.Knn.saveIndexVersion(
            graft.operators.Knn.V21Static(st.vecs, st.graph, st.reps,
              st.cents), st.storeRoot)
          // soft-deletes survive the fold (see [[AnnInsertState
          // .foldTombs]]): consolidate the delete set into one tombs
          // delta above the new base
          if (st.foldTombs != null && !st.foldTombs.isEmpty) {
            st.storeVersion = graft.operators.Knn.saveDeltaVersion(
              st.storeRoot, Map("tombs" -> st.foldTombs))
          }
          graft.operators.Knn.vacuumAnnStoreLsm(st.storeRoot,
            annStoreKeep)
          st.folds += 1
        }
      }
    }
    st.batches += 1
    if (st.batches % annCompactEvery == 0) {
      val (og, ov) = (st.graph, st.vecs)
      st.graph = st.graph.localCheckpoint()
      st.vecs = st.vecs.localCheckpoint()
      graft.functions.Lineage.freeCheckpoint(og)
      graft.functions.Lineage.freeCheckpoint(ov)
    }
  }

  /** s38 oracle: v26's insert-edge selection, verbatim — the twin
    * contract on the single-replay batch. */
  val s38Sql: String = graft.operators.Knn.v26InsertSql

  /** s39: STREAMING ANN-DELETE DOOR — v27's soft deletion at the
    * ERASURE boundary, the door s38 was missing its twin for:
    * GDPR erasure and licence-takedown requests are exactly as
    * real-time as inserts, and a serving fleet that can grow its
    * index live (s38) but only forget in nightly batch is
    * non-compliant for the gap. The standing index trains in batch
    * and stays PARTITIONED (s35's [[graft.operators.Knn.v21Static]]
    * shape); the door's ONLY streaming state is the delete set — an
    * id-only DataFrame at O(|deleted|) rows, grown APPEND-ONLY
    * (arrivals anti-join the current set, so REPLAYED tombstones
    * are no-ops — the idempotence an at-least-once erasure feed
    * requires; batch-sized checkpoint per arrival set, compacted
    * every [[annCompactEvery]] batches — s38's growth discipline).
    * Each micro-batch folds in its arrivals and re-serves the
    * standing query set with the CURRENT set excluded via
    * id-equality joins against the partitioned delete set
    * ([[graft.operators.Knn.v27ServeCached]] — the production
    * Bloom/bitmap filter realized distributively) over the
    * batch-INVARIANT serve legs cached in door state
    * ([[graft.operators.Knn.v27ServeLegs]], round 14 — the beam
    * search and the full-corpus brute scoring run ONCE, not per
    * batch), emitting v27's exact row schema including the
    * `n_tomb_visited` compaction dial. Replayed as ONE batch (the Verify path) the delete set
    * is exactly v27's tombstones and the rows ARE batch v27's —
    * oracle [[graft.operators.Knn.v27Sql]] (twin contract).
    */
  def s39(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val st = annDeleteState(ss, dir)
    val schema = ss.read.parquet(s"$dir/embeddings.parquet").schema
    val src = ss.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .filter(col("vec_id") >= 10 &&
        col("vec_id") % graft.operators.Knn.v27ModK === 0)
      .select(col("vec_id"))
    runBatched(src, b => annDeleteServe(st, b))
      .transform(graft.Tables.ordered(_, col("qid"), col("rnk")))
  }

  /** The erasure door's state: the partitioned standing index, the
    * bounded query codebook, the id-only delete set, and the two
    * batch-INVARIANT serve legs ([[graft.operators.Knn.v27ServeLegs]]
    * — the final beam-search visited frame and the brute-scored
    * table, both (qid, id, score) grain, built LAZILY by [[annLegs]]
    * exactly once per index version). `ix`/`visited`/`scored`/
    * `corpusN` are vars because the compaction door (s40) swaps the
    * index and invalidates the legs when the deletion fraction
    * crosses the threshold — the ONLY event that does. `legBuilds`
    * counts leg builds (the spec's no-per-batch-re-scoring pin,
    * s38's bookkeeping idiom); `lastArrivalRows` is the per-batch
    * materialized work — delete-set-sized by construction. */
  private[graft] final class AnnDeleteState(
      var ix: graft.operators.Knn.V21Static,
      val qs: Array[(Long, Array[Double])],
      var deleted: org.apache.spark.sql.DataFrame,
      var visited: org.apache.spark.sql.DataFrame = null,
      var scored: org.apache.spark.sql.DataFrame = null,
      var corpusN: Long = 0L,
      var batches: Int = 0,
      var legBuilds: Int = 0,
      var lastArrivalRows: Long = 0L,
      var storeRoot: String = null,
      var storeVersion: Int = 0,
      var primedTombs: Long = 0L)

  private[graft] def annDeleteState(ss: SparkSession, dir: String)
      : AnnDeleteState = {
    val ix = graft.operators.Knn.v21Static(ss, dir)
    val qs = graft.operators.Knn.codebook(ix.e, "vec_id < 10")
    val empty = ss.range(0).selectExpr("id AS vec_id").localCheckpoint()
    val st = new AnnDeleteState(ix, qs, empty)
    st.corpusN = ix.e.filter("vec_id >= 10").count()
    st
  }

  /** The erasure/compaction door's state built FROM A COMMITTED
    * STORE — the fleet bootstrap: a serving process never re-trains
    * the index it was handed ([[graft.operators.Knn.loadLatestIndex]]
    * performs ZERO [[graft.operators.Knn.v21Index]] work — the
    * committed-read manifest gate is the only thing between the
    * parquet store and serving), and the door remembers the root so
    * compaction can PUBLISH the rebuilt index back as the next
    * committed version. A store with no committed version — torn
    * write, missing manifest, tampered counts — refuses AT THE
    * STREAM BOUNDARY, before any batch is consumed. */
  private[graft] def annDeleteStateFromStore(ss: SparkSession, dir: String,
      root: String): AnnDeleteState = {
    // LSM assembly (v31): newest committed BASE + every committed
    // delta above it — the deltas are the erasure waves published by
    // door batches SINCE the last compaction, so a cold start (or a
    // sibling) inherits the fleet's tombstones instead of starting
    // from an empty delete set and re-serving erased vectors until
    // its own stream catches up
    val (ix, tombs, _) = graft.operators.Knn.loadAnnStoreLsm(ss, root)
    val qs = graft.operators.Knn.codebook(
      graft.operators.Knn.vectors(ss, dir), "vec_id < 10")
    val st = new AnnDeleteState(ix, qs,
      tombs.distinct().localCheckpoint())
    st.corpusN = ix.e.filter("vec_id >= 10").count()
    // INHERITED tombstones don't count toward this process's rebuild
    // threshold ([[annCompactServe]] subtracts `primedTombs` from the
    // numerator): a freshly bootstrapped sibling whose primed set
    // already sits near corpus/denom would otherwise fire the
    // full-corpus rebuild on its FIRST batch — and every sibling in
    // the fleet would do the same (no lease), multiplying the one
    // rebuild the threshold exists to amortize. The inherited
    // overhead stays VISIBLE (n_tomb_visited audits it per query);
    // only newly-observed erasure arrivals advance the trigger.
    st.primedTombs = st.deleted.count()
    st.storeRoot = root
    st.storeVersion = graft.operators.Knn.committedVersions(root).max
    st
  }

  /** Build the batch-invariant serve legs LAZILY, once per index
    * version: eager state-build legs were measured WASTED work on
    * s40's single-replay path (the first batch immediately crosses
    * the compaction threshold, swapping the index before the
    * pre-compaction legs ever serve — the door paid the full
    * search+scoring twice, 7 → 14 s isolated). Deferred to the
    * first serve that needs them, each index version's legs are
    * built exactly once — `legBuilds` counts the builds (the
    * no-per-batch-re-scoring spec pin). */
  private[graft] def annLegs(st: AnnDeleteState): Unit =
    if (st.visited == null) {
      val (v, sc) = graft.operators.Knn.v27ServeLegs(st.ix, st.qs)
      st.visited = v
      st.scored = sc
      st.legBuilds += 1
    }

  /** One micro-batch through the erasure door — factored so the
    * MemoryStream spec drives the identical code across batches.
    * Arrivals are deduped against the CURRENT set (replay
    * idempotence) and checkpointed at batch size; the set stays the
    * lazy union of checkpointed pieces, compacted every
    * [[annCompactEvery]] batches. The serve applies the delete-set
    * anti-/semi-joins + rank windows over the CACHED invariant legs
    * (round 14 — the round-13 body re-ran the full multi-hop beam
    * search and the full-corpus brute scoring per batch even though
    * both depend only on the batch-invariant `ix`/`qs`; at 100 TB
    * that was a per-micro-batch full-corpus pass for a handful of
    * erasure ids). Per-batch materialized work is now
    * O(|arrivals|); rows are byte-identical by [[graft.operators
    * .Knn.v27ServeCached]]'s shared body. */
  private[graft] def annDeleteServe(st: AnnDeleteState,
      batch: DataFrame): DataFrame = {
    val arrivals = batch.select(col("vec_id")).distinct()
      .join(st.deleted, Seq("vec_id"), "left_anti")
      .localCheckpoint()
    st.lastArrivalRows = arrivals.count()
    st.deleted = st.deleted.unionByName(arrivals)
    st.batches += 1
    if (st.batches % annCompactEvery == 0) {
      val od = st.deleted
      st.deleted = st.deleted.localCheckpoint()
      graft.functions.Lineage.freeCheckpoint(od)
    }
    annLegs(st)
    graft.operators.Knn.v27ServeCached(st.visited, st.scored, st.deleted)
  }

  /** s39 oracle: v27's, verbatim — the twin contract on the
    * single-replay batch. */
  val s39Sql: String = graft.operators.Knn.v27Sql

  /** s40: STREAMING COMPACTION DOOR — the index lifecycle's
    * AUTONOMIC loop closed at the stream boundary: s39 forgets by
    * filtering (tombstones stay navigable, overhead grows
    * monotonically), v28 is the batch recovery — s40 wires the
    * trigger BETWEEN them, the way a serving fleet actually runs:
    * each micro-batch folds in its erasure arrivals (s39's
    * append-only delete set) and, when the DELETION FRACTION
    * crosses the rebuild threshold (corpus/[[s40CompactDenom]] —
    * the published FAISS/HNSW practice of consolidating at a few
    * percent deleted; v27's n_tomb_visited dial stays the per-query
    * AUDIT of what the overhead was costing), REBUILDS the serving
    * index over the live vectors (v28's exact construction: the
    * delete set leaves the graph, not just the results) and serves
    * post-compaction — the emitted dial collapses to 0. Below the
    * threshold it serves tombstone-filtered (s39's path). Replayed
    * as ONE batch (the Verify path) the full tombstone set crosses
    * the threshold immediately and the rows ARE batch v28's —
    * oracle [[graft.operators.Knn.v28Sql]] (twin contract). The
    * spec drives the two-phase story: a half batch stays below
    * threshold (dial > 0 — soft-deletion overhead visible), the
    * second crossing batch compacts (dial 0 everywhere, results ==
    * batch v28).
    */
  def s40(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val st = annDeleteState(ss, dir)
    val schema = ss.read.parquet(s"$dir/embeddings.parquet").schema
    val src = ss.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .filter(col("vec_id") >= 10 &&
        col("vec_id") % graft.operators.Knn.v27ModK === 0)
      .select(col("vec_id"))
    runBatched(src, b => annCompactServe(st, b))
      .transform(graft.Tables.ordered(_, col("qid"), col("rnk")))
  }

  /** Rebuild at 4% deleted: corpus/25. Coupled to the v27 fixture's
    * tombstone rate — [[graft.operators.Knn.v27ModK]] = 23 deletes
    * every 23rd id (~4.3%), so the FULL set crosses the threshold
    * and a HALF batch does not: both trigger arms land on the data.
    * If `v27ModK` ever changes, re-derive this denominator (the
    * two-phase spec's below-threshold arm silently dead-arms
    * otherwise — it asserts the half batch does NOT compact). */
  private[graft] val s40CompactDenom = 25L

  /** Committed versions the s43 door retains when it vacuums after
    * publish-on-compact: the just-published index plus its
    * predecessor — the rollback target a bad compaction would need
    * (the ForecastStore keep-the-current-plus-history posture). */
  private[graft] val annStoreKeep = 2

  /** One micro-batch through the compaction door: s39's arrival
    * fold, then either the filtered serve (below threshold) or
    * v28's live rebuild + serve (at/above). The rebuilt index
    * REPLACES the state — later batches serve from the compacted
    * graph (and the delete set is consumed: those vectors are
    * gone from the index, nothing left to filter). Round 14:
    * arrivals SEMI-JOIN the live corpus before entering the set, so
    * replayed erasure ids (already compacted away) and never-indexed
    * ids cannot re-enter `deleted` and fire a spurious full rebuild
    * against the shrunk corpus — the rebuild is the one full-corpus
    * cost the threshold exists to amortize; the corpus count and the
    * serve legs live in the state, recomputed ONLY when compaction
    * swaps the index. */
  private[graft] def annCompactServe(st: AnnDeleteState,
      batch: DataFrame): DataFrame = {
    val ss = batch.sparkSession
    val arrivals = batch.select(col("vec_id")).distinct()
      .join(st.ix.e.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .join(st.deleted, Seq("vec_id"), "left_anti")
      .localCheckpoint()
    st.lastArrivalRows = arrivals.count()
    st.deleted = st.deleted.unionByName(arrivals)
    st.batches += 1
    // LSM (v31's segment discipline): the erasure wave ships to the
    // store as a tombstone DELTA the moment it lands — O(|arrivals|)
    // bytes — so sibling processes and the next cold start inherit
    // the fleet's tombstones without waiting for a compaction (the
    // bootstrap primes `deleted` from the unfolded deltas), and a
    // crash between compactions loses nothing. The fold below
    // consumes them; the deduped arrivals make replay idempotent
    // (a replayed id never re-publishes).
    if (st.storeRoot != null && st.lastArrivalRows > 0L) {
      st.storeVersion = graft.operators.Knn.saveDeltaVersion(
        st.storeRoot, Map("tombs" -> arrivals))
    }
    val nDeleted = st.deleted.count()
    // threshold numerator = NEWLY-OBSERVED deletions only (see
    // [[annDeleteStateFromStore]] — primed tombstones are a sibling's
    // already-amortized history, not this process's trigger debt)
    if ((nDeleted - st.primedTombs) * s40CompactDenom >= st.corpusN) {
      // COMPACT: v28's construction — rebuild over live vectors;
      // the delete set leaves the index and is consumed, and the
      // invariant serve legs + corpus count follow the new index
      val eLive = st.ix.e
        .join(st.deleted, Seq("vec_id"), "left_anti").localCheckpoint()
      val (g, reps, cents) =
        graft.operators.Knn.v21Index(ss, eLive, "vec_id >= 10")
      val newIx =
        graft.operators.Knn.V21Static(eLive, g, reps.persist(), cents)
      // PUBLISH-BACK, before the swap: a store-bootstrapped door
      // ships the compacted index to the store as the next committed
      // version, so sibling serving processes (and this one's next
      // cold start) bootstrap from the compacted artifact, never the
      // stale one — the v29 artifact contract closed into a loop
      if (st.storeRoot != null) {
        st.storeVersion =
          graft.operators.Knn.saveIndexVersion(newIx, st.storeRoot)
        // RETENTION, right after publish (v30's vacuum, kind-aware
        // since the deltas landed — v31): keep the just-published
        // base plus its predecessor (the rollback target) plus the
        // delta segments between them (the REPLAY window: rollback =
        // predecessor + replay deltas), reclaim older bases, deltas
        // folded below the kept window, and dead torn attempts.
        // Without this the store grows one full index copy per
        // threshold crossing; with it a fleet's shared store stays
        // O(annStoreKeep) bases + a bounded delta tail. The newest
        // committed base — the one just published — is untouchable
        // by construction, so the door can never vacuum away what
        // its siblings are about to bootstrap from.
        graft.operators.Knn.vacuumAnnStoreLsm(st.storeRoot, annStoreKeep)
      }
      st.ix.reps.unpersist()
      st.ix = newIx
      st.deleted = ss.range(0).selectExpr("id AS vec_id").localCheckpoint()
      st.primedTombs = 0L // the compaction consumed the inherited set
      // the index swap INVALIDATES the cached legs — free them (if
      // any batch ever built them) and let the next serve lazy-build
      // over the compacted index
      if (st.visited != null) {
        graft.functions.Lineage.freeCheckpoint(st.visited)
        graft.functions.Lineage.freeCheckpoint(st.scored)
        st.visited = null
        st.scored = null
      }
      st.corpusN = eLive.filter("vec_id >= 10").count()
    }
    annLegs(st)
    graft.operators.Knn.v27ServeCached(st.visited, st.scored, st.deleted)
  }

  /** s40 oracle: v28's, verbatim — the single-replay tombstone set
    * crosses the rebuild threshold immediately, so the emitted rows
    * are the post-compaction serve (twin contract). */
  val s40Sql: String = graft.operators.Knn.v28Sql

  /** s43: STORE-BACKED INDEX LIFECYCLE DOOR — s40's autonomic
    * compaction loop closed THROUGH THE v29 ARTIFACT, the way a
    * serving fleet actually deploys: the index trains ONCE on the
    * batch cluster and ships as a committed store version
    * ([[graft.operators.Knn.saveIndexVersion]] — per-component
    * parquet + the manifest commit marker); every
    * serving process BOOTSTRAPS from the newest committed version
    * ([[annDeleteStateFromStore]] — zero in-door index-build work,
    * the spec pins it with the
    * [[graft.operators.Knn.indexBuilds]] counter, and a torn or
    * missing manifest refuses AT THE STREAM BOUNDARY before any
    * batch is consumed); and when the deletion fraction crosses the
    * rebuild threshold, the door compacts (v28's live-only
    * construction — the one build it is allowed) and PUBLISHES the
    * result back as the next committed version before swapping it
    * in, so sibling processes and the next cold start inherit the
    * compacted artifact. Since round 17 the door runs v31's LSM
    * discipline between compactions: every erasure batch publishes
    * its arrivals as an O(|arrivals|) tombstone DELTA segment, the
    * bootstrap primes its delete set from the unfolded deltas (a
    * cold start or sibling never re-serves erased vectors while its
    * stream catches up), the compaction fold consumes them, and the
    * post-publish vacuum is kind-aware ([[graft.operators.Knn
    * .vacuumAnnStoreLsm]] — keeps the new base, its rollback
    * predecessor, and the delta replay window between them). Serve
    * rows are byte-identical to s40's at every step (the artifact
    * boundary is semantically invisible — v29's proven contract),
    * so the oracle stays [[graft.operators.Knn.v28Sql]] VERBATIM.
    *
    * Scale: this is the 100 TB deployment story for the whole ANN
    * family — N serving processes share one trained artifact (no
    * fleet re-trains), erasure folds in per micro-batch at
    * O(|arrivals|) state AND store bytes, and the one full-corpus
    * rebuild per threshold crossing amortizes across fleet AND
    * restarts because it ships back to the store.
    */
  def s43(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    // the BATCH TRAINER: one offline build, published as store v1 —
    // the only index construction outside the door's compaction
    val root = graft.store.Versioned.tempRoot("graft_s43_")
    val ix0 = graft.operators.Knn.v21Static(ss, dir)
    graft.operators.Knn.saveIndexVersion(ix0, root)
    ix0.reps.unpersist()
    // the SERVING PROCESS: bootstrap from the committed store
    val st = annDeleteStateFromStore(ss, dir, root)
    val schema = ss.read.parquet(s"$dir/embeddings.parquet").schema
    val src = ss.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .filter(col("vec_id") >= 10 &&
        col("vec_id") % graft.operators.Knn.v27ModK === 0)
      .select(col("vec_id"))
    runBatched(src, b => annCompactServe(st, b))
      .transform(graft.Tables.ordered(_, col("qid"), col("rnk")))
  }

  /** s43 oracle: v28's, verbatim — the artifact boundary is
    * semantically invisible (twin contract with s40). */
  val s43Sql: String = graft.operators.Knn.v28Sql

  /** s44: STREAMING REPLICA-RECONCILIATION DOOR — dq8's
    * merkle-bucket anti-entropy kept CURRENT as replica rows land,
    * the way replication monitoring actually runs: writes stream
    * into the replica continuously, and the monitor folds each
    * arrival into its per-bucket digests instead of re-scanning the
    * store. The digest is ALGEBRAIC state — (count, bit_xor of row
    * fingerprints) per bucket — so a micro-batch merges with one
    * sum/xor re-aggregate over a 4096-row frame (O(buckets) state
    * at ANY corpus size, the s1 windowed class; contrast the
    * id-set doors: xor digests need each row folded EXACTLY once,
    * which Structured Streaming's checkpointed source offsets
    * provide — an at-least-once feed without engine dedup would
    * cancel replayed rows pairwise). Each batch emits the CURRENT
    * reconciliation report: digest compare against the primary's
    * (computed once in state — the train-offline leg), then dq8's
    * row-grain drill reading ONLY convicted buckets from the
    * STORES — the primary table and the replica's own parquet
    * store, never a re-derivation (the repair job's read pattern).
    * Mid-stream the fold lags the store, and the door arbitrates
    * that EXPLICITLY with the store's per-bucket LOW-WATER MARK
    * (the digest of everything the replica writer has committed —
    * published by the writer in a real deployment, re-derived once
    * from the fixture's static store here): a mismatched bucket
    * whose fold has not reached the mark is PENDING — never
    * convicted, because the gap may be rows in flight — while a
    * bucket AT the mark that still mismatches the primary is
    * convicted, and its drill counts are FINAL (its fold equals the
    * store, so the drill sees everything it ever will). Replayed as
    * ONE batch (the Verify path) every bucket reaches the mark,
    * the digests equal batch dq8's and the rows ARE batch dq8's —
    * oracle [[graft.operators.Quality.dq8Sql]] (twin contract).
    */
  def s44(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val st = replicaDiffState(ss, dir)
    val schema = ss.read.parquet(s"$dir/orders.parquet").schema
    val src = ss.readStream.schema(schema)
      .option("pathGlobFilter", "orders.parquet").parquet(dir)
      .selectExpr("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
    // the replica's write stream: the same deterministic divergence,
    // expressed over the streaming frame (filter/select/union are
    // all stateless row ops)
    val replica = graft.operators.Quality.dq8Replica(src)
    runBatched(replica, b => replicaDiffServe(st, b))
      .transform(graft.Tables.ordered(_, col("bucket")))
  }

  /** The reconciliation door's state: the primary's digest table
    * (train-offline, immutable), the replica's accumulated fold
    * digests, and the store's low-water-mark digests — all three
    * O([[graft.operators.Quality.dq8Buckets]]) rows. `dir` rides
    * along for the drill's primary read; `replicaStore` is the
    * replica TABLE's parquet path — what the drill actually reads
    * for the replica side. */
  private[graft] final class ReplicaDiffState(
      val pDig: org.apache.spark.sql.DataFrame,
      var rDig: org.apache.spark.sql.DataFrame,
      val dir: String,
      val replicaStore: String,
      var sDig: org.apache.spark.sql.DataFrame,
      var batches: Int = 0,
      var lastCorr: org.apache.spark.sql.DataFrame = null)

  /** The replica STORE, materialized once per source dir: in
    * production this is simply the second copy of the table on
    * disk; the fixture writes the deterministic diverged replica to
    * parquet so the door's drill reads a real store — never a
    * re-derivation from the primary — and so repeated in-session
    * invocations share one store (the q42 memoization posture). */
  private val replicaStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def replicaStorePath(ss: SparkSession, dir: String)
      : String =
    replicaStores.computeIfAbsent(dir, { _ =>
      val path = graft.store.Versioned.tempRoot("graft_s44_") + "/orders_replica"
      val p = graft.Tables.orders(ss, dir).selectExpr("o_orderkey",
        "o_custkey", "o_orderstatus", "o_orderpriority")
      graft.operators.Quality.dq8Replica(p).write.parquet(path)
      path
    })

  private[graft] def replicaDiffState(ss: SparkSession, dir: String)
      : ReplicaDiffState = {
    val p = graft.Tables.orders(ss, dir).selectExpr("o_orderkey",
      "o_custkey", "o_orderstatus", "o_orderpriority")
    val pDig = graft.operators.Quality.bucketDigest(p).localCheckpoint()
    val store = replicaStorePath(ss, dir)
    // the store's per-bucket LOW-WATER MARK: the digest of
    // everything the replica writer has committed. A real writer
    // publishes this alongside its commits (one 4096-row frame);
    // the fixture's static store lets the door derive it once at
    // bootstrap — same train-offline discipline as pDig.
    val sDig = graft.operators.Quality
      .bucketDigest(ss.read.parquet(store)).localCheckpoint()
    val empty = ss.range(0)
      .selectExpr("id AS bucket", "id AS n", "id AS x").filter("false")
      .localCheckpoint()
    new ReplicaDiffState(pDig, empty, dir, store, sDig)
  }

  /** One micro-batch through the reconciliation door: fold the
    * arrivals' fingerprints into the replica digest state (one
    * algebraic sum/xor re-aggregate over ≤ 4096 + |batch buckets|
    * rows), then emit the current report — primary-vs-fold digest
    * compare, PENDING buckets (fold below the store's low-water
    * mark) excluded, and dq8's row-grain drill reading ONLY the
    * convicted buckets from the two STORES. A convicted bucket's
    * fold equals the store, so its class counts are final. */
  private[graft] def replicaDiffServe(st: ReplicaDiffState,
      batch: DataFrame): DataFrame = {
    foldReplicaDigests(st, batch)
    val ss = batch.sparkSession
    val pAll = graft.Tables.orders(ss, st.dir).selectExpr("o_orderkey",
      "o_custkey", "o_orderstatus", "o_orderpriority")
    graft.operators.Quality.drillReport(replicaConvicted(st), pAll,
      ss.read.parquet(st.replicaStore))
  }

  /** Fold one micro-batch's fingerprints into the replica digest
    * state — the algebraic sum/xor re-aggregate over ≤ 4096 +
    * |batch buckets| rows, shared by the diff (s44) and repair
    * (s45) doors. */
  private def foldReplicaDigests(st: ReplicaDiffState,
      batch: DataFrame): Unit = {
    val d = graft.operators.Quality.bucketDigest(batch)
    val od = st.rDig
    st.rDig = st.rDig.unionByName(d)
      .groupBy(col("bucket"))
      .agg(sum(col("n")).as("n"), expr("bit_xor(x)").as("x"))
      .localCheckpoint()
    graft.functions.Lineage.freeCheckpoint(od)
    st.batches += 1
  }

  /** WATERMARK ARBITRATION, shared by both reconciliation doors: a
    * bucket whose fold differs from the store's mark still has rows
    * in flight — pending, not divergent; conviction requires the
    * fold AT the mark AND mismatching the primary. */
  private def replicaConvicted(st: ReplicaDiffState)
      : org.apache.spark.sql.DataFrame = {
    val pending = graft.operators.Quality
      .digestMismatch(st.rDig, st.sDig).select(col("bucket"))
    graft.operators.Quality
      .digestMismatch(st.pDig, st.rDig)
      .join(pending, Seq("bucket"), "left_anti")
  }

  /** One micro-batch through the REPAIR door: the same fold +
    * watermark arbitration as [[replicaDiffServe]], then dq9's
    * key-grain corrections for the CONVICTED buckets — read from
    * the two stores, applied, and proven: `residual_buckets`
    * counts buckets still mismatched after exactly this batch's
    * corrections, i.e. the divergent buckets still below the
    * watermark — the repair-progress dial that hits 0 when the
    * fold has covered the store. The previous batch's corrections
    * checkpoint is freed with the rDig discipline. */
  private[graft] def replicaRepairServe(st: ReplicaDiffState,
      batch: DataFrame): DataFrame = {
    foldReplicaDigests(st, batch)
    val ss = batch.sparkSession
    val pAll = graft.Tables.orders(ss, st.dir).selectExpr("o_orderkey",
      "o_custkey", "o_orderstatus", "o_orderpriority")
    val rStore = ss.read.parquet(st.replicaStore)
    val corr = graft.operators.Quality
      .repairCorrections(replicaConvicted(st), pAll, rStore)
    if (st.lastCorr != null)
      graft.functions.Lineage.freeCheckpoint(st.lastCorr)
    st.lastCorr = corr
    // the residual proof is digest algebra over the state's own
    // digest frames — the stores are read ONLY by the drill above,
    // and only inside the convicted buckets
    graft.operators.Quality.repairReport(corr, st.pDig, st.sDig)
  }

  /** s44 oracle: dq8's, verbatim — the twin contract on the
    * single-replay batch. */
  val s44Sql: String = graft.operators.Quality.dq8Sql

  /** s45: STREAMING REPLICA-REPAIR DOOR — dq9's corrections kept
    * CURRENT as replica rows land: the repair job that runs OFF
    * s44's convictions, closed into one door. Per micro-batch the
    * digest fold and the low-water-mark arbitration are s44's
    * (shared kernels), and the emission is dq9's: key-grain
    * corrections for the CONVICTED buckets, read from the two
    * STORES, with the post-repair digest recompare riding every row
    * (digest ALGEBRA over the state's O(buckets) frames — the
    * corrections' (Δcount, Δxor) folded into the store digests, so
    * the proof costs no second store scan). Mid-stream the
    * corrections cover exactly the at-the-mark divergent buckets —
    * each is FINAL (its fold equals the store, so the drill saw
    * everything it ever will) — and `residual_buckets` counts the
    * divergent buckets still below the mark: the repair-progress
    * dial, reaching 0 exactly when the fold has covered the store.
    * Replayed as ONE batch (the Verify path) every bucket is at
    * the mark, the corrections ARE batch dq9's and the residual is
    * the proven 0 — oracle [[graft.operators.Quality.dq9Sql]]
    * (twin contract).
    *
    * Scale: s44's O(buckets) state + dq9's divergence-proportional
    * row work per batch — the door never rescans the store beyond
    * the convicted buckets, and a healthy stream emits zero
    * correction rows at O(4096) digest-compare cost per batch.
    */
  def s45(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val st = replicaDiffState(ss, dir)
    val schema = ss.read.parquet(s"$dir/orders.parquet").schema
    val src = ss.readStream.schema(schema)
      .option("pathGlobFilter", "orders.parquet").parquet(dir)
      .selectExpr("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
    val replica = graft.operators.Quality.dq8Replica(src)
    runBatched(replica, b => replicaRepairServe(st, b))
      .transform(graft.Tables.ordered(_, col("bucket"), col("k")))
  }

  /** s45 oracle: dq9's, verbatim — the twin contract on the
    * single-replay batch. */
  val s45Sql: String = graft.operators.Quality.dq9Sql

  /** The write-back door's bootstrap: a FRESH versioned replica
    * store seeded per invocation (v1 = the diverged replica — the
    * door must find something to heal, and a healed store carried
    * across invocations would make the replay non-deterministic),
    * the primary digests trained offline, and the store digests as
    * the low-water mark — REFRESHED after every publish, which is
    * what stops a healed bucket from re-convicting. */
  private[graft] def replicaRepairWbState(ss: SparkSession, dir: String)
      : ReplicaDiffState = {
    val p = graft.Tables.orders(ss, dir).selectExpr("o_orderkey",
      "o_custkey", "o_orderstatus", "o_orderpriority")
    val root = graft.store.Versioned.tempRoot("graft_s46_")
    graft.operators.Quality.seedReplicaStore(p, root)
    val pDig = graft.operators.Quality.bucketDigest(p).localCheckpoint()
    val sDig = graft.operators.Quality
      .bucketDigest(graft.operators.Quality.readReplicaStore(ss, root))
      .localCheckpoint()
    val empty = ss.range(0)
      .selectExpr("id AS bucket", "id AS n", "id AS x").filter("false")
      .localCheckpoint()
    new ReplicaDiffState(pDig, empty, dir, root, sDig)
  }

  /** One micro-batch through the WRITE-BACK door: s44's fold +
    * watermark arbitration, dq9's corrections for the convicted
    * buckets — and then the store actually HEALS: the corrections
    * publish the next store version (damaged partition groups
    * rewritten, `repairlog` log — dq10's publish leg
    * verbatim), and the low-water mark refreshes FROM THE STORE —
    * the rewritten partitions read back and re-digested (a bounded,
    * damage-proportional read), so the mark reflects what landed on
    * disk, and a healed bucket's fold now sits below it — pending,
    * never re-convicted (the arbitration rule doing double duty as
    * the healed-bucket exclusion). The emission carries dq10's two
    * persisted-state proofs, both over the disk-refreshed state:
    * `residual_buckets` (primary-vs-store digest mismatches after
    * this batch's publish) and `rerun_corrections` (the key-grain
    * corrections a fresh pass over the healed store would emit —
    * divergence-scoped drill, zero once the fold has covered the
    * store). */
  private[graft] def replicaRepairWbServe(st: ReplicaDiffState,
      batch: DataFrame): DataFrame = {
    foldReplicaDigests(st, batch)
    val ss = batch.sparkSession
    val pAll = graft.Tables.orders(ss, st.dir).selectExpr("o_orderkey",
      "o_custkey", "o_orderstatus", "o_orderpriority")
    val rStore = graft.operators.Quality
      .readReplicaStore(ss, st.replicaStore)
    val corr = graft.operators.Quality
      .repairCorrections(replicaConvicted(st), pAll, rStore)
    if (st.lastCorr != null)
      graft.functions.Lineage.freeCheckpoint(st.lastCorr)
    st.lastCorr = corr
    if (!corr.isEmpty) {
      val (_, damaged) = graft.operators.Quality
        .publishCorrections(ss, st.replicaStore, corr, pAll, rStore)
      // refresh the mark FROM THE STORE, scoped to the partitions
      // the publish rewrote (a bounded read): the mark — and with
      // it both proof columns below — then reflects what actually
      // LANDED on disk, not what the corrections' algebra says
      // should have landed (dq10's persisted-state posture; a
      // publish defect cannot hide behind the algebra)
      val healedDisk = graft.operators.Quality.bucketDigest(
        graft.operators.Quality.readReplicaStore(ss, st.replicaStore)
          .filter(col("pg").isin(damaged.toSeq: _*)))
      val old = st.sDig
      st.sDig = st.sDig
        .filter(!expr(s"bucket % ${graft.operators.Quality.dq10Parts}")
          .isin(damaged.toSeq: _*))
        .unionByName(healedDisk).localCheckpoint()
      graft.functions.Lineage.freeCheckpoint(old)
    }
    // both proofs read the POST-PUBLISH persisted state: the digest
    // compare runs over the disk-refreshed mark; the rerun drill
    // reads the healed store scoped to the still-divergent buckets
    // (zero once healed)
    val mism = graft.operators.Quality.digestMismatch(st.pDig, st.sDig)
    val rerun = graft.operators.Quality.repairCorrections(mism, pAll,
      graft.operators.Quality.readReplicaStore(ss, st.replicaStore),
      checkpoint = false).count()
    val residual = mism.agg(count(lit(1)).as("residual_buckets"))
    corr.select(col("bucket"), col("k"), col("action"))
      .crossJoin(broadcast(residual))
      .withColumn("rerun_corrections", lit(rerun))
  }

  /** s46: STREAMING REPAIR WRITE-BACK DOOR — dq10's healed lake
    * kept healing as replica rows land: per micro-batch the door
    * folds arrivals (s44), convicts at-the-mark divergent buckets,
    * derives dq9's corrections, PUBLISHES the next store version
    * (dq10's partition-grain copy-on-write publish),
    * and refreshes its low-water mark from the store's rewritten
    * partitions — so the next batch never re-convicts a healed
    * bucket, and a
    * healthy (fully healed) stream settles to zero corrections,
    * zero publishes, O(4096) digest compares per batch. Replayed
    * as ONE batch (the Verify path) the convictions are dq10's
    * pass-1 set, the publish is v2, and both proofs read 0 from
    * the persisted store — oracle
    * [[graft.operators.Quality.dq10Sql]] (twin contract). */
  def s46(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val st = replicaRepairWbState(ss, dir)
    val schema = ss.read.parquet(s"$dir/orders.parquet").schema
    val src = ss.readStream.schema(schema)
      .option("pathGlobFilter", "orders.parquet").parquet(dir)
      .selectExpr("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
    val replica = graft.operators.Quality.dq8Replica(src)
    runBatched(replica, b => replicaRepairWbServe(st, b))
      .transform(graft.Tables.ordered(_, col("bucket"), col("k")))
  }

  /** s46 oracle: dq10's, verbatim — the twin contract on the
    * single-replay batch. */
  val s46Sql: String = graft.operators.Quality.dq10Sql

  /** s47: DURABLE INSERT DOOR — s38's streaming NSW insert wired
    * through the v31 LSM store, closing the asymmetry the erasure
    * side closed in round 17: s43 publishes every erasure wave as a
    * tombstone delta (a crash loses no deletion), but s38's grown
    * index lives only in session state — a crash loses EVERY
    * arrival since bootstrap. Here the trainer publishes the
    * standing base index ONCE ([[graft.operators.Knn
    * .saveIndexVersion]], the one build in the story); the serving
    * process bootstraps through [[annInsertStateFromStore]]
    * ([[graft.operators.Knn.loadAnnStoreLsm]] — zero builds, torn
    * store refused at the stream boundary); and every insert batch
    * ships its arrivals + their links as an O(|batch|)
    * vectors+edges delta segment the moment it lands
    * ([[annInsertGrow]]'s publish leg), with the RocksDB-style
    * delta-debt fold ([[graft.operators.Knn.annDeltaFoldK]])
    * bounding cold-start assembly at ≤ K segments. A killed door's
    * sibling re-bootstraps from the store and serves the SAME grown
    * graph — bitwise, with zero builds (spec-pinned). Replayed as
    * ONE batch (the Verify path) the emitted rows ARE batch v26's
    * insert edges — oracle [[graft.operators.Knn.v26InsertSql]]
    * verbatim: the store, the per-batch publishes, and any fold are
    * all semantically invisible (the v29/v31 proven contract).
    *
    * Scale: the 100 TB ingest fleet's missing durability leg —
    * per-batch store bytes are O(|batch|·degree) (never a corpus
    * copy), restart cost is one manifest-gated assembly of ≤ K
    * segments (no re-ingest, no rebuild), and the fold amortizes
    * the one O(base+deltas) write over K batches. */
  /** The s47 trainer: s38's standing index over the base corpus,
    * published once as store v1 (v31's base-publish shape — the
    * vector table excludes the insert candidates, so a door
    * bootstrapped from it sees them as genuine ARRIVALS). Returns
    * the store root; factored so the kill-and-rebootstrap spec
    * seeds the identical store the query serves from. */
  private[graft] def annInsertStoreSeed(ss: SparkSession, dir: String)
      : String = {
    val root = graft.store.Versioned.tempRoot("graft_s47_")
    val e = graft.operators.Knn.vectors(ss, dir)
    val insPred =
      s"vec_id >= 10 AND vec_id % ${graft.operators.Knn.v26ModK} = 0"
    val (g, reps, cents) = graft.operators.Knn.v21Index(ss, e,
      s"vec_id >= 10 AND vec_id % ${graft.operators.Knn.v26ModK} <> 0")
    val ix0 = graft.operators.Knn.V21Static(
      e.filter(s"NOT ($insPred)").select(col("vec_id"), col("nv")),
      g, reps.persist(), cents)
    graft.operators.Knn.saveIndexVersion(ix0, root)
    ix0.reps.unpersist()
    root
  }

  def s47(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    // BATCH TRAINER: one offline build, published as store v1
    val root = annInsertStoreSeed(ss, dir)
    // SERVING PROCESS: bootstrap from the committed store — zero
    // builds — then grow + publish per batch
    val st = annInsertStateFromStore(ss, root)
    val schema = ss.read.parquet(s"$dir/embeddings.parquet").schema
    val src = graft.operators.Knn.normalized(
        ss.readStream.schema(schema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(dir))
      .filter(col("vec_id") >= 10 &&
        col("vec_id") % graft.operators.Knn.v26ModK === 0)
      .select(col("vec_id"), col("nv"))
    runBatched(src, b => annInsertServe(st, b))
      .transform(graft.Tables.ordered(_, col("new_id"), col("rnk")))
  }

  /** s47 oracle: v26's insert-edge selection, verbatim — the store
    * and every per-batch publish must be semantically invisible
    * (twin contract with s38). */
  val s47Sql: String = graft.operators.Knn.v26InsertSql

  /** The upsert door's state: the growing insert state (vecs,
    * graph, store fields — [[AnnInsertState]], which also carries
    * the publish + debt-fold legs), the SOFT delete set (v27's
    * discipline: deleted vectors stay navigable; exclusion happens
    * at serve), the standing query codebook, and the lazily-built
    * serve legs. Legs are invalidated by GROWTH (an insert batch
    * changes the index the legs were computed over — the s40
    * index-swap rule, here per growth batch); a delete batch only
    * moves the delete set, which [[graft.operators.Knn
    * .v27ServeCached]] applies after the legs, so erasure-only
    * traffic reuses them. */
  private[graft] final class AnnUpsertState(
      val ins: AnnInsertState,
      var deleted: org.apache.spark.sql.DataFrame,
      val qs: Array[(Long, Array[Double])],
      var visited: org.apache.spark.sql.DataFrame = null,
      var scored: org.apache.spark.sql.DataFrame = null,
      var legBuilds: Int = 0)

  /** Bootstrap the upsert door FROM A COMMITTED STORE: the LSM
    * assembly's vectors and edges become the grown index — with
    * tombstoned ids KEPT in the vector table (contrast
    * [[annInsertStateFromStore]]: the pure insert door drops them
    * because it never serves; the upsert door runs v27's SOFT
    * semantics, where deleted vectors stay navigable and the
    * n_tomb_visited dial audits their traversal cost) — and the
    * folded tombstone set primes the delete set, so a cold start
    * or sibling never re-serves an erased vector. Zero builds. */
  private[graft] def annUpsertStateFromStore(ss: SparkSession,
      dir: String, root: String): AnnUpsertState = {
    val (ix, tombs, _) = graft.operators.Knn.loadAnnStoreLsm(ss, root)
    val inner = new AnnInsertState(ix.e, ix.graph, ix.reps, ix.cents)
    inner.storeRoot = root
    inner.storeVersion = graft.operators.Knn.committedVersions(root).max
    val st = new AnnUpsertState(inner,
      tombs.distinct().localCheckpoint(),
      graft.operators.Knn.codebook(
        graft.operators.Knn.vectors(ss, dir), "vec_id < 10"))
    inner.foldTombs = st.deleted
    st
  }

  /** One micro-batch through the upsert door — factored so the
    * MemoryStream spec drives the identical code across batches.
    * Order within a batch is fixed: INSERTS first (search over the
    * current graph, grow, publish the vectors+edges delta — the
    * s47 leg verbatim, including the debt fold), then DELETES
    * (anti-joined against the current set for replay idempotence,
    * folded in, published as a tombs delta — the s43 leg), then
    * the serve over the grown index with the current set excluded.
    * The fixture keeps the op sets DISJOINT ([[graft.operators.Knn
    * .v33DelPred]]), so single-replay (both ops in one batch) is
    * order-unambiguous on every id; a re-arrival of a TOMBSTONED
    * id is a no-op by the vec-table anti-join (the id is still in
    * `vecs` — soft deletion never removes it), i.e. erasure wins
    * over replayed uploads, the conservative GDPR answer. */
  private[graft] def annUpsertServe(st: AnnUpsertState,
      batch: DataFrame): DataFrame = {
    val ss = batch.sparkSession
    import ss.implicits._
    val ins = batch.filter(col("op") === "ins")
      .select(col("vec_id"), col("nv"))
    val qsArr = ins.as[(Long, Array[Double])].collect().sortBy(_._1)
    if (qsArr.nonEmpty) {
      val ix = graft.operators.Knn.V21Static(st.ins.vecs, st.ins.graph,
        st.ins.reps, st.ins.cents)
      val edges = graft.operators.Knn.v21InsertEdges(ix, qsArr)
        .localCheckpoint()
      annInsertGrow(st.ins, edges, ins)
      // growth invalidates the serve legs (index changed)
      if (st.visited != null) {
        graft.functions.Lineage.freeCheckpoint(st.visited)
        graft.functions.Lineage.freeCheckpoint(st.scored)
        st.visited = null
        st.scored = null
      }
    }
    val delA = batch.filter(col("op") === "del")
      .select(col("vec_id")).distinct()
      .join(st.deleted, Seq("vec_id"), "left_anti")
      .localCheckpoint()
    if (delA.count() > 0L) {
      st.deleted = st.deleted.unionByName(delA)
      st.ins.foldTombs = st.deleted
      if (st.ins.storeRoot != null) {
        st.ins.storeVersion = graft.operators.Knn.saveDeltaVersion(
          st.ins.storeRoot, Map("tombs" -> delA))
      }
    }
    if (st.visited == null) {
      val (v, sc) = graft.operators.Knn.v27ServeLegs(
        graft.operators.Knn.V21Static(st.ins.vecs, st.ins.graph,
          st.ins.reps, st.ins.cents), st.qs)
      st.visited = v
      st.scored = sc
      st.legBuilds += 1
    }
    graft.operators.Knn.v27ServeCached(st.visited, st.scored, st.deleted)
  }

  /** s48: STREAMING UPSERT LIFECYCLE DOOR — the CDC reality of a
    * serving vector index, in ONE door against ONE store root: a
    * single feed carries inserts (new documents' vectors) and
    * erasure requests, and the door grows the index (s38/s47's NSW
    * insert + O(|batch|) vectors+edges delta publish), folds in
    * deletions (s39/s43's soft tombstones + per-batch tombs delta
    * publish), serves the standing queries over the grown-minus-
    * erased corpus after every batch (v27's cached-legs serve,
    * legs invalidated only by growth), and bounds its store debt
    * (the K-segment fold — which re-publishes the consolidated
    * delete set above the new base, so soft-deletes SURVIVE
    * compactions of the delta tail). A crash loses neither
    * arrivals nor erasures: the sibling's bootstrap assembles
    * vectors, edges and tombstones from the one store
    * ([[annUpsertStateFromStore]], zero builds). Replayed as ONE
    * batch (the Verify path) the emitted rows ARE batch v33's —
    * oracle [[graft.operators.Knn.v33Sql]] (twin contract: the
    * store, the publishes, the op routing and any fold are all
    * semantically invisible).
    *
    * Scale: per batch O(|batch|) growth + O(|arrivals|) erasure
    * state AND store bytes; the serve legs amortize across
    * erasure-only batches; restart is one ≤ K-segment assembly.
    * This is the door a production ingest fleet actually runs —
    * the insert-only (s47) and erasure-only (s43) doors are its
    * two halves proven separately. */
  def s48(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val root = annInsertStoreSeed(ss, dir)
    val st = annUpsertStateFromStore(ss, dir, root)
    val schema = ss.read.parquet(s"$dir/embeddings.parquet").schema
    val modI = graft.operators.Knn.v26ModK
    val modD = graft.operators.Knn.v27ModK
    val src = graft.operators.Knn.normalized(
        ss.readStream.schema(schema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(dir))
      .filter(col("vec_id") >= 10 &&
        (col("vec_id") % modI === 0 || col("vec_id") % modD === 0))
      .selectExpr("vec_id", "nv",
        s"CASE WHEN vec_id % $modI = 0 THEN 'ins' ELSE 'del' END AS op")
    runBatched(src, b => annUpsertServe(st, b))
      .transform(graft.Tables.ordered(_, col("qid"), col("rnk")))
  }

  /** s48 oracle: v33's, verbatim — the twin contract on the
    * single-replay batch. */
  val s48Sql: String = graft.operators.Knn.v33Sql

  /** s41: STREAMING SHARD-INGEST AUDIT DOOR — m24's corpus-grain
    * completeness/collision audit kept CURRENT as shards land,
    * which is how a shard store actually runs it: new WebDataset
    * shards arrive continuously from the render fleet, and the
    * audit that gates training readers must fold each arrival in
    * without re-walking the store (a cross-shard key collision is
    * only visible once BOTH shards have arrived — the reason this
    * is a stateful door and not a per-batch map). State is the
    * accumulated member table (doc, key, ext — ids and short keys
    * only, no payloads) grown with s38's append-only discipline:
    * each batch walks ONLY its arriving shards
    * ([[graft.operators.Media.shardMembers]] — the batch kernel
    * verbatim), checkpoints the delta at batch size, anti-joins
    * arrivals against the seen-shard id set for replay idempotence,
    * and compacts the lazy union every [[annCompactEvery]] batches.
    * Each batch emits the CURRENT audit
    * ([[graft.operators.Media.shardAudit]] — two equality-keyed
    * combinable aggregates over the member state). Replayed as ONE
    * batch (the Verify path) the rows ARE batch m24's — oracle
    * [[graft.operators.Media.m24Sql]] (twin contract).
    */
  def s41(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val st = shardAuditState(ss)
    val schema = ss.read.parquet(s"$dir/documents.parquet").schema
    val src = ss.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .filter(col("doc_id") % 3 === 0)
      .selectExpr("doc_id", "rpad(substring(text, 1, 61), 61, ' ') AS s")
    runBatched(src, b => shardAuditServe(st, b))
      .transform(graft.Tables.ordered(_, col("doc_id"), col("skey")))
  }

  /** The shard-audit door's state: the accumulated member table and
    * the seen-shard id set, both lazy unions of per-batch
    * checkpointed deltas (s38's growth discipline — no cross-batch
    * duplicates are possible because every member row's shard
    * arrives exactly once past the seen anti-join). `lastDeltaRows`
    * is the per-batch materialized work — arriving-shard-sized. */
  private[graft] final class ShardAuditState(
      var members: org.apache.spark.sql.DataFrame,
      var seen: org.apache.spark.sql.DataFrame,
      var batches: Int = 0,
      var lastDeltaRows: Long = 0L)

  private[graft] def shardAuditState(ss: SparkSession): ShardAuditState = {
    val m0 = ss.range(0)
      .selectExpr("id AS doc_id", "'' AS skey", "'' AS ext").localCheckpoint()
    val s0 = ss.range(0).selectExpr("id AS doc_id").localCheckpoint()
    new ShardAuditState(m0, s0)
  }

  /** One micro-batch through the shard-audit door — factored so the
    * MemoryStream spec drives identical code across batches. */
  private[graft] def shardAuditServe(st: ShardAuditState,
      batch: DataFrame): DataFrame = {
    val arrivals = batch.select(col("doc_id"), col("s"))
      .join(st.seen, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val delta = graft.operators.Media.shardMembers(arrivals).localCheckpoint()
    st.lastDeltaRows = delta.count()
    st.members = st.members.unionByName(delta)
    // seen records every AUDITED shard id — from the arrivals, not
    // the walked members: a shard whose walk yields zero members (a
    // corrupt tar halting at the first header) must still be
    // remembered, or an at-least-once feed re-walks exactly the
    // damaged shards on every replay
    st.seen = st.seen.unionByName(
      arrivals.select("doc_id").distinct().localCheckpoint())
    // the payload-bearing arrivals checkpoint has served both
    // derivations (delta walk + seen ids) — free it, or the door
    // leaks one cached shard-text RDD per micro-batch
    graft.functions.Lineage.freeCheckpoint(arrivals)
    st.batches += 1
    if (st.batches % annCompactEvery == 0) {
      val (om, os) = (st.members, st.seen)
      st.members = st.members.localCheckpoint()
      st.seen = st.seen.localCheckpoint()
      graft.functions.Lineage.freeCheckpoint(om)
      graft.functions.Lineage.freeCheckpoint(os)
    }
    graft.operators.Media.shardAudit(st.members)
  }

  /** s41 oracle: m24's, verbatim — the twin contract on the
    * single-replay batch. */
  val s41Sql: String = graft.operators.Media.m24Sql

  /** s42: STREAMING EXIF-STRIP DOOR — m25's PII redaction applied
    * AT THE INGEST BOUNDARY, where a privacy-compliant pipeline
    * actually wants it: images whose GPS metadata never enters the
    * store never need a retroactive sweep (contrast s39, which
    * exists because data DID get in). STATELESS by construction —
    * the strip decision and the surgery read only the arriving
    * image's own bytes ([[graft.operators.Media.exifStripRow]], the
    * batch kernel verbatim, fused render→strip→re-walk per row) —
    * so the door holds zero state, is trivially replay-idempotent,
    * and its output is batch-split INVARIANT (the s36 class, not
    * the s38/s41 stateful class). Oracle:
    * [[graft.operators.Media.m25Sql]] verbatim (twin contract).
    */
  def s42(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val schema = ss.read.parquet(s"$dir/documents.parquet").schema
    val src = ss.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .filter(col("doc_id") % 3 === 1)
      .selectExpr("doc_id", "rpad(substring(text, 1, 61), 61, ' ') AS s")
    runBatched(src, stripServe)
      .transform(graft.Tables.ordered(_, col("doc_id")))
  }

  /** One micro-batch through the strip door — a pure per-row map. */
  private[graft] def stripServe(batch: DataFrame): DataFrame = {
    val ss = batch.sparkSession
    import ss.implicits._
    batch.select(col("doc_id"), col("s")).as[(Long, String)]
      .mapPartitions(_.map { case (id, s) =>
        graft.operators.Media.exifStripRow(id, s)
      }).toDF()
  }

  /** s42 oracle: m25's, verbatim — the twin contract. */
  val s42Sql: String = graft.operators.Media.m25Sql

  /** s37: STREAMING MAD DOOR — dq6's robust day-volume monitor as a
    * live pipeline alarm: the median×2 / MAD×4 thresholds train in
    * batch on the stored corpus
    * ([[graft.operators.Quality.dq6Trained]] — two driver
    * constants, the v24/s34 train-offline/serve-online split on
    * the DAY grain), and the stream maintains ONE running count
    * per day (a Complete-mode day aggregate — O(#days) state, the
    * s1 windowed class) with the spike construction and the exact
    * integer 2·dev×2 > 3·MAD×4 flag applied as stateless
    * arithmetic on top. After full replay the day counts equal the
    * batch scan's, so the oracle IS dq6Sql (twin contract) — and
    * mid-stream the same query is the live "is today going bad"
    * alarm the trained thresholds exist for.
    */
  def s37(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val (med2, mad4) = graft.operators.Quality.dq6Trained(ss, dir)
    val agg = streamingEvents(spark, dir)
      .selectExpr("unix_micros(ts) div 86400000000 AS day")
      .groupBy(col("day")).agg(count(lit(1)).as("n_events"))
    runToTable(ss, agg, OutputMode.Complete())
      .selectExpr("day", "n_events",
        "CASE WHEN day % 11 = 3 THEN n_events * 4 ELSE n_events END AS m")
      .selectExpr("day", "n_events", "m", s"CAST($med2 AS BIGINT) AS med2",
        s"abs(2 * m - $med2) AS dev2", s"CAST($mad4 AS BIGINT) AS mad4",
        s"CAST(CASE WHEN 2 * abs(2 * m - $med2) > 3 * $mad4 THEN 1 ELSE 0 END AS BIGINT) AS is_outlier")
      .transform(graft.Tables.ordered(_, col("day")))
  }

  /** s37 oracle: dq6's, verbatim — the twin contract. */
  val s37Sql: String = graft.operators.Quality.dq6Sql

  /** s26 oracle: batch recompute of the first-20-gaps decision. */
  val s26Sql: String =
    s"""WITH ev AS (SELECT user_id, event_id,
      |        epoch_us(ts) // 1000000 AS s FROM events),
      |r AS (SELECT user_id, s,
      |        row_number() OVER (PARTITION BY user_id ORDER BY s, event_id) AS rn
      |      FROM ev),
      |f AS (SELECT user_id, s, rn FROM r WHERE rn <= ${s26Gaps + 1}),
      |g AS (SELECT user_id,
      |        s - lag(s) OVER (PARTITION BY user_id ORDER BY rn) AS gap
      |      FROM f),
      |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
      |        CAST(sum(gap) AS BIGINT) AS sum_gap,
      |        CAST(sum(gap * gap) AS BIGINT) AS sum_gap2
      |      FROM g WHERE gap IS NOT NULL GROUP BY user_id),
      |b AS (SELECT *,
      |        CASE WHEN sum_gap = 0 THEN 0.0
      |             ELSE CAST(n_gaps * sum_gap2 - sum_gap * sum_gap AS DOUBLE)
      |                  / CAST(n_gaps * sum_gap AS DOUBLE) END AS dispersion
      |      FROM a WHERE n_gaps = $s26Gaps)
      |SELECT user_id, n_gaps, sum_gap, sum_gap2, dispersion,
      |  CAST(CASE WHEN dispersion < $s26BotBelow THEN 1 ELSE 0 END AS BIGINT) AS is_bot
      |FROM b
      |ORDER BY user_id""".stripMargin

  case class TopSt(vs: Array[Double], ids: Array[Long])
  case class TopOut(user_id: Long, rnk: Int, event_id: Long, value: Double)

  /** Per-user streaming top-k (k=3): the streaming twin of q23's
    * bounded TopKAgg — state is the CURRENT top-k only (k (value, id)
    * pairs per user, O(k) however many events arrive), merged with
    * each batch's rows and re-emitted. The window+rank formulation
    * would need every event retained; this needs 3. Ties break on
    * event_id, so selection is deterministic and float-free.
    */
  class TopKProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, RecEv, TopOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[TopSt] = _
    private val k = 3

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[TopSt]("topk",
        org.apache.spark.sql.Encoders.product[TopSt],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[RecEv],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[TopOut] = {
      val carried: Seq[(Double, Long)] =
        if (st.exists()) { val v = st.get(); v.vs.zip(v.ids).toSeq } else Seq.empty
      val top = (carried ++ rows.map(e => (e.value, e.event_id)))
        .sortBy { case (v, id) => (-v, id) }.take(k)
      st.update(TopSt(top.map(_._1).toArray, top.map(_._2).toArray))
      top.iterator.zipWithIndex.map { case ((v, id), i) =>
        TopOut(key, i + 1, id, v)
      }
    }
  }

  def topkStream(events: Dataset[RecEv]): Dataset[TopOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TopKProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** s8: one micro-batch over the testdata == the batch window rank. */
  def s8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rs = rocksSession(spark)
    graft.Tables.tsConfs(rs)
    val schema = rs.read.parquet(s"$dir/events.parquet").schema
    val src = rs.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .selectExpr("user_id", "event_id", s"${tusSql(schema)} AS tus", "value").as[RecEv]
    runToTable(rs, topkStream(src).toDF(), OutputMode.Append())
      .orderBy($"user_id", $"rnk")
  }

  val s8Sql: String =
    """WITH r AS (SELECT user_id, event_id, value,
      |        CAST(row_number() OVER (PARTITION BY user_id
      |          ORDER BY value DESC, event_id) AS INTEGER) AS rnk
      |      FROM events)
      |SELECT user_id, rnk, event_id, value FROM r
      |WHERE rnk <= 3
      |ORDER BY user_id, rnk""".stripMargin

  /** s7: one micro-batch over the testdata == the batch e8 fold. */
  def s7(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rs = rocksSession(spark)
    graft.Tables.tsConfs(rs)
    val schema = rs.read.parquet(s"$dir/events.parquet").schema
    val src = rs.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .selectExpr("user_id", "event_id", s"${tusSql(schema)} AS tus", "value").as[RecEv]
    runToTable(rs, ewmaStream(src).toDF(), OutputMode.Append())
      .orderBy($"user_id")
  }

  case class QEv(event_type: String, event_id: Long, tus: Long)
  case class QOut(event_type: String, rnk: Long, event_id: Long)

  /** Per-type streaming quota admission (t12's streaming twin): admit
    * the first `quota` events per event_type in (time, id) order and
    * drop the rest. State is ONE admitted-count per key — O(1)
    * however many events arrive, carried across micro-batches so a
    * re-started feed keeps filling the same quota. Within a batch the
    * key's rows sort in memory for deterministic admission order
    * (bounded by the micro-batch, not the stream).
    */
  class QuotaProcessor(quota: Long) extends org.apache.spark.sql.streaming.StatefulProcessor[String, QEv, QOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[Long]("admitted",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[QEv],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[QOut] = {
      var c = if (st.exists()) st.get() else 0L
      val admitted = rows.toArray.sortBy(e => (e.tus, e.event_id))
        .iterator.takeWhile { _ => c < quota }
        .map { e => c += 1; QOut(key, c, e.event_id) }
        .toArray
      st.update(c)
      admitted.iterator
    }
  }

  def quotaStream(events: Dataset[QEv], quota: Long): Dataset[QOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new QuotaProcessor(quota),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** s10: one micro-batch over the testdata == the batch window rank. */
  def s10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rs = rocksSession(spark)
    graft.Tables.tsConfs(rs)
    val schema = rs.read.parquet(s"$dir/events.parquet").schema
    val src = rs.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .selectExpr("event_type", "event_id", s"${tusSql(schema)} AS tus").as[QEv]
    runToTable(rs, quotaStream(src, 50L).toDF(), OutputMode.Append())
      .orderBy($"event_type", $"rnk")
  }

  val s10Sql: String =
    """WITH r AS (SELECT event_type, event_id,
      |        row_number() OVER (PARTITION BY event_type
      |          ORDER BY epoch_ns(ts) // 1000, event_id) AS rnk
      |      FROM events)
      |SELECT event_type, rnk, event_id FROM r
      |WHERE rnk <= 50
      |ORDER BY event_type, rnk""".stripMargin

  // transformWithState requires the RocksDB state store; a dedicated
  // child session keeps that provider choice off the other queries
  private def rocksSession(spark: SparkSession): SparkSession =
    graft.ChildSessions.of(spark, "streaming-rocksdb") { ns =>
      val parts = spark.conf.getOption("graft.streaming.statePartitions")
        .orElse(sys.env.get("SPARK_GRAFT_STATE_PARTS")).getOrElse("8")
      ns.conf.set("spark.sql.shuffle.partitions", parts)
      ns.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      ns.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    }

  /** s6: one micro-batch over the testdata => record-breaking events
    * equal the batch prefix-max scan.
    */
  def s6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rs = rocksSession(spark)
    graft.Tables.tsConfs(rs)
    val schema = rs.read.parquet(s"$dir/events.parquet").schema
    val src = rs.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .selectExpr("user_id", "event_id", s"${tusSql(schema)} AS tus", "value").as[RecEv]
    runToTable(rs, records(src).toDF(), OutputMode.Append())
      .orderBy($"user_id", $"event_id")
  }

  val s6Sql: String =
    """WITH o AS (SELECT user_id, event_id, value, epoch_us(ts) AS tus FROM events),
      |w AS (SELECT user_id, event_id, value,
      |        max(value) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |      FROM o)
      |SELECT user_id, event_id, value FROM w
      |WHERE prev_max IS NULL OR value > prev_max
      |ORDER BY user_id, event_id""".stripMargin

  // ---------- s12: chained stateful operators (dedup → windowed agg) ----------

  /** The dedup transform alone, over any stream with (ts, user_id,
    * event_type) — shared by the contract query and the multi-batch
    * spec. `dropDuplicatesWithinWatermark` expires key state once
    * the watermark passes it, so state grows with the stream's CHURN
    * WINDOW (1 h of distinct keys), never its lifetime.
    */
  def dedupStream(ev: DataFrame): DataFrame = ev
    .withColumn("hour", expr("unix_micros(ts) div 3600000000"))
    .withWatermark("ts", "1 hour")
    .dropDuplicatesWithinWatermark("user_id", "event_type", "hour")
    .select(col("user_id"), col("event_type"), col("hour"))

  /** Child session for append-mode emission: the trailing no-data
    * micro-batch (disabled for the other streaming queries — they
    * emit in the data batch) is exactly what advances the watermark
    * and flushes finalized windows out of the chained aggregation,
    * so it stays ENABLED (the default) here.
    */
  private def chainSession(spark: SparkSession): SparkSession =
    graft.ChildSessions.of(spark, "streaming-chained") { ns =>
      val parts = spark.conf.getOption("graft.streaming.statePartitions")
        .orElse(sys.env.get("SPARK_GRAFT_STATE_PARTS")).getOrElse("8")
      ns.conf.set("spark.sql.shuffle.partitions", parts)
    }

  /** s12: TWO stateful operators chained in one streaming query —
    * watermark-bounded dedup of an at-least-once feed, then a
    * tumbling-window aggregate over the survivors, in APPEND mode
    * (every other aggregate in the suite runs Complete): hourly
    * distinct users per event_type, each window emitted exactly once
    * when the watermark passes its end. This is the shape of a real
    * ingest topology (dedup replayed deliveries, then window) that
    * before Spark 3.5 needed two queries with an intermediate sink.
    *
    * Determinism: dedup keys and the window both derive from the
    * hour-truncated event time, so WHICH physical row survives a
    * collision cannot affect window assignment or counts. Append
    * emits windows with end <= watermark = max(tsh) - 1 h — the
    * last two hours stay open and unEMITTED, which the oracle
    * mirrors arithmetically (hr <= hmax - 2).
    */
  /** The chained two-stateful-operator topology alone, over any
    * stream with (ts, user_id, event_type) — shared by the contract
    * query and the checkpoint-recovery spec.
    */
  def chainedDedupWindow(ev: DataFrame): DataFrame = ev
    .withColumn("tsh",
      expr("timestamp_micros((unix_micros(ts) div 3600000000) * 3600000000)"))
    .withWatermark("tsh", "1 hour")
    .dropDuplicatesWithinWatermark("user_id", "event_type", "tsh")
    .groupBy(window(col("tsh"), "1 hour"), col("event_type"))
    .agg(count(lit(1)).as("n_unique_users"))

  def s12(spark: SparkSession, dir: String): DataFrame = {
    val ss = chainSession(spark)
    graft.Tables.tsConfs(ss)
    val schema = ss.read.parquet(s"$dir/events.parquet").schema
    val ev = tsToTimestamp(ss.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
    runToTable(ss, chainedDedupWindow(ev), OutputMode.Append())
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_unique_users"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** s12 oracle: batch DISTINCT + hour grouping, keeping only the
    * windows the append watermark has finalized.
    */
  val s12Sql: String =
    """WITH k AS (SELECT DISTINCT user_id, event_type,
      |        epoch_us(ts) // 3600000000 AS hr FROM events),
      |mx AS (SELECT max(epoch_us(ts)) // 3600000000 AS hmax FROM events)
      |SELECT strftime(make_timestamp(hr * 3600000000), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, CAST(count(*) AS BIGINT) AS n_unique_users
      |FROM k, mx
      |WHERE hr <= hmax - 2
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** s13: stream-stream LEFT OUTER interval join — s4's pairing with
    * the unmatched side KEPT: every event either pairs with a
    * same-user successor within (0, 5 min] or eventually emits one
    * null-padded row when the watermark proves no match can arrive.
    * Outer stream joins are their own semantics class: matched rows
    * emit in the batch that finds them, but unmatched rows emit only
    * at STATE EVICTION (watermark > ta + 5 min), so correctness
    * depends on watermark advancement — exactly what this query pins.
    *
    * The §8.22 no-data-flush race is engineered away instead of
    * trusted: the feed is staged as three DATA batches
    * (maxFilesPerTrigger=1; ascending mtimes) — the real table, then
    * two far-future sentinel rows whose only job is to push the
    * watermark past every real row's match window. All eviction
    * output therefore lands inside data batches that
    * `processAllAvailable` is guaranteed to wait for; the sentinels
    * themselves (user_id = −1, and by `tb > ta` strictness they never
    * pair with each other) are filtered after the sink. The oracle is
    * the plain batch LEFT JOIN — no emission-boundary arithmetic,
    * because the sentinels make the outer output COMPLETE.
    *
    * At scale: join state is bounded by the watermark delay + the
    * 5-min condition span per key (evicted rows leave the store), and
    * the sentinel trick becomes unnecessary — a live feed advances
    * its own watermark.
    */
  def s13(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val schema = ss.read.parquet(s"$dir/events.parquet").schema
    val tsIsLong = schema("ts").dataType == org.apache.spark.sql.types.LongType
    val stage = java.nio.file.Files.createTempDirectory("graft_s13_").toFile
    val real = new java.io.File(stage, "b0_events.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"), real.toPath)
    // max event time in epoch micros, under either ts layout
    val maxUs = ss.read.schema(schema).parquet(real.getAbsolutePath)
      .selectExpr(s"${tusSql(schema)} AS tus").agg(max("tus")).head().getLong(0)
    val base = real.lastModified()
    def sentinel(name: String, tsUs: Long, mtime: Long): Unit = {
      // the sentinel row must carry ts in the FILE's own layout so the
      // staged batch reads under the same schema as the real table
      val tsVal: Any =
        if (tsIsLong) tsUs * 1000L
        else java.time.Instant.ofEpochSecond(tsUs / 1000000L, (tsUs % 1000000L) * 1000L)
      val df = ss.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row(-1L, tsVal, -1L, "sentinel", 0.0, "{}")),
        schema)
      val outDir = new java.io.File(stage, name + ".tmp")
      df.coalesce(1).write.parquet(outDir.getAbsolutePath)
      val part = outDir.listFiles().filter(_.getName.endsWith(".parquet")).head
      val tgt = new java.io.File(stage, name)
      java.nio.file.Files.move(part.toPath, tgt.toPath)
      outDir.listFiles().foreach(_.delete())
      outDir.delete()
      tgt.setLastModified(mtime)
    }
    val dayUs = 86400L * 1000000L
    sentinel("b1_events.parquet", maxUs + dayUs, base + 60000L)
    sentinel("b2_events.parquet", maxUs + 2 * dayUs, base + 120000L)
    val src = tsToTimestamp(ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.getAbsolutePath))
    val a = src.select(col("user_id").as("ua"), col("ts").as("ta"))
      .withWatermark("ta", "10 minutes")
    val b = src.select(col("user_id").as("ub"), col("ts").as("tb"))
      .withWatermark("tb", "10 minutes")
    val joined = a.join(b,
      expr("ua = ub AND tb > ta AND tb <= ta + INTERVAL 5 MINUTES"),
      "left_outer")
    val out = runToTable(ss, joined, OutputMode.Append())
      .filter(col("ua") >= 0)
      .groupBy(col("ua").as("user_id"))
      .agg(count(col("tb")).as("n_pairs"),
        count(when(col("tb").isNull, 1)).as("n_unmatched"))
      .orderBy(col("user_id"))
    // the memory sink holds the emitted rows; the staged feed can go
    stage.listFiles().foreach(_.delete())
    stage.delete()
    out
  }

  /** s13 oracle: the batch LEFT JOIN — complete outer output, because
    * the sentinel batches advance the stream watermark past every
    * real row's match window.
    */
  val s13Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events)
      |SELECT a.user_id, count(b.tus) AS n_pairs,
      |  count(*) FILTER (WHERE b.tus IS NULL) AS n_unmatched
      |FROM e a LEFT JOIN e b
      |  ON b.user_id = a.user_id
      | AND b.tus > a.tus
      | AND b.tus <= a.tus + 300000000
      |GROUP BY a.user_id
      |ORDER BY a.user_id""".stripMargin

  /** One micro-batch's per-user partial state for [[s14]]: additive
    * event count + lexicographic-max (tus, event_id, cents) "latest"
    * tuple — both ALGEBRAIC, so merging partials in any batch order
    * reproduces the global aggregate bitwise (p3's mergeability
    * argument on the streaming surface).
    */
  private def s14Partial(batch: DataFrame): DataFrame = batch
    .selectExpr("user_id", "unix_micros(ts) AS tus", "event_id",
      "CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents")
    .groupBy(col("user_id"))
    .agg(count(lit(1)).as("n_events"),
      max(struct(col("tus"), col("event_id"), col("cents"))).as("latest"))

  /** Merge one micro-batch into the persisted target, guarded for
    * replay: `batchId` is encoded in the store version, and a batch
    * whose id is <= the current version is SKIPPED — a foreachBatch
    * retry after a sink-commit/checkpoint race must not double-merge
    * (the MERGE-sink analog of ChunkedSink's (batch, part, chunk)
    * idempotence keys).
    */
  private[graft] def s14MergeBatch(store: graft.sources.ForecastStore,
      batch: DataFrame, batchId: Long): Unit = {
    val applied = store.currentPath()
      .map(p => java.nio.file.Paths.get(p).getFileName.toString)
      .filter(_.startsWith("v")).flatMap(_.drop(1).toLongOption)
    if (applied.exists(_ >= batchId)) return
    val partial = s14Partial(batch)
    val merged = store.load(batch.sparkSession) match {
      case None => partial
      case Some(cur) =>
        cur.select(col("user_id"), col("n_events").as("cn"), col("latest").as("cl"))
          .join(partial.select(col("user_id"), col("n_events").as("pn"),
            col("latest").as("pl")), Seq("user_id"), "full_outer")
          .selectExpr("user_id",
            "coalesce(cn, 0L) + coalesce(pn, 0L) AS n_events",
            "CASE WHEN cl IS NULL THEN pl WHEN pl IS NULL THEN cl " +
              "WHEN pl > cl THEN pl ELSE cl END AS latest")
    }
    store.save(merged, s"v$batchId")
    // retention: an unbounded stream writes one version per batch —
    // keep the current state + one rollback target, drop the rest
    store.vacuum(keep = 2)
  }

  /** s14: streaming CDC apply — p6's MERGE as a STREAMING sink (the
    * ingest topology that maintains a queryable per-key state table
    * from a feed): each micro-batch reduces to an algebraic per-user
    * partial, full-outer MERGEs into the persisted target, and
    * commits via [[graft.sources.ForecastStore]]'s atomic version
    * swap — readers never see a half-written state, and the
    * batch-id-versioned guard makes replays no-ops (exactly-once
    * effect on an at-least-once sink contract). The feed stages as
    * two DATA batches (event_id parity split), so the contract run
    * really exercises the multi-batch merge path; the oracle is the
    * plain batch aggregate, which equals the merged state BECAUSE the
    * partials are algebraic.
    *
    * At scale: the merge is one full-outer pk join per batch (state
    * and partial both pk-bucketable → zero-exchange, §8.16), the
    * partial is map-side-combined, and the store swap is O(1)
    * metadata — no state store, no watermark, unbounded key lifetime.
    */
  def s14(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    graft.Tables.tsConfs(ss)
    val stage = java.nio.file.Files.createTempDirectory("graft_s14_").toFile
    val ev = ss.read.parquet(s"$dir/events.parquet")
    def half(name: String, pred: String, mtime: Long): Unit = {
      val outDir = new java.io.File(stage, name + ".tmp")
      ev.filter(pred).coalesce(1).write.parquet(outDir.getAbsolutePath)
      val part = outDir.listFiles().filter(_.getName.endsWith(".parquet")).head
      val tgt = new java.io.File(stage, name)
      java.nio.file.Files.move(part.toPath, tgt.toPath)
      outDir.listFiles().foreach(_.delete())
      outDir.delete()
      tgt.setLastModified(mtime)
    }
    val now = System.currentTimeMillis()
    half("b0_events.parquet", "event_id % 2 = 0", now)
    half("b1_events.parquet", "event_id % 2 = 1", now + 60000L)
    val schema = ss.read.parquet(s"${stage.getAbsolutePath}/b0_events.parquet").schema
    val store = new graft.sources.ForecastStore(
      graft.store.Versioned.tempRoot("graft_s14_store_"))
    val q = tsToTimestamp(ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.getAbsolutePath))
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        s14MergeBatch(store, batch, batchId)
      }.start()
    try q.processAllAvailable() finally q.stop()
    val out = store.load(ss).get
      .selectExpr("user_id", "n_events", "latest.cents AS last_cents")
      .orderBy(col("user_id"))
    // materialize before deleting the staged feed (the store dir must
    // outlive the returned plan, so only the stage is cleaned here)
    stage.listFiles().foreach(_.delete())
    stage.delete()
    out
  }

  /** s14 oracle: the batch global aggregate — equal to the
    * incrementally merged state because the partials are algebraic.
    */
  val s14Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id,
      |        CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents FROM events),
      |r AS (SELECT user_id, cents,
      |        row_number() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
      |      FROM e),
      |c AS (SELECT user_id, count(*) AS n_events FROM e GROUP BY user_id)
      |SELECT c.user_id, c.n_events, r.cents AS last_cents
      |FROM c JOIN r ON r.user_id = c.user_id AND r.rn = 1
      |ORDER BY c.user_id""".stripMargin

  // ---------- s15: streaming media-ingest dedup by perceptual hash ----------

  /** s15: the multimodal INGEST shape — a stream of media payloads
    * deduplicated by the REAL integer-DCT pHash before anything
    * downstream pays for decode/caption/storage (crawl ingest dedups
    * at the door, not in nightly batches). Composes m6's executor-side
    * PNG-roundtrip hash ([[graft.operators.Media.pngLuminance]] +
    * [[graft.operators.Media.dctPhash]] — a narrow typed map on the
    * stream) with `dropDuplicatesWithinWatermark` keyed on the hash:
    * state holds one entry per DISTINCT hash and expires with the
    * watermark, so an unbounded crawl keeps bounded dedup state — the
    * churn-window contract s3/s12 established, at the media grain.
    * Output survives arrival-order nondeterminism by aggregating the
    * deduped stream per hash bucket (which duplicate wins is
    * irrelevant to distinct counts), so the batch oracle is exact:
    * m6's hash CTEs + count(DISTINCT ph).
    */
  def s15(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    import ss.implicits._
    val schema = ss.read.parquet(s"$dir/documents.parquet").schema
    def docs = ss.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .selectExpr("doc_id",
        "concat(CASE WHEN doc_id % 3 = 0 THEN 'IMG' WHEN doc_id % 3 = 1 THEN 'AUD' ELSE 'VID' END, substring(text, 1, 61)) AS s")
    val variants = docs.filter(col("doc_id") % 6 === 0)
      .selectExpr("doc_id + 30000 AS doc_id",
        "CASE WHEN length(s) >= 8 THEN concat(substring(s, 1, 7), chr(ascii(substring(s, 8, 1)) ^ 1), substring(s, 9, length(s))) ELSE s END AS s")
    val deduped = docs.unionByName(variants)
      .selectExpr("doc_id", "rpad(s, 64, ' ') AS s")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, s) =>
        (id, graft.operators.Media.dctPhash(graft.operators.Media.pngLuminance(s)))
      }).toDF("doc_id", "ph")
      // Event time maps the seeded variant (doc_id + 30000) onto its
      // BASE's second (% 30000), so a duplicate always lands within
      // the dedup window of its original no matter how the source is
      // batched — with raw doc_id seconds the variants would sit
      // ~8.3 h after their bases, and a multi-batch execution
      // (maxFilesPerTrigger, a multi-file corpus) would evict the
      // base hash's state before its duplicate ever arrived. The +1
      // keeps doc 0 off EXACTLY epoch 0, which dies against the
      // initial watermark (§8.22's late-row filter). The 10 h delay
      // covers the corpus's whole ~8.3 h event-time span, so the
      // stream equals the batch GLOBAL distinct under ANY batching —
      // production tuning shrinks the delay to the real dup-arrival
      // window and the state bound shrinks with it.
      .withColumn("ts", timestamp_micros(((col("doc_id") % 30000L) + 1) * 1000000L))
      .withWatermark("ts", "10 hours")
      .dropDuplicatesWithinWatermark("ph")
    runToTable(ss, deduped, OutputMode.Append())
      .groupBy((col("ph") % 64).as("bucket"))
      .agg(count(lit(1)).as("n_unique"))
      .orderBy(col("bucket"))
  }

  /** s15 oracle: m6's corpus + integer-DCT CTE chain, distinct hashes
    * per bucket — survivor-choice-free, so the stream's arrival order
    * cannot diverge from the batch mirror.
    */
  val s15Sql: String =
    // concatenated, NOT interpolated under stripMargin: the embedded
    // chain's "||" concat lines would lose a pipe to a second strip
    s"WITH ${graft.operators.Media.m6HashCtes}\n" +
      """SELECT ph % 64 AS bucket, count(DISTINCT ph) AS n_unique
        |FROM hashed
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin

  /** Exactly-once-style streaming sink: `foreachBatch` routed through
    * [[graft.pipeline.ChunkedSink]], keyed (batchId, partition, chunk)
    * so replays of a failed micro-batch overwrite instead of
    * duplicating — the file-sink analog of the reference's idempotent
    * bulk upsert (main.py:294-324).
    */
  def sinkToChunkedFiles(events: DataFrame, outDir: String)(
      implicit enc: org.apache.spark.sql.Encoder[(Long, String)]): org.apache.spark.sql.streaming.StreamingQuery = {
    events.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import batch.sparkSession.implicits._
        val ds = batch.selectExpr("CAST(event_id AS LONG) AS event_id",
          "CAST(event_type AS STRING) AS event_type")
          .as[(Long, String)]
        graft.pipeline.ChunkedSink.write(ds, chunkSize = 256) { (pid, ci, chunk) =>
          val p = java.nio.file.Paths.get(outDir, s"b${batchId}_p${pid}_c$ci.csv")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p,
            chunk.map { case (id, t) => s"$id,$t" }.mkString("\n").getBytes)
        }
        ()
      }.start()
  }

  /** s16: t20's DSIR data selection at the streaming ingest door —
    * TRAIN OFFLINE, SERVE ONLINE, the deployment shape importance
    * resampling actually ships with: the batch-estimated model
    * ([[graft.operators.TextStats.dsirModel]] — a 512-entry
    * quantized log-ratio table + the selection threshold, bounded
    * by construction) rides the stream plan as a literal lookup, so
    * scoring is a STATELESS narrow map (zero shuffles, zero state
    * stores, no watermark) and each arriving document gets its
    * keep/drop flag immediately. Output is bitwise-identical to the
    * batch t20 (same quantized table, same integer arithmetic) —
    * oracle reuses t20's SQL; the spec asserts row parity.
    */
  def s16(spark: SparkSession, dir: String): DataFrame = {
    val ts = graft.operators.TextStats
    val (m, tot, nd) = ts.dsirModel(spark, dir)
    val ss = streamSession(spark)
    import ss.implicits._
    val schema = ss.read.parquet(s"$dir/documents.parquet").schema
    val src = ss.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    runToTable(ss, ts.dsirScore(src, m, tot, nd), OutputMode.Append())
      .orderBy($"doc_id")
  }

  /** s17: streaming quality GATE — t21's Gopher/C4 rule verdicts
    * applied at the ingest door. The rule map is
    * [[graft.operators.TextStats.gopherFlags]] ITSELF (one shared
    * function — the batch curation pass and the stream admission
    * decision cannot drift), a stateless narrow map over the
    * document stream; only admitted (keep_doc = 1) documents pass
    * the sink. Zero state, zero shuffles — the filter runs
    * per-micro-batch at source parallelism, the s16 serving shape.
    */
  def s17(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    import ss.implicits._
    val schema = ss.read.parquet(s"$dir/documents.parquet").schema
    val src = ss.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    runToTable(ss,
      graft.operators.TextStats.gopherFlags(src).filter($"keep_doc" === 1),
      OutputMode.Append())
      .orderBy($"doc_id")
  }

  /** s17 oracle: the batch rule chain restricted to kept docs. */
  val s17Sql: String =
    s"""WITH ${graft.operators.TextStats.t21Ctes}
      |SELECT * FROM verdicts WHERE keep_doc = 1
      |ORDER BY doc_id""".stripMargin

  /** s18: STREAMING ndv — [[graft.functions.Hll]]'s register
    * aggregate run as a stateful streaming aggregate over the event
    * stream. This is the sketch's mergeability made operational:
    * state = the ≤ 1024 max-rank registers (bounded FOREVER, no
    * watermark needed — registers only ever ratchet up), each
    * micro-batch folds in with a map-side partial max, and the
    * estimate reads the register table after ingest. The same
    * registers would merge across streams/days by max — the
    * always-on "how many distinct X have we ever seen" monitor that
    * an exact streaming distinct (unbounded key state) cannot be.
    * The exact-count audit joins from the batch side to grade the
    * sketch; oracle = the batch sketch (bitwise — max is
    * order-free), instantiated by the same SQL generator as q31's.
    */
  def s18(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    import ss.implicits._
    val regs = runToTable(ss,
      graft.functions.Hll.registers(streamingEvents(spark, dir), "event_id"),
      OutputMode.Complete())
    val exact = graft.Tables.events(ss, dir)
      .agg(count_distinct($"event_id").as("n_exact"))
    graft.functions.Hll.estimateWithAudit(regs, exact)
  }

  /** s18 oracle: the batch-equivalent audited sketch over events. */
  val s18Sql: String = graft.functions.Hll.oracleSql("events", "event_id")

  private val s19TopN = 10

  /** s19: STREAMING heavy hitters — [[graft.functions.Cms]]'s cell
    * aggregate run as a stateful streaming aggregate over the event
    * stream, s18's frequency-counting sibling. State = the ≤ d·w =
    * 2048 count cells (bounded FOREVER, no watermark — counts only
    * grow), each micro-batch folds in with a map-side partial sum,
    * and the true top-[[s19TopN]] users (from the batch side, the
    * audit) are point-estimated after ingest. Cells merge across
    * streams/days by cell-wise sum — the always-on "who is
    * hammering us" monitor that an exact streaming per-key count
    * (unbounded key state) cannot be. Oracle = the batch sketch
    * (bitwise — sum is order-free), instantiated by the same SQL
    * generator as q32's.
    */
  def s19(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    import ss.implicits._
    val cells = runToTable(ss,
      graft.functions.Cms.cells(streamingEvents(spark, dir), "user_id"),
      OutputMode.Complete())
    val top = graft.Tables.events(ss, dir)
      .selectExpr("CAST(user_id AS STRING) AS ks")
      .groupBy($"ks").agg(count(lit(1)).as("n_exact"))
      .orderBy($"n_exact".desc, $"ks").limit(s19TopN)
    graft.functions.Cms.estimate(cells, top)
      .transform(graft.Tables.ordered(_, $"n_exact".desc, $"ks"))
  }

  /** s19 oracle: the batch-equivalent audited sketch over events. */
  val s19Sql: String =
    graft.functions.Cms.oracleSql("events", "user_id", s19TopN)

  /** s20: STREAMING uniform sample — the bottom-k hash-rank sketch
    * (operators/Sampling.scala) run as a typed streaming aggregate:
    * state = ONE [[graft.functions.BottomKAgg]] buffer of ≤ k
    * (rank, id) pairs, bounded forever; each micro-batch's partial
    * bottom-k merges in order-free, so the streamed sample is
    * PROVABLY the batch sample over everything ever seen (the
    * oracle is exactly that batch query). The always-on "give me a
    * uniform sample of the stream so far" — a true distributed
    * reservoir with deterministic replay, where a classic reservoir
    * (random eviction) is irreproducible and single-threaded.
    * Map-side partial aggregation does the heavy lifting: the one
    * single-key reduce sees only k-bounded buffers, never rows.
    */
  def s20(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark)
    import ss.implicits._
    val pairs = graft.operators.Sampling
      .s20Pairs(streamingEvents(spark, dir)).as[(Long, Long)]
    val agg = pairs.groupByKey(_ => 0)
      .agg(new graft.functions.BottomKAgg(graft.operators.Sampling.s20K)
        .toColumn.name("sample"))
      .toDF("g", "sample")
    runToTable(ss, agg, OutputMode.Complete())
      .selectExpr("posexplode(sample) AS (i, p)")
      .selectExpr("CAST(i + 1 AS BIGINT) AS rk",
        "p._2 AS event_id", "p._1 AS hvr")
      .transform(graft.Tables.ordered(_, $"rk"))
  }

  /** s20 oracle: the batch bottom-k sample over events. */
  val s20Sql: String = graft.operators.Sampling.s20Sql
}
