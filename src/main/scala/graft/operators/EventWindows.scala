package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Bounded

/** Event-time window analytics over the `events` table — the batch
  * counterparts of the streaming queries in [[graft.streaming]].
  * All windowing uses Spark's native `window()` (epoch-aligned, same
  * alignment the oracle derives arithmetically), and session
  * detection is pure window-function arithmetic on exact microsecond
  * integers — no float comparisons, no UDFs.
  */
object EventWindows {

  /** e1: tumbling 1-hour windows per event type. */
  def tumbling(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        graft.functions.Stable.dsum($"value", 2).as("sum_value"),
        min($"value").as("min_value"),
        max($"value").as("max_value"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        $"event_type", $"n", $"sum_value", $"min_value", $"max_value")
      .orderBy($"window_start", $"event_type")
  }

  val tumblingSql: String =
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type,
      |  count(*) AS n,
      |  ${graft.functions.Stable.sumSql("value", 2)} AS sum_value,
      |  min(value) AS min_value,
      |  max(value) AS max_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** e2: sliding windows, 1 h length / 15 min hop (each event lands in
    * exactly 4 windows; Spark's native sliding window is epoch-aligned,
    * which the oracle reproduces with an explicit 4-offset expansion).
    */
  def sliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"), graft.functions.Stable.davg($"value", 2).as("avg_value"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        $"n", $"avg_value")
      .orderBy($"window_start")
  }

  val slidingSql: String =
    s"""SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  count(*) AS n,
      |  ${graft.functions.Stable.avgSql("value", 2)} AS avg_value
      |FROM (
      |  SELECT date_trunc('minute', ts)
      |           - (extract(minute FROM ts)::BIGINT % 15) * INTERVAL 1 MINUTE
      |           - k * INTERVAL 15 MINUTE AS ws,
      |         value
      |  FROM events CROSS JOIN (SELECT unnest([0,1,2,3]) AS k)
      |)
      |GROUP BY ws
      |ORDER BY 1""".stripMargin

  /** e4: ordered funnel — signup, then a view within an hour, then a
    * purchase within an hour of that. Three conditional
    * min-aggregations, each a map-side combine on the user key (no
    * window buffering, no self-join blow-up: step k only needs step
    * k-1's timestamp).
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("tus"))
    val s1 = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"tus").as("t1"))
    val s2 = ev.filter($"event_type" === "view")
      .join(s1, Seq("user_id"))
      .filter($"tus" > $"t1" && $"tus" <= $"t1" + 3600L * 1000000L)
      .groupBy($"user_id").agg(min($"tus").as("t2"))
    val s3 = ev.filter($"event_type" === "purchase")
      .join(s2, Seq("user_id"))
      .filter($"tus" > $"t2" && $"tus" <= $"t2" + 3600L * 1000000L)
      .groupBy($"user_id").agg(min($"tus").as("t3"))
    s1.join(s2.select($"user_id", $"t2"), Seq("user_id"), "left_outer")
      .join(s3.select($"user_id", $"t3"), Seq("user_id"), "left_outer")
      .selectExpr("CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS stage")
      .groupBy($"stage").agg(count(lit(1)).as("n_users"))
      .transform(graft.Tables.ordered(_, $"stage"))
  }

  val funnelSql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
      |s1 AS (SELECT user_id, min(tus) AS t1 FROM ev WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (SELECT ev.user_id, min(tus) AS t2 FROM ev JOIN s1 USING (user_id)
      |       WHERE event_type = 'view' AND tus > t1 AND tus <= t1 + 3600000000 GROUP BY ev.user_id),
      |s3 AS (SELECT ev.user_id, min(tus) AS t3 FROM ev JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND tus > t2 AND tus <= t2 + 3600000000 GROUP BY ev.user_id)
      |SELECT CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS stage,
      |  count(*) AS n_users
      |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** The cohort-day convention shared by e5 and e14: an ABSOLUTE day
    * number (datediff from a fixed epoch), NOT extract(DOY) —
    * day-of-year wraps at a calendar-year boundary, silently
    * corrupting cohorts/offsets, and identically in both engines, so
    * the oracle could never catch it. The epoch anchor makes day
    * monotone across years (PropertySpec pins the Dec-31→Jan-1
    * step); 2023-12-31 keeps the 2024 fixture's values equal to its
    * former DOY labels.
    */
  private[graft] val dayExpr =
    "CAST(datediff(CAST(ts AS DATE), DATE '2023-12-31') AS BIGINT)"

  /** e5: cohort retention — users grouped by first-active day, counted
    * by activity day offset. Two aggregations on (user) then
    * (cohort, offset).
    */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, dir)
      .selectExpr("user_id", s"$dayExpr AS day")
      .distinct()
    val cohorts = days.groupBy($"user_id").agg(min($"day").as("cohort"))
    days.join(cohorts, Seq("user_id"))
      .selectExpr("cohort", "day - cohort AS offset_days", "user_id")
      .groupBy($"cohort", $"offset_days")
      .agg(countDistinct($"user_id").as("n_users"))
      .filter($"offset_days" <= 7)
      .transform(graft.Tables.ordered(_, $"cohort", $"offset_days"))
  }

  val retentionSql: String =
    """WITH d AS (SELECT DISTINCT user_id, datediff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY user_id)
      |SELECT cohort, day - cohort AS offset_days, count(DISTINCT d.user_id) AS n_users
      |FROM d JOIN c USING (user_id)
      |WHERE day - cohort <= 7
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** e3: gap-based sessionization (30-minute idle gap) per user, on
    * exact microsecond arithmetic. One shuffle on user_id.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gapUs = 1800L * 1000000L
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("tus"))
      .withColumn("new_session",
        when(lag($"tus", 1).over(w).isNull || $"tus" - lag($"tus", 1).over(w) > gapUs, 1L)
          .otherwise(0L))
      .groupBy($"user_id")
      .agg(sum($"new_session").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  val sessionizeSql: String =
    """SELECT user_id,
      |  CAST(sum(new_session) AS BIGINT) AS n_sessions,
      |  count(*) AS n_events
      |FROM (
      |  SELECT user_id,
      |    CASE WHEN prev_t IS NULL OR t - prev_t > 1800000000 THEN 1 ELSE 0 END AS new_session
      |  FROM (
      |    SELECT user_id, epoch_us(ts) AS t,
      |      lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_t
      |    FROM events))
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------- e10: NATIVE session windows ----------

  /** e10: gap sessionization through Spark's native `session_window`
    * — the built-in merging-sessions operator next to e3's manual
    * lag-window formulation (same semantics, one aggregation instead
    * of window + aggregate; the operator Spark plans with
    * MergingSessionsExec and, in streaming, a session state store).
    *
    * Boundary alignment: `session_window` starts a NEW session when
    * `t − prev ≥ gap` (the [t, t+gap) intervals merely touch), while
    * e3 splits only when strictly `> gap` — so the gap here is
    * 30 min + 1 µs (event time is µs-resolution), which makes the
    * native operator equal the lag formulation EXACTLY; both hash to
    * e3's oracle. One shuffle on the user key, session merge is
    * partition-local after the sort.
    */
  def sessionNative(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"user_id", $"ts")
      .groupBy(session_window($"ts", "30 minutes 1 microsecond"), $"user_id")
      .agg(count(lit(1)).as("sess_events"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"), sum($"sess_events").as("n_events"))
      .orderBy($"user_id")
  }

  // ---------- e7: event-type transition matrix (path analysis) ----------

  /** e7: first-order transition counts — for each user's time-ordered
    * event stream, count (prev_type -> type) pairs corpus-wide, with
    * each ordered pair's share of all transitions. The Markov-chain /
    * user-path analytics shape: one window shuffle on user_id (lag),
    * one aggregation shuffle on the pair.
    */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val pairs = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("tus"))
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
    val total = pairs.agg(count(lit(1)).cast("double").as("total"))
    pairs.groupBy($"prev_type", $"event_type")
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .selectExpr("prev_type", "event_type", "n",
        "CAST(floor((CAST(n AS DOUBLE) / total) * 1e6 + 0.5) AS BIGINT) / 1e6 AS share")
      .orderBy($"prev_type", $"event_type")
  }

  val transitionsSql: String =
    """WITH o AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
      |p AS (SELECT event_type,
      |        lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev_type
      |      FROM o),
      |f AS (SELECT prev_type, event_type FROM p WHERE prev_type IS NOT NULL),
      |t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM f)
      |SELECT prev_type, event_type, count(*) AS n,
      |  CAST(floor((CAST(count(*) AS DOUBLE) / (SELECT total FROM t)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS share
      |FROM f
      |GROUP BY prev_type, event_type
      |ORDER BY prev_type, event_type""".stripMargin

  // ---------- e9: k-step sequential path mining ----------

  /** e9: top 3-step paths — e7's transition matrix generalized to
    * higher order: every run of 3 consecutive event types in a user's
    * time-ordered stream (two lags over the SAME window — still ONE
    * user-key shuffle), counted corpus-wide, deterministic top-10
    * (count DESC, path ASC). The journey-discovery pass of product
    * analytics ("which 3-step paths dominate"), and the n-gram
    * counting shape on event alphabets.
    *
    * Scale: one user shuffle shared by both lags; the path aggregate's
    * key cardinality is |alphabet|³ (tiny); the global top-10 plans as
    * TakeOrderedAndProject — O(k) partial top-k per partition, never a
    * full sort.
    */
  def paths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("tus"))
      .withColumn("t1", lag($"event_type", 2).over(w))
      .withColumn("t2", lag($"event_type", 1).over(w))
      .filter($"t1".isNotNull)
      .select($"t1", $"t2", $"event_type".as("t3"))
      .groupBy($"t1", $"t2", $"t3")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"t1", $"t2", $"t3")
      .limit(10)
  }

  val pathsSql: String =
    """WITH o AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
      |p AS (SELECT event_type AS t3,
      |        lag(event_type, 1) OVER w AS t2,
      |        lag(event_type, 2) OVER w AS t1
      |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |f AS (SELECT t1, t2, t3 FROM p WHERE t1 IS NOT NULL)
      |SELECT t1, t2, t3, count(*) AS n
      |FROM f
      |GROUP BY t1, t2, t3
      |ORDER BY n DESC, t1, t2, t3
      |LIMIT 10""".stripMargin

  // ---------- e8: per-user exponentially weighted moving average ----------

  /** e8: EWMA over each user's time-ordered values — a RECURSIVE
    * per-key scan (s' = αx + (1-α)s), which no window frame can
    * express. Secondary-sort shape: ONE hash shuffle on the key, the
    * shuffle's own sort machinery orders (user, ts, event_id) within
    * partitions, and a streaming mapPartitions folds each contiguous
    * user run with O(1) state — no per-key array, so a hot key with
    * an unbounded history spills in the sort instead of OOMing the
    * fold (the earlier mapGroups formulation materialized
    * `it.toArray` per user). The fold order is pinned, so the float
    * recursion is sequential and identical in both engines — the
    * oracle folds the same ordered list with `list_reduce`. The
    * streaming surface runs the same recursion incrementally
    * (EventStreams.EwmaProcessor, s7) with one ValueState per user.
    */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("tus"), $"value")
      .repartition($"user_id")
      .sortWithinPartitions($"user_id", $"tus", $"event_id")
      .as[(Long, Long, Long, Double)]
      .mapPartitions { it =>
        val b = it.buffered
        new Iterator[(Long, Long, Double)] {
          def hasNext: Boolean = b.hasNext
          def next(): (Long, Long, Double) = {
            val uid = b.head._1
            var n = 0L
            var s = 0.0
            while (b.hasNext && b.head._1 == uid) {
              val e = b.next()
              s = if (n == 0) e._4 else 0.1 * e._4 + 0.9 * s
              n += 1
            }
            (uid, n, math.floor(s * 1e6 + 0.5) / 1e6)
          }
        }
      }
      .toDF("user_id", "n_events", "ewma")
      .orderBy($"user_id")
  }

  val ewmaSql: String =
    """WITH o AS (SELECT user_id, event_id, value, epoch_us(ts) AS tus FROM events),
      |l AS (SELECT user_id, list(value ORDER BY tus, event_id) AS vs
      |      FROM o GROUP BY user_id)
      |SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
      |  CAST(floor(list_reduce(vs, (acc, x) -> 0.1 * x + 0.9 * acc) * 1e6 + 0.5) AS BIGINT) / 1e6 AS ewma
      |FROM l
      |ORDER BY user_id""".stripMargin

  // ---------- e6: per-user z-score anomaly detection ----------

  /** e6: statistical outliers — events whose value is more than 2
    * standard deviations from the user's mean. Mean and variance come
    * from integerized sums (order-free, bitwise cross-engine; §8 of
    * SURVEY.md), computed with window aggregates: ONE shuffle on
    * user_id, no self-join. z itself is pure non-accumulating IEEE
    * arithmetic on identical doubles, quantized only at the output.
    */
  def anomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"value")
      .withColumn("c", floor($"value" * 1e2 + lit(0.5)).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("mean", (sum($"c").over(w) / $"n") / 1e2)
      .withColumn("m2", (sum($"c" * $"c").over(w) / $"n") / 1e4)
      .withColumn("variance", $"m2" - $"mean" * $"mean")
      .filter($"variance" > 0)
      .withColumn("z", (($"c" / 1e2) - $"mean") / sqrt($"variance"))
      .filter(abs($"z") > 2.0)
      .select($"user_id", $"event_id", (floor($"z" * 1e6 + lit(0.5)) / 1e6).as("z"))
      .orderBy($"user_id", $"event_id")
  }

  val anomalySql: String =
    """WITH b AS (SELECT user_id, event_id,
      |             CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS c FROM events),
      |s AS (SELECT user_id, event_id, c,
      |        count(*) OVER w AS n,
      |        CAST(sum(c) OVER w AS BIGINT) AS sc,
      |        CAST(sum(c * c) OVER w AS BIGINT) AS sc2
      |      FROM b WINDOW w AS (PARTITION BY user_id)),
      |v AS (SELECT user_id, event_id, c, (sc / n) / 1e2 AS mean,
      |        (sc2 / n) / 1e4 - ((sc / n) / 1e2) * ((sc / n) / 1e2) AS variance
      |      FROM s),
      |z AS (SELECT user_id, event_id,
      |        ((c / 1e2) - mean) / sqrt(variance) AS z
      |      FROM v WHERE variance > 0)
      |SELECT user_id, event_id, CAST(floor(z * 1e6 + 0.5) AS BIGINT) / 1e6 AS z
      |FROM z WHERE abs(z) > 2.0
      |ORDER BY user_id, event_id""".stripMargin

  // ---------- e11: row-pattern run detection (MATCH_RECOGNIZE-lite) ----------

  /** e11: sequence-pattern detection — the SQL:2016 MATCH_RECOGNIZE /
    * CEP capability class (Flink CEP, Snowflake/Oracle
    * MATCH_RECOGNIZE) that Spark SQL has no syntax for: find every
    * MAXIMAL run of strictly-increasing values per user and report
    * the runs long enough to matter (≥ 3 steps — the "A B+" pattern
    * with a length guard). Declarative formulation: one lag to mark
    * each row as continuing (value strictly above its predecessor) or
    * breaking, a running sum of the breaks as the run id (q24's
    * islands arithmetic at the VALUE-DIRECTION grain rather than the
    * id-gap or threshold grain), then one aggregate per run — start /
    * end times, step count, total gain. Values integerize to cents so
    * run boundaries and gains are exact in both engines; ordering is
    * total via the (tus, event_id) tiebreak.
    *
    * Scale: one user_id shuffle shared by the lag window, the
    * running-sum window and the aggregate; state per row is O(1) —
    * never a per-user buffer, never a self-join. Pattern depth (run
    * length) costs nothing: a million-event run is still the same
    * two windows.
    */
  def e11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("tus"),
        expr("CAST(floor(value * 1e2 + 0.5) AS BIGINT)").as("cents"))
      .withColumn("inc",
        when($"cents" > lag($"cents", 1).over(w), 1).otherwise(0))
      .withColumn("run_id", sum(lit(1) - $"inc").over(wRun))
      .groupBy($"user_id", $"run_id")
      // cents is strictly increasing along a run by construction
      // (every non-break row has cents > lag), so min/max ARE the
      // first/last values — no arg-min/max machinery needed
      .agg(min($"tus").as("start_us"), max($"tus").as("end_us"),
        sum($"inc").as("n_steps"),
        (max($"cents") - min($"cents")).as("gain_cents"))
      .filter($"n_steps" >= 3)
      .select($"user_id", $"start_us", $"end_us", $"n_steps", $"gain_cents")
      .transform(graft.Tables.ordered(_, $"user_id", $"start_us"))
  }

  /** e11 oracle: identical lag / break-sum / per-run aggregate; the
    * run's gain is plain max − min cents (exact BIGINT) — identical
    * to last-minus-first because a run is strictly increasing.
    */
  val e11Sql: String =
    """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
      |             CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
      |           FROM events),
      |m AS (SELECT user_id, event_id, tus, cents,
      |        CASE WHEN cents > lag(cents) OVER w THEN 1 ELSE 0 END AS inc
      |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |r AS (SELECT user_id, event_id, tus, cents, inc,
      |        CAST(sum(1 - inc) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
      |      FROM m),
      |g AS (SELECT user_id, run_id,
      |        CAST(min(tus) AS BIGINT) AS start_us,
      |        CAST(max(tus) AS BIGINT) AS end_us,
      |        CAST(sum(inc) AS BIGINT) AS n_steps,
      |        max(cents) - min(cents) AS gain_cents
      |      FROM r GROUP BY user_id, run_id)
      |SELECT user_id, start_us, end_us, n_steps, gain_cents
      |FROM g WHERE n_steps >= 3
      |ORDER BY user_id, start_us""".stripMargin

  // ---------- e12: last-touch attribution ----------

  /** Attribution lookback: a touch older than this at conversion
    * time gets credit 'none'.
    */
  private val e12LookbackUs: Long = 30L * 60L * 1000000L

  /** e12: LAST-TOUCH ATTRIBUTION — each purchase is credited to the
    * user's most recent preceding click/view (the standard marketing
    * attribution model), with a 30-minute lookback after which the
    * conversion is 'none'-attributed.
    *
    * Shape: the forward-fill idiom (w20's), not an inequality join —
    * one user-key window assigns every row its running touch count,
    * so a conversion's group number IS the sequence number of its
    * most recent preceding touch; an EQUALITY join on
    * (user_id, grp) then fetches that touch. Both the window and
    * the join hash on user_id, so the join reuses the window's
    * partitioning (one logical shuffle of the event stream); the
    * per-pair inequality join a naive as-of formulation would do is
    * never materialized. Ties (touch and purchase in the same
    * microsecond) order deterministically by (tus, event_id) in
    * both engines.
    */
  def e12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val base = Tables.events(spark, dir)
      .filter($"event_type".isin("click", "view", "purchase"))
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("tus"))
      .withColumn("is_touch", when($"event_type" =!= "purchase", 1L).otherwise(0L))
      .withColumn("grp",
        sum($"is_touch").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val convs = base.filter($"is_touch" === 0 && $"grp" > 0)
      .select($"user_id", $"event_id".as("conv_id"), $"tus".as("conv_us"), $"grp")
    val touches = base.filter($"is_touch" === 1)
      .select($"user_id", $"grp", $"event_id".as("touch_id"),
        $"event_type".as("touch_type"), $"tus".as("touch_us"))
    convs.join(touches, Seq("user_id", "grp"))
      .withColumn("lag_us", $"conv_us" - $"touch_us")
      .selectExpr("user_id", "conv_id", "conv_us",
        s"CASE WHEN lag_us <= $e12LookbackUs THEN touch_id END AS touch_id",
        s"CASE WHEN lag_us <= $e12LookbackUs THEN touch_type ELSE 'none' END AS touch_type",
        s"CASE WHEN lag_us <= $e12LookbackUs THEN lag_us END AS lag_us")
      .transform(graft.Tables.ordered(_, $"conv_id"))
  }

  /** e12 oracle: identical running-touch-count groups + equality
    * join; all comparisons on epoch_us.
    */
  val e12Sql: String =
    s"""WITH o AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
      |           FROM events
      |           WHERE event_type IN ('click', 'view', 'purchase')),
      |b AS (SELECT *, CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END AS is_touch
      |      FROM o),
      |g AS (SELECT *, CAST(sum(is_touch) OVER (PARTITION BY user_id
      |          ORDER BY tus, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp
      |      FROM b),
      |convs AS (SELECT user_id, event_id AS conv_id, tus AS conv_us, grp
      |          FROM g WHERE is_touch = 0 AND grp > 0),
      |touches AS (SELECT user_id, grp, event_id AS touch_id,
      |              event_type AS touch_type, tus AS touch_us
      |            FROM g WHERE is_touch = 1)
      |SELECT user_id, conv_id, conv_us,
      |  CASE WHEN conv_us - touch_us <= $e12LookbackUs THEN touch_id END AS touch_id,
      |  CASE WHEN conv_us - touch_us <= $e12LookbackUs THEN touch_type
      |       ELSE 'none' END AS touch_type,
      |  CASE WHEN conv_us - touch_us <= $e12LookbackUs
      |       THEN conv_us - touch_us END AS lag_us
      |FROM convs JOIN touches USING (user_id, grp)
      |ORDER BY conv_id""".stripMargin

  // ---------- e14: cohort lifetime value ----------

  /** e14: COHORT LIFETIME VALUE — e5's retention grid with the
    * MONETARY axis: per (first-active-day cohort, day offset),
    * purchase revenue in exact cents plus the running cumulative
    * (the LTV curve growth teams read next to retention counts;
    * e5 says who came back, e14 what they were worth by day k).
    *
    * Shape: cohort derivation is e5's (distinct days → min); revenue
    * is ONE (cohort, offset) aggregate of exact cents; the
    * cumulative rides a per-cohort window over ≤ 8 offset rows
    * (cohort-grain metadata, bounded by the window cap, never
    * user-grain). Cents integerization makes every sum and the
    * running total order-free and bitwise.
    */
  def e14(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .selectExpr("user_id", "event_type",
        // e5's absolute-day convention (not DOY — year-boundary safe)
        s"$dayExpr AS day",
        "CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents")
    val cohorts = ev.select($"user_id", $"day").distinct()
      .groupBy($"user_id").agg(min($"day").as("cohort"))
    val grid = ev.filter($"event_type" === "purchase")
      .join(cohorts, Seq("user_id"))
      .selectExpr("cohort", "day - cohort AS offset_days", "cents")
      .filter($"offset_days" <= 7)
      .groupBy($"cohort", $"offset_days")
      .agg(count(lit(1)).as("n_purchases"), sum($"cents").as("rev_cents"))
    val w = Window.partitionBy($"cohort").orderBy($"offset_days")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.withColumn("cum_rev_cents", sum($"rev_cents").over(w))
      .transform(graft.Tables.ordered(_, $"cohort", $"offset_days"))
  }

  /** e14 oracle: e5's cohort CTEs + exact-cents revenue and the same
    * bounded per-cohort running sum.
    */
  val e14Sql: String =
    """WITH e AS (SELECT user_id, event_type,
      |        datediff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS day,
      |        CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
      |      FROM events),
      |c AS (SELECT user_id, min(day) AS cohort
      |      FROM (SELECT DISTINCT user_id, day FROM e) GROUP BY user_id),
      |g AS (SELECT cohort, day - cohort AS offset_days,
      |        count(*) AS n_purchases,
      |        CAST(sum(cents) AS BIGINT) AS rev_cents
      |      FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND day - cohort <= 7
      |      GROUP BY 1, 2)
      |SELECT cohort, offset_days, n_purchases, rev_cents,
      |  CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY offset_days
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_cents
      |FROM g
      |ORDER BY cohort, offset_days""".stripMargin

  // ---------- e13: view→purchase conversion lag ----------

  /** e13: TIME-TO-CONVERT — for each user, the lag from their FIRST
    * view to their first purchase at-or-after it (the funnel-latency
    * metric next to e4's funnel counts: e4 says how many converted,
    * e13 says how fast). Users who never view, or never purchase
    * after their first view, do not convert and are excluded.
    *
    * Shape: ONE user_id exchange shared by two windows and the final
    * group-by (Catalyst plans no further shuffle once the stream is
    * hash-partitioned by user) — the conditional-min-over-window
    * idiom instead of the aggregate→self-join a naive two-pass
    * formulation would shuffle twice for. The second window's
    * predicate references the first window's result, so they are
    * sequential selects but share the single partitioning.
    */
  def e13(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
    Tables.events(spark, dir)
      // only these two types can affect either conditional min — the
      // filter rides the scan, shrinking the one shuffle ~60%
      .filter($"event_type".isin("view", "purchase"))
      .select($"user_id", $"event_type", unix_micros($"ts").as("tus"))
      .withColumn("first_view",
        min(when($"event_type" === "view", $"tus")).over(w))
      .withColumn("conv",
        min(when($"event_type" === "purchase" && $"tus" >= $"first_view",
          $"tus")).over(w))
      .groupBy($"user_id")
      .agg(max($"first_view").as("first_view_us"), max($"conv").as("conv_us"))
      .filter($"conv_us".isNotNull)
      .withColumn("lag_us", $"conv_us" - $"first_view_us")
      .transform(graft.Tables.ordered(_, $"user_id"))
  }

  /** e13 oracle: the two-pass aggregate formulation — ground truth
    * for the shared-window decomposition; all comparisons on
    * epoch_us.
    */
  val e13Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
      |v AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN tus END) AS first_view
      |      FROM e GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.tus) AS conv
      |      FROM e JOIN v ON v.user_id = e.user_id
      |      WHERE e.event_type = 'purchase' AND e.tus >= v.first_view
      |      GROUP BY e.user_id)
      |SELECT v.user_id, v.first_view AS first_view_us, c.conv AS conv_us,
      |  c.conv - v.first_view AS lag_us
      |FROM v JOIN c ON c.user_id = v.user_id
      |ORDER BY v.user_id""".stripMargin

  // ---------- e15: RFM segmentation ----------

  /** e15: RFM SEGMENTATION (Hughes 1994's recency/frequency/monetary
    * scoring — the standard behavioral user segmentation an event
    * pipeline feeds to retention/marketing logic): per purchasing
    * user, days since last purchase (vs the corpus' latest day),
    * purchase count and exact-cents spend, each quintile-scored 1-5
    * (5 best) via HISTOGRAM-SKETCH THRESHOLDS (q34's HistQ shape at
    * the 200/400/600/800 permilles) and CASE-mapped to the canonical
    * segments (champion / loyal / big_spender / at_risk / lost /
    * other).
    *
    * Scoring: each axis maps to a 256-cell equi-width bucket index
    * (width = max div 256 + 1, so every value lands in [0, 255]);
    * the quintile thresholds are the first buckets whose cumulative
    * count reaches each permille rank (HistQ.locate's rule), and a
    * user's score is 1 + the number of thresholds its bucket
    * strictly exceeds (recency inverts: fresher = higher). This is
    * the one-bucket-rank-guarantee quantile estimate — at least
    * q permille of users score ≤ the q threshold's level on every
    * axis (RelationalSpec proves it) — replacing round-9's exact
    * global ntile, whose unpartitioned window was the suite's one
    * plan that could not survive user grain at 100 TB.
    *
    * Determinism: all metrics are exact integers (e14's absolute-day
    * and cents conventions, all ≥ 0 so integral div is truncation ==
    * floor in both engines, §8.39); bucketing, cumulative ranks and
    * score comparisons are pure BIGINT — bitwise across engines.
    *
    * Scale shape: events reduce to USER GRAIN in one map-side-
    * combined aggregate (cached — widths, histograms and scoring
    * share the single materialization); the three per-axis
    * histograms ride ONE exchange of id-free (axis, bucket) pairs
    * collapsing to ≤ 768 rows; cumulative windows run PARTITIONED BY
    * AXIS over that metadata grain; the 12 thresholds and the
    * per-axis widths come back as 1-row broadcasts. No unpartitioned
    * window anywhere (PlanSpec pins it) — user-grain rows never
    * cross a SinglePartition exchange, so the plan holds at 10⁹
    * users unchanged.
    */
  def e15(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .selectExpr("user_id", "event_type", s"$dayExpr AS day",
        "CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents")
    val maxDay = ev.agg(max($"day").as("max_day"))
    val users = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(max($"day").as("last_day"), count(lit(1)).as("freq"),
        sum($"cents").as("cents"))
      .crossJoin(broadcast(maxDay))
      .selectExpr("user_id", "max_day - last_day AS recency_days",
        "freq", "cents")
      .cache()
    // per-axis widths: ONE 1-row aggregate → broadcast (g2's idiom)
    val widths = users
      .agg(max($"recency_days").as("mr"), max($"freq").as("mf"),
        max($"cents").as("mm"))
      .selectExpr(
        "(greatest(CAST(0 AS BIGINT), mr) div 256) + 1 AS wr",
        "(greatest(CAST(0 AS BIGINT), mf) div 256) + 1 AS wf",
        "(greatest(CAST(0 AS BIGINT), mm) div 256) + 1 AS wm")
    val bucketed = users.crossJoin(broadcast(widths))
      .selectExpr("user_id", "recency_days", "freq", "cents",
        "least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT), recency_days) div wr) AS br",
        "least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT), freq) div wf) AS bf",
        "least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT), cents) div wm) AS bm")
    // all three histograms in ONE id-free exchange: 3 (axis, bucket)
    // pairs per user collapse map-side to ≤ 768 rows
    val hist = bucketed
      .selectExpr("stack(3, 0, br, 1, bf, 2, bm) AS (axis, bucket)")
      .groupBy($"axis", $"bucket").agg(count(lit(1)).as("cnt"))
    val wAxis = Window.partitionBy($"axis").orderBy($"bucket")
    val cum = hist
      .withColumn("cum", sum($"cnt").over(
        wAxis.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("tot", sum($"cnt").over(
        wAxis.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val qdf = spark.createDataFrame(Seq(200, 400, 600, 800).map(Tuple1(_)))
      .toDF("q")
    // located threshold bucket per (axis, permille), pivoted by
    // conditional aggregation to ONE 12-column broadcast row
    val th = cum.crossJoin(broadcast(qdf))
      .filter($"cum" * 1000 >= $"q" * $"tot")
      .groupBy($"axis", $"q").agg(min($"bucket").as("tb"))
      .groupBy()
      .agg(
        max(when($"axis" === 0 && $"q" === 200, $"tb")).as("r1"),
        max(when($"axis" === 0 && $"q" === 400, $"tb")).as("r2"),
        max(when($"axis" === 0 && $"q" === 600, $"tb")).as("r3"),
        max(when($"axis" === 0 && $"q" === 800, $"tb")).as("r4"),
        max(when($"axis" === 1 && $"q" === 200, $"tb")).as("f1"),
        max(when($"axis" === 1 && $"q" === 400, $"tb")).as("f2"),
        max(when($"axis" === 1 && $"q" === 600, $"tb")).as("f3"),
        max(when($"axis" === 1 && $"q" === 800, $"tb")).as("f4"),
        max(when($"axis" === 2 && $"q" === 200, $"tb")).as("m1"),
        max(when($"axis" === 2 && $"q" === 400, $"tb")).as("m2"),
        max(when($"axis" === 2 && $"q" === 600, $"tb")).as("m3"),
        max(when($"axis" === 2 && $"q" === 800, $"tb")).as("m4"))
    bucketed.crossJoin(broadcast(th))
      .selectExpr("user_id", "recency_days", "freq", "cents",
        // recency inverts: low recency (fresh) = few thresholds below = high score
        "CAST(5 - (CAST(br > r1 AS INT) + CAST(br > r2 AS INT) + CAST(br > r3 AS INT) + CAST(br > r4 AS INT)) AS BIGINT) AS r_score",
        "CAST(1 + (CAST(bf > f1 AS INT) + CAST(bf > f2 AS INT) + CAST(bf > f3 AS INT) + CAST(bf > f4 AS INT)) AS BIGINT) AS f_score",
        "CAST(1 + (CAST(bm > m1 AS INT) + CAST(bm > m2 AS INT) + CAST(bm > m3 AS INT) + CAST(bm > m4 AS INT)) AS BIGINT) AS m_score")
      .selectExpr("user_id", "recency_days", "freq", "cents",
        "r_score", "f_score", "m_score",
        """CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
          |     WHEN f_score >= 4 THEN 'loyal'
          |     WHEN m_score >= 4 THEN 'big_spender'
          |     WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
          |     WHEN r_score = 1 AND f_score <= 2 THEN 'lost'
          |     ELSE 'other' END AS segment""".stripMargin)
      .transform(graft.Tables.ordered(_, $"user_id"))
  }

  /** e15 oracle: identical integer metrics, 256-bucket widths,
    * permille threshold location and score comparisons. `u` and `b`
    * are MATERIALIZED — both feed multiple consumers (§8.38).
    */
  val e15Sql: String =
    """WITH e AS (SELECT user_id, event_type,
      |        datediff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS day,
      |        CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
      |      FROM events),
      |md AS (SELECT max(day) AS max_day FROM e),
      |u AS MATERIALIZED (SELECT user_id,
      |        CAST(max_day - max(day) AS BIGINT) AS recency_days,
      |        CAST(count(*) AS BIGINT) AS freq,
      |        CAST(sum(cents) AS BIGINT) AS cents
      |      FROM e, md WHERE event_type = 'purchase'
      |      GROUP BY user_id, max_day),
      |w AS (SELECT (greatest(CAST(0 AS BIGINT), max(recency_days)) // 256) + 1 AS wr,
      |        (greatest(CAST(0 AS BIGINT), max(freq)) // 256) + 1 AS wf,
      |        (greatest(CAST(0 AS BIGINT), max(cents)) // 256) + 1 AS wm
      |      FROM u),
      |b AS MATERIALIZED (SELECT user_id, recency_days, freq, cents,
      |        least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT), recency_days) // wr) AS br,
      |        least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT), freq) // wf) AS bf,
      |        least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT), cents) // wm) AS bm
      |      FROM u, w),
      |h AS (SELECT axis, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
      |        SELECT 0 AS axis, br AS bucket FROM b
      |        UNION ALL SELECT 1, bf FROM b
      |        UNION ALL SELECT 2, bm FROM b)
      |      GROUP BY axis, bucket),
      |c AS (SELECT axis, bucket, cnt,
      |        CAST(sum(cnt) OVER (PARTITION BY axis ORDER BY bucket) AS BIGINT) AS cum,
      |        CAST(sum(cnt) OVER (PARTITION BY axis) AS BIGINT) AS tot
      |      FROM h),
      |qs AS (SELECT * FROM (VALUES (200), (400), (600), (800)) AS t(q)),
      |loc AS (SELECT axis, q, min(bucket) AS tb
      |        FROM c CROSS JOIN qs WHERE cum * 1000 >= q * tot
      |        GROUP BY axis, q),
      |th AS (SELECT
      |        max(CASE WHEN axis = 0 AND q = 200 THEN tb END) AS r1,
      |        max(CASE WHEN axis = 0 AND q = 400 THEN tb END) AS r2,
      |        max(CASE WHEN axis = 0 AND q = 600 THEN tb END) AS r3,
      |        max(CASE WHEN axis = 0 AND q = 800 THEN tb END) AS r4,
      |        max(CASE WHEN axis = 1 AND q = 200 THEN tb END) AS f1,
      |        max(CASE WHEN axis = 1 AND q = 400 THEN tb END) AS f2,
      |        max(CASE WHEN axis = 1 AND q = 600 THEN tb END) AS f3,
      |        max(CASE WHEN axis = 1 AND q = 800 THEN tb END) AS f4,
      |        max(CASE WHEN axis = 2 AND q = 200 THEN tb END) AS m1,
      |        max(CASE WHEN axis = 2 AND q = 400 THEN tb END) AS m2,
      |        max(CASE WHEN axis = 2 AND q = 600 THEN tb END) AS m3,
      |        max(CASE WHEN axis = 2 AND q = 800 THEN tb END) AS m4
      |      FROM loc),
      |sc AS (SELECT user_id, recency_days, freq, cents,
      |        CAST(5 - (CAST(br > r1 AS INT) + CAST(br > r2 AS INT) + CAST(br > r3 AS INT) + CAST(br > r4 AS INT)) AS BIGINT) AS r_score,
      |        CAST(1 + (CAST(bf > f1 AS INT) + CAST(bf > f2 AS INT) + CAST(bf > f3 AS INT) + CAST(bf > f4 AS INT)) AS BIGINT) AS f_score,
      |        CAST(1 + (CAST(bm > m1 AS INT) + CAST(bm > m2 AS INT) + CAST(bm > m3 AS INT) + CAST(bm > m4 AS INT)) AS BIGINT) AS m_score
      |      FROM b, th)
      |SELECT user_id, recency_days, freq, cents,
      |  r_score, f_score, m_score,
      |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
      |       WHEN f_score >= 4 THEN 'loyal'
      |       WHEN m_score >= 4 THEN 'big_spender'
      |       WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
      |       WHEN r_score = 1 AND f_score <= 2 THEN 'lost'
      |       ELSE 'other' END AS segment
      |FROM sc
      |ORDER BY user_id""".stripMargin

  // ---------- e16: inter-event burstiness (bot/automation signal) ----------

  /** e16: BURSTINESS of each user's inter-event gaps — the index of
    * dispersion (variance-to-mean ratio; Cox & Lewis 1966) of the
    * per-user gap sequence, the classic traffic-shape signal a
    * training-data pipeline reads to separate human activity
    * (bursty: gap variance ≫ gap mean, D large; a Poisson stream
    * sits near D ≈ mean) from machine-generated streams
    * (near-constant intervals, D → 0) before user-generated text
    * enters a corpus.
    *
    * Gap grain is SECONDS (epoch-second floor — the µs grain would
    * overflow the exact second moment: span² must stay ≪ 2⁶³).
    * Everything up to the last step is exact BIGINT: gaps, n, Σg,
    * Σg²; the reported dispersion is ONE IEEE division of the exact
    * numerator n·Σg² − (Σg)² by the exact n·Σg (the g11 discipline
    * — algebraically the population variance-to-mean ratio). Users
    * need ≥ 5 gaps and a positive span to be scored (below that the
    * statistic is noise; all-same-second streams are excluded by
    * sum_gap > 0).
    *
    * Scale shape: the lag window and the aggregate share ONE
    * user-key exchange (the e-family contract); output is user
    * grain. Overflow bound: n·Σg² ≤ n·span·max_gap — at any
    * realistic per-user event density (seconds-grain gaps over
    * months) this sits orders below 2⁶³; a pipeline with years-long
    * spans per key quantizes gaps to minutes first.
    */
  def e16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"s", $"event_id")
    Tables.events(spark, dir)
      .selectExpr("user_id", "event_id", "unix_micros(ts) div 1000000 AS s")
      .withColumn("gap", $"s" - lag($"s", 1).over(w))
      .filter($"gap".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum($"gap").as("sum_gap"),
        sum($"gap" * $"gap").as("sum_gap2"))
      .filter($"n_gaps" >= 5 && $"sum_gap" > 0)
      .selectExpr("user_id", "n_gaps", "sum_gap", "sum_gap2",
        "CAST(n_gaps * sum_gap2 - sum_gap * sum_gap AS DOUBLE) " +
          "/ CAST(n_gaps * sum_gap AS DOUBLE) AS dispersion")
      .transform(graft.Tables.ordered(_, $"user_id"))
  }

  /** e16 oracle: identical second-grain gaps, exact moments, one
    * division.
    */
  val e16Sql: String =
    """WITH ev AS (SELECT user_id, event_id,
      |        epoch_us(ts) // 1000000 AS s FROM events),
      |g AS (SELECT user_id,
      |        s - lag(s) OVER (PARTITION BY user_id ORDER BY s, event_id) AS gap
      |      FROM ev),
      |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
      |        CAST(sum(gap) AS BIGINT) AS sum_gap,
      |        CAST(sum(gap * gap) AS BIGINT) AS sum_gap2
      |      FROM g WHERE gap IS NOT NULL
      |      GROUP BY user_id)
      |SELECT user_id, n_gaps, sum_gap, sum_gap2,
      |  CAST(n_gaps * sum_gap2 - sum_gap * sum_gap AS DOUBLE)
      |    / CAST(n_gaps * sum_gap AS DOUBLE) AS dispersion
      |FROM a
      |WHERE n_gaps >= 5 AND sum_gap > 0
      |ORDER BY user_id""".stripMargin

  // ---------- e17: hour-of-day seasonality profile ----------

  /** e17: SEASONALITY PROFILE — the hour-of-day traffic/value index
    * (ratio-to-overall, the classical ratio-to-moving-average
    * seasonal index at daily period) an event pipeline reads for
    * capacity planning, anomaly-baseline normalization (e6's z-score
    * against the RIGHT mean) and bot forensics (machine traffic is
    * flat across hours; e16 scores per user, e17 profiles the
    * corpus). Per UTC hour-of-day: event count, exact-cents value,
    * and two indexes scaled ×10⁶ — (share of hour h) / (uniform
    * 1/24), for traffic and for value.
    *
    * Hour-of-day derives from epoch arithmetic ((µs div 3.6e9) mod
    * 24), NOT from `hour()` — pure integers, no calendar/zone
    * machinery in either engine. Both indexes are non-negative, so
    * integral `div` is safe (§8.39's bound documented: counts and
    * cents are ≥ 0). One map-side-combined 24-row aggregate; totals
    * ride a 1-row broadcast (the g5 idiom).
    */
  def e17(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, dir)
      .selectExpr("(unix_micros(ts) div 3600000000) % 24 AS hod",
        "CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents")
      .groupBy($"hod")
      .agg(count(lit(1)).as("n_events"), sum($"cents").as("cents"))
    val tot = hourly.agg(sum($"n_events").as("tot_n"), sum($"cents").as("tot_c"))
    hourly.crossJoin(broadcast(tot))
      .selectExpr("hod", "n_events", "cents",
        "(n_events * 24 * 1000000) div tot_n AS traffic_index_micro",
        "(cents * 24 * 1000000) div tot_c AS value_index_micro")
      .transform(graft.Tables.ordered(_, $"hod"))
  }

  // ---------- e18: inter-purchase hazard curve ----------

  /** e18: PURCHASE HAZARD CURVE — the discrete time-to-event
    * analysis (the Kaplan–Meier/life-table estimator's hazard
    * column, Kaplan & Meier 1958) over inter-purchase gaps: for
    * each gap length g (days between a user's consecutive purchase
    * days), how many intervals ENDED at exactly g (events) out of
    * those that REACHED g (at-risk), hazard = events/at-risk — the
    * repurchase-timing curve a retention pipeline reads to place
    * win-back interventions (where the hazard drops, customers have
    * gone cold). Grain: distinct purchase DAYS per user (e14's
    * absolute-day convention), gaps from one lag window.
    *
    * Exactness: gaps, counts and the suffix-cumulative at-risk are
    * BIGINTs; hazard is a non-negative integral permille division
    * (§8.39). The at-risk suffix sum runs on the GAP-VALUE grain
    * (≤ observed-gap-range rows, bounded by the fixture's ~30-day
    * span — HistQ's metadata-grain window class), never on user or
    * event grain.
    *
    * Scale shape: ONE user-key exchange shared by the distinct and
    * the lag window (the e-family contract), then a gap-value
    * aggregate (map-side combined, ≤ range rows) and the bounded
    * suffix window. At 10⁹ users the curve costs the purchase scan
    * plus a ≤ few-hundred-row reduction.
    */
  def e18(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val gaps = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .selectExpr("user_id", s"$dayExpr AS day")
      .distinct()
      .withColumn("gap", $"day" - lag($"day", 1).over(w))
      .filter($"gap".isNotNull)
    val byGap = gaps.groupBy($"gap").agg(count(lit(1)).as("n_events"))
    e18Report(byGap)
  }

  /** e18's report stage over a (gap, n_events) count table — shared
    * verbatim with the streaming twin (s29), the s27/dq2 contract:
    * the gap histogram is a mergeable sketch, so wherever the counts
    * come from (one batch lag window or per-user streaming state),
    * the same suffix at-risk + hazard algebra lands the same curve.
    */
  private[graft] def e18Report(byGap: DataFrame): DataFrame = {
    import byGap.sparkSession.implicits._
    val ws = Window.orderBy($"gap") // gap-value grain: ≤ ~30 rows
    byGap
      .withColumn("n_at_risk", sum($"n_events").over(
        ws.rowsBetween(0, Window.unboundedFollowing)))
      .selectExpr("gap AS gap_day", "n_events", "n_at_risk",
        "(n_events * 1000) div n_at_risk AS hazard_permille")
      .transform(graft.Tables.ordered(_, $"gap_day"))
  }

  /** e18 oracle: identical day grain, lag gaps, gap-value counts,
    * suffix at-risk and permille hazard.
    */
  val e18Sql: String =
    """WITH p AS (SELECT DISTINCT user_id,
      |        datediff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS day
      |      FROM events WHERE event_type = 'purchase'),
      |g AS (SELECT user_id,
      |        day - lag(day) OVER (PARTITION BY user_id ORDER BY day) AS gap
      |      FROM p),
      |c AS (SELECT CAST(gap AS BIGINT) AS gap, CAST(count(*) AS BIGINT) AS n_events
      |      FROM g WHERE gap IS NOT NULL GROUP BY gap)
      |SELECT gap AS gap_day, n_events,
      |  CAST(sum(n_events) OVER (ORDER BY gap ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_at_risk,
      |  (n_events * 1000) // CAST(sum(n_events) OVER (ORDER BY gap ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS hazard_permille
      |FROM c
      |ORDER BY gap_day""".stripMargin


  // ---------- e22: Kaplan–Meier survival curve ----------

  /** e22: KAPLAN–MEIER SURVIVAL CURVE with right-censoring (Kaplan
    * & Meier 1958) over inter-purchase gaps — the estimator whose
    * hazard column e18 computes, completed with the piece that
    * makes it the PUBLISHED estimator: CENSORED intervals. Every
    * user's OPEN last interval (last purchase → the global
    * observation horizon) has produced no event yet but was at
    * risk the whole time; dropping it (what a naive empirical
    * survival over completed gaps does) biases survival LOW —
    * handling it is the entire reason KM exists. Per event time t
    * (a distinct completed-gap length): d_t = intervals ending at
    * exactly t, n_t = intervals (completed OR censored) of length
    * ≥ t, and S(t) = Π_{t'≤t} (n_t' − d_t')/n_t'.
    *
    * Exactness: the product is evaluated as the INTEGER recurrence
    * s ← (s · (n_t − d_t)) div n_t from s = 10⁶ — one floor per
    * step on non-negative operands (§8.39), bitwise in both
    * engines (the oracle runs the same recurrence as a recursive
    * CTE; no IEEE products, no exp/ln). s·n ≤ 10⁶·#intervals stays
    * far inside BIGINT at any corpus size.
    *
    * Scale shape: one user-key exchange (distinct + lag, e18's
    * contract) + one 1-row horizon aggregate; everything after
    * lives on the GAP-VALUE grain (≤ observed day span — HistQ's
    * metadata-grain class). The final recurrence folds over that
    * bounded step table on the driver (the e20/dq6 bounded-
    * metadata class — ≤ span rows regardless of corpus size).
    */
  def e22(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val p = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .selectExpr("user_id", s"$dayExpr AS day")
      .distinct().cache()
    val gaps = p.withColumn("gap", $"day" - lag($"day", 1).over(w))
      .filter($"gap".isNotNull)
    val horizon = p.agg(max($"day")).collect()(0).getLong(0) // 1-row scalar
    val byGap = gaps.groupBy($"gap".as("len"))
      .agg(count(lit(1)).as("d")).withColumn("c", lit(0L))
    val byCens = p.groupBy($"user_id").agg(max($"day").as("last_day"))
      .selectExpr(s"$horizon - last_day AS len")
      .groupBy($"len").agg(count(lit(1)).as("c")).withColumn("d", lit(0L))
    val ws = Window.orderBy($"len") // gap-value grain: ≤ span rows
    val steps = byGap.unionByName(byCens.select($"len", $"d", $"c"))
      .groupBy($"len").agg(sum($"d").as("d"), sum($"c").as("c"))
      .withColumn("n_at_risk", sum($"d" + $"c").over(
        ws.rowsBetween(0, Window.unboundedFollowing)))
      .filter($"d" > 0)
      .select($"len", $"d", $"n_at_risk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var s = 1000000L
    val out = steps.map { case (t, d, n) =>
      s = s * (n - d) / n
      (t, d, n, s)
    }
    out.toSeq.toDF("gap_day", "n_events", "n_at_risk", "surv_micro")
      .transform(graft.Tables.ordered(_, $"gap_day"))
  }

  /** e22 oracle: identical interval construction (completed gaps +
    * per-user censored tail to the global horizon), gap-value risk
    * sets, and the SAME integer survival recurrence as a recursive
    * CTE. */
  val e22Sql: String =
    """WITH RECURSIVE p AS (SELECT DISTINCT user_id,
      |        datediff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS day
      |      FROM events WHERE event_type = 'purchase'),
      |g AS (SELECT user_id,
      |        day - lag(day) OVER (PARTITION BY user_id ORDER BY day) AS gap
      |      FROM p),
      |bg AS (SELECT CAST(gap AS BIGINT) AS len, CAST(count(*) AS BIGINT) AS d,
      |        CAST(0 AS BIGINT) AS c
      |      FROM g WHERE gap IS NOT NULL GROUP BY 1),
      |h AS (SELECT max(day) AS horizon FROM p),
      |lastp AS (SELECT user_id, max(day) AS last_day FROM p GROUP BY 1),
      |bc AS (SELECT CAST(horizon - last_day AS BIGINT) AS len,
      |        CAST(0 AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS c
      |      FROM lastp, h GROUP BY 1),
      |al AS (SELECT len, CAST(sum(d) AS BIGINT) AS d, CAST(sum(c) AS BIGINT) AS c
      |      FROM (SELECT * FROM bg UNION ALL SELECT * FROM bc) GROUP BY 1),
      |ev AS (SELECT len, d,
      |        CAST(sum(d + c) OVER (ORDER BY len
      |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_at_risk
      |      FROM al QUALIFY d > 0),
      |steps AS (SELECT len, d, n_at_risk,
      |        row_number() OVER (ORDER BY len) AS rn FROM ev),
      |km AS (SELECT CAST(0 AS BIGINT) AS rn, CAST(1000000 AS BIGINT) AS surv
      |      UNION ALL
      |      SELECT s.rn, (k.surv * (s.n_at_risk - s.d)) // s.n_at_risk
      |      FROM km k JOIN steps s ON s.rn = k.rn + 1)
      |SELECT s.len AS gap_day, s.d AS n_events, s.n_at_risk, k.surv AS surv_micro
      |FROM steps s JOIN km k ON k.rn = s.rn
      |ORDER BY gap_day""".stripMargin

  // ---------- e19: Markov stationary distribution ----------

  private val e19Rounds = 12

  /** e19: MARKOV STATIONARY DISTRIBUTION — the long-run occupancy
    * of e7's first-order behavior chain (power iteration on the
    * row-stochastic transition matrix; the PageRank recursion on
    * the ≤|event-types| behavioral state space): where a user
    * session settles if it ran forever — the steady-state mix a
    * capacity/recommendation model reads off the transition model.
    * Fully integer (the g1 discipline): mass in micro-units,
    * each edge moves (mass·n) div rowsum (both operands
    * non-negative, §8.39), truncation drains ≤ |states|²/2 micro
    * per round — bounded and identical in both engines, so the
    * fixpoint is bitwise. [[e19Rounds]] synchronous rounds (the
    * chain is dense — 5 states, mixing time ≪ 12; spec pins
    * convergence: last two rounds equal).
    *
    * Scale shape: the transition matrix is a ≤|types|²-row
    * METADATA table (one user-key window pass to build — e7's
    * exchange) and every round is a ≤36-row join — the w24
    * bounded-output class; at 10¹² events the iteration costs the
    * same 12 micro-joins.
    */
  def e19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val pairs = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("tus"))
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
    e19Stationary(pairs.groupBy($"prev_type", $"event_type")
      .agg(count(lit(1)).as("n")))
  }

  /** e19's power iteration over a (prev_type, event_type, n)
    * transition-count table — shared verbatim with the streaming
    * twin (s33): the count matrix is algebraic (merge = sum), so
    * wherever the counts come from (one batch lag window or
    * per-user streaming state), the same 12 rounds land the same
    * fixpoint.
    */
  private[graft] def e19Stationary(counts: DataFrame,
      localMax: Long = Bounded.smallBudget): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    // The transition matrix is ≤ |event-types|²-row METADATA on any
    // WELL-BEHAVED corpus (the Scaladoc's own scale argument) —
    // running the 12 rounds as distributed jobs paid 12 checkpoint
    // job latencies over ≤ 36 rows (and the streaming twin s33 paid
    // them PER MICRO-BATCH). But the bound is data-dependent
    // (distinct event_type values come from the corpus), so the
    // local path is GATED like every other bounded-local twin
    // (ccStars/louvain/g26): one corpus-scale pass lands the matrix
    // in a checkpoint, [[Bounded.collect]] delivers it, and an
    // over-gate matrix falls back to the distributed round loop —
    // identical BIGINT arithmetic either way (round 19; guide §1.2 +
    // §5 bounded collect).
    val m = counts
      .withColumn("rowsum", sum($"n").over(Window.partitionBy($"prev_type")))
      .select($"prev_type", $"event_type", $"n", $"rowsum")
      .localCheckpoint()
    val local = Bounded.collect(m.as[(String, String, Long, Long)], localMax)
    if (local.isDefined) {
      val mRows = local.get
      graft.functions.Lineage.freeCheckpoint(m)
      val states = mRows.map(_._1).distinct
      val nStates = states.length.toLong
      var pi: Map[String, Long] = states.map(_ -> 1000000L / nStates).toMap
      (1 to e19Rounds).foreach { _ =>
        // mirror of the old per-round inner join: only rows whose
        // prev_type currently carries mass contribute; the key set of
        // `pi` may grow/shrink across rounds exactly as the join's did
        pi = mRows.filter(r => pi.contains(r._1))
          .groupBy(_._2).map { case (state, rows) =>
            state -> rows.map { case (prev, _, n, rowsum) =>
              (pi(prev) * n) / rowsum
            }.sum
          }
      }
      val nOut = mRows.groupBy(_._1).map { case (s, rows) =>
        s -> rows.length.toLong
      }
      val out = pi.toSeq.collect { case (s, mass) if nOut.contains(s) =>
        (s, mass, nOut(s))
      }
      out.toDF("event_type", "pi_micro", "n_out")
        .transform(graft.Tables.ordered(_, $"event_type"))
    } else {
      // distributed fallback — the pre-gate round loop, verbatim:
      // same per-round inner join + integral mass moves, so the
      // fixpoint is bitwise the local path's on any input
      val states = m.select($"prev_type".as("state")).distinct()
      val nStates = states.count()
      var pi = states
        .selectExpr("state", s"CAST(1000000 div $nStates AS BIGINT) AS mass")
        .localCheckpoint()
      (1 to e19Rounds).foreach { _ =>
        val next = m.join(pi.withColumnRenamed("state", "prev_type"), Seq("prev_type"))
          .selectExpr("event_type AS state", "(mass * n) div rowsum AS part")
          .groupBy($"state").agg(sum($"part").as("mass"))
          .localCheckpoint()
        graft.functions.Lineage.freeCheckpoint(pi)
        pi = next
      }
      pi.join(m.groupBy($"prev_type".as("state")).agg(count(lit(1)).as("n_out")),
          Seq("state"))
        .selectExpr("state AS event_type", "mass AS pi_micro", "n_out")
        .transform(graft.Tables.ordered(_, $"event_type"))
    }
  }

  /** e19 oracle: e7's pair CTEs + the matrix and the 12 rounds
    * unrolled with identical integral-division mass moves.
    */
  val e19Sql: String = {
    val rounds = (1 to e19Rounds).map { r =>
      val p = r - 1
      s"""p$r AS MATERIALIZED (SELECT m.event_type AS state,
         |        CAST(sum((p.mass * m.n) // m.rowsum) AS BIGINT) AS mass
         |      FROM m JOIN p$p p ON p.state = m.prev_type GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH o AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
      |pr AS (SELECT event_type,
      |        lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev_type
      |      FROM o),
      |f AS (SELECT prev_type, event_type FROM pr WHERE prev_type IS NOT NULL),
      |m AS MATERIALIZED (SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(count(*)) OVER (PARTITION BY prev_type) AS BIGINT) AS rowsum
      |      FROM f GROUP BY 1, 2),
      |st AS (SELECT DISTINCT prev_type AS state FROM m),
      |ns AS (SELECT count(*) AS n FROM st),
      |p0 AS (SELECT state, CAST(1000000 // ns.n AS BIGINT) AS mass FROM st, ns),
      |$rounds
      |SELECT p.state AS event_type, p.mass AS pi_micro,
      |  CAST(oc.n_out AS BIGINT) AS n_out
      |FROM p$e19Rounds p
      |JOIN (SELECT prev_type AS state, count(*) AS n_out FROM m GROUP BY 1) oc
      |  ON oc.state = p.state
      |ORDER BY event_type""".stripMargin
  }

  // ---------- e20: Markov removal-effect attribution ----------

  private val e20Rounds = 24
  private val e20Channels = Seq("click", "error", "signup", "view")

  /** The journey transition counts e20 attributes over: per user,
    * events ordered to the FIRST purchase (the absorbing
    * conversion), START prepended, NULL appended to non-converting
    * journeys — the standard first-conversion Markov graph.
    */
  private def e20Matrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("tus"))
      .withColumn("rn", row_number().over(w))
    val pmin = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(min($"rn").as("pmin"))
    val kept = ev.join(pmin, Seq("user_id"), "left_outer")
      .filter($"pmin".isNull || $"rn" <= $"pmin")
      .withColumn("nxt", lead($"event_type", 1).over(w))
      .localCheckpoint()
    val inner = kept.filter($"nxt".isNotNull)
      .select($"event_type".as("s"), $"nxt".as("t"))
    val start = kept.filter($"rn" === 1)
      .select(lit("START").as("s"), $"event_type".as("t"))
    val fin = kept.filter($"nxt".isNull && $"event_type" =!= "purchase")
      .select($"event_type".as("s"), lit("NULL").as("t"))
    inner.unionByName(start).unionByName(fin)
      .groupBy($"s", $"t").agg(count(lit(1)).as("n"))
  }

  /** e20: MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl, Becker, von
    * Wangenheim & Schumann 2016 — the data-driven multi-touch
    * attribution model): which channel actually DRIVES conversion?
    * For each channel c, remove it from the journey chain
    * (transitions into c fail to NULL) and measure how much the
    * absorption probability into conversion drops — removal
    * effect RE(c) = 1 − P₋c(conv)/P(conv); attribution shares
    * normalize the REs. Beats e12's last-touch heuristic by
    * crediting assist channels. Absorption probabilities come
    * from [[e20Rounds]] synchronous rounds of the absorbing-chain
    * recursion x_s = Σ_t P(s→t)·x_t with x(purchase) = 1,
    * x(NULL) = 0, in exact micro-integers (per-edge (x·n) div
    * rowsum moves, §8.39 — e19's discipline; the chain is
    * absorbing, so 24 rounds converge far past micro precision,
    * spec-pinned). All five scenarios (full + 4 removals) iterate
    * TOGETHER as one (scenario, state) keyed table.
    *
    * Scale shape: one user-key window pass builds the journey
    * matrix (≤ (|channels|+2)² rows — metadata); scenario
    * expansion ×5 and every round's join stay on that grain — at
    * 10¹² events attribution costs the journey scan plus 24
    * micro-joins (the e19 argument).
    */
  def e20(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = e20Matrix(spark, dir).localCheckpoint()
    val scens = ("none" +: e20Channels).toDF("scen")
    val m = base.crossJoin(scens)
      .selectExpr("scen", "s",
        "CASE WHEN t = scen THEN 'NULL' ELSE t END AS t", "n")
      .groupBy($"scen", $"s", $"t").agg(sum($"n").as("n"))
      .withColumn("rowsum", sum($"n").over(Window.partitionBy($"scen", $"s")))
      .localCheckpoint()
    // The scenario matrix `m` is corpus-size-INDEPENDENT metadata on
    // any WELL-BEHAVED corpus: ≤ (|channels|+1) · (|channels|+2)²
    // rows (~180 here) at ANY event count — but the state set is
    // data-dependent (event_type values come from the corpus), so
    // the local path is GATED like every other bounded-local twin
    // (ccStars/louvain/g26; round 19): [[Bounded.collect]] delivers
    // the rows, and an over-gate matrix falls back to the
    // distributed absorbing-chain loop.
    // Running the 24 rounds as distributed jobs paid 24 checkpoint
    // job latencies over ≤ 180 rows for zero distribution win
    // (guide §1.2: the distributed algorithm first — don't
    // distribute what isn't data-scale); under the gate, iterate on
    // the driver in the SAME exact BIGINT arithmetic (Long div ==
    // SQL div on the non-negative values here; integer sums are
    // order-free) and ship the solved vector back as a local frame.
    // The corpus-scale work — the journey window pass building
    // `base` — stays distributed either way.
    e20Attr(m, scens)
  }

  /** e20's gated absorbing-chain solve over an already-checkpointed
    * scenario matrix — factored so the spec can drive both paths
    * (localMax < 0 forces the distributed loop) on one input. */
  private[graft] def e20Attr(m: DataFrame, scens: DataFrame,
      localMax: Long = Bounded.smallBudget): DataFrame = {
    val spark = m.sparkSession
    import spark.implicits._
    val mRows = Bounded.collect(m.select($"scen", $"s", $"t", $"n", $"rowsum")
        .as[(String, String, String, Long, Long)], localMax) match {
      case Some(rows) => rows
      case None => return e20Distributed(m, scens)
    }
    val transient = mRows.map(r => (r._1, r._2)).distinct
    var x = transient.map(_ -> 0L).toMap
    (1 to e20Rounds).foreach { _ =>
      // mirror of the old per-round join: target x = 1e6 for the
      // absorbing 'purchase', the previous round's value for
      // transient states, and NO term otherwise (inner-join absence
      // == adding zero)
      val next = mRows.groupBy(r => (r._1, r._2)).map { case (k, rows) =>
        k -> rows.map { case (scen, _, t, n, rowsum) =>
          val terms = (if (t == "purchase") Seq(1000000L) else Seq.empty) ++
            x.get((scen, t)).toSeq
          terms.map(xt => (xt * n) / rowsum).sum
        }.sum
      }
      x = transient.map(k => k -> next.getOrElse(k, 0L)).toMap
    }
    val xDf = x.toSeq.map { case ((scen, s), v) => (scen, s, v) }
      .toDF("scen", "s", "x")
    e20Finish(xDf)
  }

  /** The RE/share algebra over the solved absorption vector —
    * shared verbatim by e20's local and distributed paths. */
  private def e20Finish(xDf: DataFrame): DataFrame = {
    val spark = xDf.sparkSession
    import spark.implicits._
    val pconv = xDf.filter($"s" === "START").select($"scen", $"x".as("p"))
    val full = pconv.filter($"scen" === "none").select($"p".as("p_full"))
    val re = pconv.filter($"scen" =!= "none")
      .crossJoin(broadcast(full))
      .selectExpr("scen AS channel", "p_full AS p_full_micro", "p AS p_removed_micro",
        "greatest(CAST(0 AS BIGINT), 1000000 - (p * 1000000) div p_full) AS re_micro")
    re.crossJoin(broadcast(re.agg(sum($"re_micro").as("re_tot"))))
      .selectExpr("channel", "p_full_micro", "p_removed_micro", "re_micro",
        "(re_micro * 1000) div re_tot AS attr_permille")
      .transform(graft.Tables.ordered(_, $"channel"))
  }

  /** e20's distributed fallback — the pre-gate absorbing-chain round
    * loop, verbatim: same inner-join mass moves and left-outer
    * re-anchor per round, so the solved vector is bitwise the local
    * path's on any input. */
  private def e20Distributed(m: DataFrame, scens: DataFrame): DataFrame = {
    val spark = m.sparkSession
    import spark.implicits._
    val transient = m.select($"scen", $"s").distinct()
    var x = transient.withColumn("x", lit(0L)).localCheckpoint()
    (1 to e20Rounds).foreach { _ =>
      val xAll = x.unionByName(
        scens.selectExpr("scen", "'purchase' AS s", "CAST(1000000 AS BIGINT) AS x"))
      // NULL-state x = 0: absent rows contribute nothing via inner join
      val next = m.join(xAll.withColumnRenamed("s", "t"), Seq("scen", "t"))
        .selectExpr("scen", "s", "(x * n) div rowsum AS part")
        .groupBy($"scen", $"s").agg(sum($"part").as("xn"))
      val nx = transient.join(next, Seq("scen", "s"), "left_outer")
        .selectExpr("scen", "s", "coalesce(xn, CAST(0 AS BIGINT)) AS x")
        .localCheckpoint()
      graft.functions.Lineage.freeCheckpoint(x)
      x = nx
    }
    e20Finish(x)
  }

  /** e20 oracle: journey CTEs, the ×5 scenario redirect, 24
    * unrolled absorbing-chain rounds and the same RE/share algebra.
    */
  val e20Sql: String = {
    val rounds = (1 to e20Rounds).map { r =>
      val p = r - 1
      s"""x$r AS MATERIALIZED (SELECT tr.scen, tr.s,
         |        coalesce(nx.xn, CAST(0 AS BIGINT)) AS x
         |      FROM tr LEFT JOIN (
         |        SELECT m.scen, m.s, CAST(sum((xa.x * m.n) // m.rowsum) AS BIGINT) AS xn
         |        FROM m JOIN (SELECT scen, s, x FROM x$p
         |                     UNION ALL SELECT scen, 'purchase', 1000000 FROM sc) xa
         |          ON xa.scen = m.scen AND xa.s = m.t
         |        GROUP BY 1, 2) nx
         |        ON nx.scen = tr.scen AND nx.s = tr.s)""".stripMargin
    }.mkString(",\n")
    val chans = e20Channels.map(c => s"('$c')").mkString(", ")
    s"""WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
      |r0 AS (SELECT user_id, event_type,
      |        row_number() OVER (PARTITION BY user_id ORDER BY tus, event_id) AS rn
      |      FROM ev),
      |pm AS (SELECT user_id, min(rn) AS pmin FROM r0
      |      WHERE event_type = 'purchase' GROUP BY 1),
      |kept AS (SELECT r0.user_id, r0.event_type, r0.rn,
      |        lead(r0.event_type) OVER (PARTITION BY r0.user_id ORDER BY r0.rn) AS nxt
      |      FROM r0 LEFT JOIN pm USING (user_id)
      |      WHERE pm.pmin IS NULL OR r0.rn <= pm.pmin),
      |tcounts AS (SELECT s, t, CAST(count(*) AS BIGINT) AS n FROM (
      |        SELECT event_type AS s, nxt AS t FROM kept WHERE nxt IS NOT NULL
      |        UNION ALL SELECT 'START', event_type FROM kept WHERE rn = 1
      |        UNION ALL SELECT event_type, 'NULL' FROM kept
      |          WHERE nxt IS NULL AND event_type != 'purchase') u
      |      GROUP BY 1, 2),
      |sc AS (SELECT 'none' AS scen UNION ALL SELECT * FROM (VALUES $chans) v(c)),
      |m AS MATERIALIZED (SELECT scen, s, t, n, CAST(sum(n) OVER (PARTITION BY scen, s) AS BIGINT) AS rowsum
      |      FROM (SELECT sc.scen, tc.s,
      |              CASE WHEN tc.t = sc.scen THEN 'NULL' ELSE tc.t END AS t,
      |              CAST(sum(tc.n) AS BIGINT) AS n
      |            FROM tcounts tc CROSS JOIN sc GROUP BY 1, 2, 3) g),
      |tr AS MATERIALIZED (SELECT DISTINCT scen, s FROM m),
      |x0 AS (SELECT scen, s, CAST(0 AS BIGINT) AS x FROM tr),
      |$rounds,
      |pc AS (SELECT scen, x AS p FROM x$e20Rounds WHERE s = 'START'),
      |fl AS (SELECT p AS p_full FROM pc WHERE scen = 'none'),
      |re AS (SELECT pc.scen AS channel, fl.p_full AS p_full_micro,
      |        pc.p AS p_removed_micro,
      |        greatest(CAST(0 AS BIGINT), 1000000 - (pc.p * 1000000) // fl.p_full) AS re_micro
      |      FROM pc, fl WHERE pc.scen != 'none'),
      |tot AS (SELECT CAST(sum(re_micro) AS BIGINT) AS re_tot FROM re)
      |SELECT channel, p_full_micro, p_removed_micro, re_micro,
      |  (re_micro * 1000) // re_tot AS attr_permille
      |FROM re, tot
      |ORDER BY channel""".stripMargin
  }

  /** e17 oracle: identical epoch-hour key, exact sums, non-negative
    * integral divisions.
    */
  val e17Sql: String =
    """WITH e AS (SELECT (epoch_us(ts) // 3600000000) % 24 AS hod,
      |        CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
      |      FROM events),
      |h AS (SELECT hod, CAST(count(*) AS BIGINT) AS n_events,
      |        CAST(sum(cents) AS BIGINT) AS cents
      |      FROM e GROUP BY hod),
      |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS tot_n,
      |        CAST(sum(cents) AS BIGINT) AS tot_c FROM h)
      |SELECT hod, n_events, cents,
      |  (n_events * 24 * 1000000) // tot_n AS traffic_index_micro,
      |  (cents * 24 * 1000000) // tot_c AS value_index_micro
      |FROM h, t
      |ORDER BY hod""".stripMargin

  // ---------- e21: gapped sequential-pattern support (GSP) ----------

  private val e21FreqPermille = 500L
  private val e21Prefix = 8L

  /** e21: SEQUENTIAL PATTERN MINING with GAPS — the classic GSP /
    * PrefixSpan support semantics (Agrawal & Srikant 1995; Pei et
    * al. 2001): a user SUPPORTS pattern a→b (or a→b→c) iff their
    * time-ordered event stream contains those types as a — not
    * necessarily contiguous — subsequence, and a pattern's support
    * is the NUMBER OF USERS supporting it. This is what e9's
    * contiguous path counting cannot express ("signup eventually
    * leads to purchase, whatever happens in between"), the journey
    * question retention analysis actually asks.
    *
    * The subsequence test never materializes subsequences: by the
    * leftmost-greedy argument, u supports (a,b) iff
    * first_u(a) < last_u(b) in the per-user total order
    * (ts, event_id), and supports (a,b,c) iff the earliest b
    * AFTER first_u(a) still precedes last_u(c) — so the whole
    * miner is order STATISTICS: one (user, type) min/max
    * aggregate, one earliest-after min-join at (user, a, b) grain,
    * and candidate-grain count-up. With alphabet A the per-user
    * blowup is |A|² (25 here) — bounded by the type alphabet, not
    * the stream. Mining runs over each user's FIRST [[e21Prefix]]
    * events (the onboarding-prefix question retention teams
    * actually mine; it also keeps support DISCRIMINATING — over
    * the full ~67-event streams every candidate is supported by
    * every user, measured 150/150 at 1000 permille, telling the
    * analyst nothing). Output: every length-2/3 candidate with
    * support, §8.39 support permille over the distinct-user
    * total, and the ≥ [[e21FreqPermille]] frequent flag.
    *
    * Scale shape: one user-key shuffle for the order ranks (same
    * exchange e7/e9 ride), then all state lives at (user, type) ≤
    * |A| and (user, a, b) ≤ |A|² grains; the final aggregates land
    * on the ≤ |A|³ candidate grain (metadata). At 10⁹ users
    * everything between the scan and the 150-row answer is
    * map-side-combinable.
    */
  def e21(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val occ = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type".as("t"),
        unix_micros($"ts").as("tus"))
      .withColumn("ord", row_number().over(w).cast("long"))
      .filter($"ord" <= e21Prefix)
      .select($"user_id", $"t", $"ord")
      .cache()
    val ft = occ.groupBy($"user_id", $"t")
      .agg(min($"ord").as("fo"), max($"ord").as("lo"))
      .cache()
    val nUsers = occ.select($"user_id").distinct().count()
    // full candidate grid (bounded: |A|² + |A|³ rows) so unsupported
    // patterns report support 0 instead of silently vanishing
    val types = occ.select($"t").distinct()
    val cand2 = broadcast(types.select($"t".as("p1")))
      .crossJoin(broadcast(types.select($"t".as("p2"))))
    val cand3 = cand2.crossJoin(broadcast(types.select($"t".as("p3"))))
    val s2 = ft.select($"user_id", $"t".as("p1"), $"fo")
      .join(ft.select($"user_id", $"t".as("p2"), $"lo"), Seq("user_id"))
      .filter($"fo" < $"lo")
      .groupBy($"p1", $"p2").agg(count(lit(1)).as("sup"))
    val s2x = cand2.join(s2, Seq("p1", "p2"), "left_outer")
      .selectExpr("CAST(2 AS BIGINT) AS plen", "p1", "p2", "'' AS p3",
        "coalesce(sup, CAST(0 AS BIGINT)) AS support")
    val m = ft.select($"user_id", $"t".as("p1"), $"fo")
      .join(occ.select($"user_id", $"t".as("p2"), $"ord"), Seq("user_id"))
      .filter($"ord" > $"fo")
      .groupBy($"user_id", $"p1", $"p2").agg(min($"ord").as("mo"))
    val s3 = m.join(ft.select($"user_id", $"t".as("p3"), $"lo"), Seq("user_id"))
      .filter($"lo" > $"mo")
      .groupBy($"p1", $"p2", $"p3").agg(count(lit(1)).as("sup"))
    val s3x = cand3.join(s3, Seq("p1", "p2", "p3"), "left_outer")
      .selectExpr("CAST(3 AS BIGINT) AS plen", "p1", "p2", "p3",
        "coalesce(sup, CAST(0 AS BIGINT)) AS support")
    s2x.unionByName(s3x)
      .selectExpr("plen", "p1", "p2", "p3", "support",
        s"(support * 1000) div $nUsers AS sup_permille",
        s"CAST(CASE WHEN (support * 1000) div $nUsers >= $e21FreqPermille THEN 1 ELSE 0 END AS BIGINT) AS frequent")
      .transform(graft.Tables.ordered(_, $"plen", $"p1", $"p2", $"p3"))
  }

  val e21Sql: String =
    s"""WITH o AS MATERIALIZED (
      |  SELECT user_id, t, ord FROM (
      |    SELECT user_id, event_type AS t,
      |      CAST(row_number() OVER (PARTITION BY user_id
      |        ORDER BY epoch_us(ts), event_id) AS BIGINT) AS ord
      |    FROM events) WHERE ord <= $e21Prefix),
      |ft AS MATERIALIZED (SELECT user_id, t,
      |        min(ord) AS fo, max(ord) AS lo FROM o GROUP BY 1, 2),
      |nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM o),
      |ty AS MATERIALIZED (SELECT DISTINCT t FROM o),
      |s2 AS (SELECT a.t AS p1, b.t AS p2, CAST(count(*) AS BIGINT) AS sup
      |      FROM ft a JOIN ft b ON b.user_id = a.user_id AND a.fo < b.lo
      |      GROUP BY 1, 2),
      |s2x AS (SELECT x.t AS p1, y.t AS p2,
      |        coalesce(s2.sup, CAST(0 AS BIGINT)) AS support
      |      FROM ty x CROSS JOIN ty y
      |      LEFT JOIN s2 ON s2.p1 = x.t AND s2.p2 = y.t),
      |m AS (SELECT a.user_id, a.t AS p1, o.t AS p2, min(o.ord) AS mo
      |      FROM ft a JOIN o ON o.user_id = a.user_id AND o.ord > a.fo
      |      GROUP BY 1, 2, 3),
      |s3 AS (SELECT m.p1, m.p2, c.t AS p3, CAST(count(*) AS BIGINT) AS sup
      |      FROM m JOIN ft c ON c.user_id = m.user_id AND c.lo > m.mo
      |      GROUP BY 1, 2, 3),
      |s3x AS (SELECT x.t AS p1, y.t AS p2, z.t AS p3,
      |        coalesce(s3.sup, CAST(0 AS BIGINT)) AS support
      |      FROM ty x CROSS JOIN ty y CROSS JOIN ty z
      |      LEFT JOIN s3 ON s3.p1 = x.t AND s3.p2 = y.t AND s3.p3 = z.t),
      |un AS (SELECT CAST(2 AS BIGINT) AS plen, p1, p2, '' AS p3, support FROM s2x
      |      UNION ALL
      |      SELECT CAST(3 AS BIGINT), p1, p2, p3, support FROM s3x)
      |SELECT plen, p1, p2, p3, support,
      |  (support * 1000) // nu.n AS sup_permille,
      |  CAST(CASE WHEN (support * 1000) // nu.n >= $e21FreqPermille
      |       THEN 1 ELSE 0 END AS BIGINT) AS frequent
      |FROM un, nu
      |ORDER BY plen, p1, p2, p3""".stripMargin

  // ---------- e23: DAU/WAU stickiness ----------

  /** e23: ENGAGEMENT STICKINESS — per day, the daily-active count
    * (DAU), the trailing-7-day active count (WAU) and their ratio
    * in exact permille (the DAU/MAU "stickiness" every product
    * analytics stack reports — Facebook popularized the metric;
    * the fixture's 30-day span makes the 7-day window the honest
    * trailing variant). The trailing DISTINCT count is the hard
    * part at scale — a naive per-day RANGE-window
    * count(DISTINCT user) shuffles the activity table once PER
    * OFFSET — so this is q25's bounded window-end explode: each
    * (user, active day d) row contributes its user to the windows
    * ending at d..d+6 (≤ 7 bounded copies), one (user, window_end)
    * distinct and one count per end — TWO key exchanges total,
    * independent of window length semantics (the explode factor is
    * the window length, a constant). Window ends are kept to days
    * that actually exist in the data (the trailing window of a day
    * nobody was active on is not a reportable day). Stickiness =
    * DAU·1000 div WAU — exact integers, no IEEE anywhere.
    *
    * Scale shape: (user, day) distinct (one exchange), bounded ×7
    * explode, (user, wend) distinct + count (second exchange), a
    * day-grain join — all map-side combinable; nothing is ever
    * per-user state on the driver. At 100 TB the explode factor
    * stays 7 while the window-function alternative would rescan
    * per day.
    */
  def e23(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val act = Tables.events(spark, dir)
      .selectExpr("user_id", s"$dayExpr AS day")
      .distinct().cache()
    val dau = act.groupBy($"day").agg(count(lit(1)).as("dau"))
    val wau = act
      .withColumn("wend", explode(expr("sequence(day, day + 6)")))
      .select($"user_id", $"wend").distinct()
      .groupBy($"wend".as("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .selectExpr("day", "dau", "wau",
        "(dau * 1000) div wau AS stickiness_permille")
      .transform(graft.Tables.ordered(_, $"day"))
  }

  /** e23 oracle: the same (user, day) grain, the same bounded
    * window-end explode via generate_series, inner join restricting
    * ends to real activity days. */
  val e23Sql: String =
    """WITH a AS (SELECT DISTINCT user_id,
      |        datediff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS day
      |      FROM events),
      |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM a GROUP BY 1),
      |w AS (SELECT DISTINCT a.user_id, a.day + g.i AS wend
      |      FROM a, generate_series(0, 6) g(i)),
      |wau AS (SELECT wend AS day, CAST(count(*) AS BIGINT) AS wau
      |      FROM w GROUP BY 1)
      |SELECT CAST(d.day AS BIGINT) AS day, d.dau, u.wau,
      |  (d.dau * 1000) // u.wau AS stickiness_permille
      |FROM dau d JOIN wau u ON u.day = d.day
      |ORDER BY day""".stripMargin
}
