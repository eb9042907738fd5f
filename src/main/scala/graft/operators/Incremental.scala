package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Incremental aggregate maintenance — the daily-ingest pattern that
  * makes 100 TB stores affordable: per-key stats are kept as ALGEBRAIC
  * partials (count + exact integerized sum), so a new day's partial
  * merges into the historical partial with one outer join — history is
  * never rescanned. The reference recomputes its whole grid per run;
  * this is the shape that wouldn't.
  */
object Incremental {

  /** p3: maintain per-user (count, sum) across an ingest boundary —
    * history (day < 15) and the new arrival (day ≥ 15) aggregate
    * independently, then merge by pure partial addition (coalesce +
    * add on the integer state; the float division happens ONCE at
    * presentation). The oracle is the DIRECT full recompute, so the
    * correctness check IS the merge-equals-recompute theorem; the
    * integerized sum (§8.1) is what makes the partial exactly
    * mergeable in any order.
    */
  def p3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .selectExpr("user_id", "CAST(extract(DOY FROM ts) AS BIGINT) AS day", "value")
    def part(pred: String) = ev.filter(pred).groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(value * 1e2 + 0.5) AS BIGINT)")).as("c2"))
    part("day < 15")
      .select($"user_id", $"n".as("n_a"), $"c2".as("c_a"))
      .join(part("day >= 15")
        .select($"user_id", $"n".as("n_b"), $"c2".as("c_b")),
        Seq("user_id"), "full_outer")
      .selectExpr("user_id",
        "coalesce(n_a, CAST(0 AS BIGINT)) + coalesce(n_b, CAST(0 AS BIGINT)) AS n_events",
        "(coalesce(c_a, CAST(0 AS BIGINT)) + coalesce(c_b, CAST(0 AS BIGINT))) / 1e2 AS sum_value")
      .transform(Tables.ordered(_, $"user_id"))
  }

  /** The direct recompute — proving the merged partials equal it. */
  val p3Sql: String =
    s"""SELECT user_id, count(*) AS n_events,
      |  ${graft.functions.Stable.sumSql("value", 2)} AS sum_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------- p10: incremental view maintenance for JOINS ----------

  /** p10: INCREMENTAL VIEW MAINTENANCE of a join view — p3's
    * partial-merge argument extended from aggregates to JOINS, the
    * other half of what a materialized-view refresh needs: for an
    * append-only fact, Δview = Δfact ⋈ dim, and view' = view ∪
    * Δview — the nightly refresh touches ONLY the delta (here the
    * l_orderkey % 10 = 0 slice standing in for today's ingest),
    * never rescanning the base fact. The ORACLE is the full
    * recompute over fact ∪ delta, so the correctness gate itself
    * proves incremental == recompute (p3's proof shape on the join
    * grain). View rows carry the order's date and the line revenue
    * in exact cents (order-free, bitwise).
    *
    * The base view is MATERIALIZED (yesterday's refresh, staged
    * through [[graft.sources.ForecastStore]]'s atomic version swap —
    * the s14 persistence pattern) and the refresh READS it back: the
    * base side of the union is a parquet scan of the stored view,
    * not a recomputation — the fact table appears in the refresh
    * plan ONLY under the delta filter (PlanSpec pins this: one join
    * in the whole plan, base side a store scan). The delta join
    * broadcasts nothing new — orders is the dimension side and joins
    * by pk (bucketed layout ⇒ zero-exchange, §8.16); one union, no
    * window, no driver state. At 100 TB the delta is the day's
    * ingest — the refresh cost is O(|Δ|) plus a view-sized
    * scan-and-rewrite ONLY if the store is rewritten wholesale; an
    * append-organized store (delta written as new files under the
    * same root) makes the union itself the commit, keeping the whole
    * refresh O(|Δ|) independent of |view|.
    */
  def p10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .selectExpr("l_orderkey", "l_linenumber",
        "CAST(floor(l_extendedprice * (1 - l_discount) * 1e2 + 0.5) AS BIGINT) AS rev_cents")
    val ords = Tables.orders(spark, dir)
      .selectExpr("o_orderkey AS l_orderkey",
        "date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate", "o_orderpriority")
    def viewOf(fact: org.apache.spark.sql.DataFrame) =
      fact.join(ords, Seq("l_orderkey"))
        .select($"l_orderkey", $"l_linenumber", $"orderdate",
          $"o_orderpriority", $"rev_cents")
    // yesterday's refresh: materialize the base view ONCE (atomic
    // version swap), then discard its plan — the refresh below can
    // only get base rows by READING the store
    val store = new graft.sources.ForecastStore(
      graft.store.Versioned.tempRoot("graft_p10_store_"))
    store.save(viewOf(li.filter($"l_orderkey" % 10 =!= 0)), "v0")
    // today's refresh: stored view scan ∪ (Δfact ⋈ dim)
    val base = store.load(spark).get
    val delta = viewOf(li.filter($"l_orderkey" % 10 === 0))
    base.unionByName(delta)
      .transform(Tables.ordered(_, $"l_orderkey", $"l_linenumber"))
  }

  /** p10 oracle: the FULL recompute — the gate proves the
    * incremental union equals it.
    */
  val p10Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority,
      |  CAST(floor(l_extendedprice * (1 - l_discount) * 1e2 + 0.5) AS BIGINT) AS rev_cents
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------- p11: time travel ----------

  /** p11: TIME-TRAVEL READS over a multi-version store — the AS OF
    * query every versioned table format owes its consumers (Delta/
    * Iceberg `VERSION AS OF`; the reference's GCS object store keeps
    * the same superseded-generation readability): reproduce
    * yesterday's training run, audit what a model saw, diff survivor
    * sets across curation policies. [[graft.sources.ForecastStore]]
    * already writes one immutable directory per version behind an
    * atomic CURRENT swap; this operator adds the reader half —
    * `loadVersion` (any retained version by name) and `versions`
    * (the readable history) — and gates it end-to-end.
    *
    * The gate stages three order-book snapshots (ingest cutoffs
    * 1997-01-01 / 1999-01-01 / all — three growing versions, v2
    * current), then answers an audit per RETAINED version by READING
    * it back: row count and exact-cents total. The oracle recomputes
    * each snapshot from the live table — proving the stored bytes
    * still equal what the cutoff semantics say they held, i.e. that
    * superseded versions are immutable and faithful.
    *
    * Scale shape: each AS OF read is one parquet scan of that
    * version's directory (pushdown intact — it's just a path);
    * per-version audits are single map-side-combined aggregates;
    * the version list is a driver-side directory listing (bounded
    * by the retention policy, never by data size). At 100 TB,
    * snapshot-per-version becomes manifest-per-version (only Δ
    * files new, the Delta/Iceberg trick) with identical read
    * semantics; vacuum(keep=N) = N readable points in time.
    */
  def p11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val ords = Tables.orders(spark, dir).selectExpr("o_orderkey",
      "CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS total_cents",
      "o_orderdate")
    val store = new graft.sources.ForecastStore(
      graft.store.Versioned.tempRoot("graft_p11_store_"))
    store.save(ords.filter($"o_orderdate" < lit(ts("1997-01-01")))
      .drop("o_orderdate"), "v0")
    store.save(ords.filter($"o_orderdate" < lit(ts("1999-01-01")))
      .drop("o_orderdate"), "v1")
    store.save(ords.drop("o_orderdate"), "v2")
    store.versions().map { case (v, isCur) =>
      store.loadVersion(spark, v).get
        .agg(count(lit(1)).as("n_orders"), sum($"total_cents").as("sum_cents"))
        .select(lit(v).as("version"),
          lit(if (isCur) 1L else 0L).as("is_current"),
          $"n_orders", $"sum_cents")
    }.reduce(_ unionAll _)
      .transform(Tables.ordered(_, $"version"))
  }

  /** p16: SNAPSHOT EXPIRY / RETENTION AUDIT — the maintenance pass
    * every versioned store runs (Iceberg `expireSnapshots`, Delta
    * `VACUUM`): p11's three-snapshot store under a keep-2 retention
    * policy, exercised END TO END against the REAL on-disk store —
    * pre-expiry stats captured per version, then
    * [[graft.sources.ForecastStore.vacuum]] actually deletes the
    * expired version directory (never the current one, whatever its
    * age — the marker-safety contract), and the post-state is
    * probed back: expired versions must be GONE (loadVersion =
    * None), retained ones must still load with their exact
    * pre-expiry contents. Output per version: the p11 cutoff stats,
    * the retention verdict, and the post-expiry load probe — the
    * reclaimed rows are the expired snapshots' (the storage the
    * policy trades for time-travel depth).
    *
    * Scale shape: stats are one aggregate per snapshot (p11's
    * cost); vacuum is O(#versions) directory metadata work — the
    * point of snapshot-grain retention is that reclaim never reads
    * data files.
    */
  def p16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val ords = Tables.orders(spark, dir).selectExpr("o_orderkey",
      "CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS total_cents",
      "o_orderdate")
    val files = graft.store.Versioned(
      graft.store.Versioned.tempRoot("graft_p16_store_"))
    try {
      val store = new graft.sources.ForecastStore(files)
      store.save(ords.filter($"o_orderdate" < lit(ts("1997-01-01")))
        .drop("o_orderdate"), "v0")
      store.save(ords.filter($"o_orderdate" < lit(ts("1999-01-01")))
        .drop("o_orderdate"), "v1")
      store.save(ords.drop("o_orderdate"), "v2")
      // pre-expiry stats per version (collected before anything deletes)
      val pre = store.versions().map { case (v, isCur) =>
        val Array(n, c) = store.loadVersion(spark, v).get
          .agg(count(lit(1)), sum($"total_cents")).collect()(0) match {
          case r => Array(r.getLong(0), r.getLong(1))
        }
        (v, if (isCur) 1L else 0L, n, c)
      }
      val removed = store.vacuum(keep = 2).toSet
      val rows = pre.map { case (v, isCur, n, c) =>
        val loadOk = store.loadVersion(spark, v) match {
          case Some(df) => if (df.count() == n) 1L else -1L // content intact?
          case None => 0L
        }
        (v, isCur, n, c,
          if (removed(v)) "expired" else "retained", loadOk)
      }
      // every probe above is already collected to the driver — the
      // result DataFrame below is built from local rows, so the store
      // can be reclaimed eagerly (no lazy scan escapes this method)
      rows.toDF("version", "is_current", "n_orders", "sum_cents",
          "status", "load_ok")
        .transform(Tables.ordered(_, $"version"))
    } finally files.delete("")
  }


  /** p17: ORPHAN-FILE AUDIT + RECLAIM — the OTHER maintenance pass a
    * versioned store owes its operators (Iceberg
    * `remove_orphan_files`, next to p16's `expireSnapshots`): failed
    * task attempts, abandoned `_temporary` trees and stale side
    * exports accumulate bytes no snapshot references — invisible to
    * time travel, unreclaimed by snapshot expiry, paid for forever
    * (and a naive directory-listing reader CRASHES on them — the
    * store's reads are manifest-scoped, so the pre-reclaim stats
    * here are computed correct WITH the junk still in place).
    * Detection needs a SOURCE OF TRUTH for "referenced": a directory
    * listing cannot tell a committed file from a leftover, so
    * [[graft.sources.ForecastStore.save]] now writes a per-version
    * manifest (the sorted committed data files — the Iceberg
    * manifest role), and
    * [[graft.sources.ForecastStore.orphans]] diffs the listing
    * against it (metadata-only — no data file is read; an unlisted
    * directory is orphan wholesale).
    *
    * The gate plants all three real orphan classes in p11's
    * three-version store — a failed-task leftover inside v1, an
    * abandoned `_temporary` tree inside v2, a stale export at the
    * store root — reclaims them, and probes BOTH directions: every
    * orphan is gone, and every version still loads with its exact
    * pre-reclaim contents (reclaim must never touch committed data
    * — the invariant that makes the pass safe to run unattended).
    *
    * Scale shape: detection is O(#files) directory metadata against
    * O(#files) manifest entries — never a data read; per-version
    * stats are p11's single aggregates. At 100 TB this is the
    * nightly janitor that keeps object-store spend equal to what
    * the manifests say you own.
    */
  def p17(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val ords = Tables.orders(spark, dir).selectExpr("o_orderkey",
      "CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS total_cents",
      "o_orderdate")
    val files = graft.store.Versioned(
      graft.store.Versioned.tempRoot("graft_p17_store_"))
    try {
      val store = new graft.sources.ForecastStore(files)
      store.save(ords.filter($"o_orderdate" < lit(ts("1997-01-01")))
        .drop("o_orderdate"), "v0")
      store.save(ords.filter($"o_orderdate" < lit(ts("1999-01-01")))
        .drop("o_orderdate"), "v1")
      store.save(ords.drop("o_orderdate"), "v2")
      // plant the three orphan classes
      files.replace("v1/part-00099-leftover.parquet.tmp", "failed task attempt")
      files.replace("v2/_temporary/0/task_attempt.bin", "Z" * 16)
      files.replace("stale_export.csv", "id,cents\n1,100\n")
      // pre-reclaim stats per version (committed data only)
      val pre = store.versions().map { case (v, _) =>
        val r = store.loadVersion(spark, v).get
          .agg(count(lit(1)), sum($"total_cents")).collect()(0)
        (v, r.getLong(0), r.getLong(1))
      }
      val removed = store.removeOrphans().toSet
      val orphanRows = removed.toSeq.sorted.map { rel =>
        val gone = !files.exists(rel)
        (rel, "orphan", "removed", -1L, -1L, if (gone) 1L else 0L)
      }
      val versionRows = pre.map { case (v, n, c) =>
        val intact = store.loadVersion(spark, v) match {
          case Some(df2) => if (df2.count() == n) 1L else 0L
          case None => 0L
        }
        (v, "version", "retained", n, c, intact)
      }
      // all probes are driver-local before the store dir is reclaimed
      (orphanRows ++ versionRows)
        .toDF("item", "kind", "status", "n_orders", "sum_cents", "intact")
        .transform(Tables.ordered(_, $"item"))
    } finally files.delete("")
  }

  /** p17 oracle: the three planted orphans (constants — removal is
    * total) + p11's per-version cutoff recomputation with the
    * intact flag. */
  val p17Sql: String =
    """WITH o AS (SELECT o_orderkey,
      |  CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS total_cents,
      |  o_orderdate FROM orders)
      |SELECT * FROM (
      |SELECT 'stale_export.csv' AS item, 'orphan' AS kind,
      |       'removed' AS status, CAST(-1 AS BIGINT) AS n_orders,
      |       CAST(-1 AS BIGINT) AS sum_cents, CAST(1 AS BIGINT) AS intact
      |UNION ALL
      |SELECT 'v1/part-00099-leftover.parquet.tmp', 'orphan', 'removed',
      |       CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(1 AS BIGINT)
      |UNION ALL
      |SELECT 'v2/_temporary', 'orphan', 'removed',
      |       CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(1 AS BIGINT)
      |UNION ALL
      |SELECT 'v0', 'version', 'retained', CAST(count(*) AS BIGINT),
      |       CAST(sum(total_cents) AS BIGINT), CAST(1 AS BIGINT)
      |FROM o WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |UNION ALL
      |SELECT 'v1', 'version', 'retained', CAST(count(*) AS BIGINT),
      |       CAST(sum(total_cents) AS BIGINT), CAST(1 AS BIGINT)
      |FROM o WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |UNION ALL
      |SELECT 'v2', 'version', 'retained', CAST(count(*) AS BIGINT),
      |       CAST(sum(total_cents) AS BIGINT), CAST(1 AS BIGINT)
      |FROM o)
      |ORDER BY item""".stripMargin

  /** p16 oracle: p11's cutoff recomputation + the static keep-2
    * verdicts and the post-expiry load expectations (expired ⇒
    * gone, retained ⇒ intact).
    */
  val p16Sql: String =
    """WITH o AS (SELECT o_orderkey,
      |  CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS total_cents,
      |  o_orderdate FROM orders)
      |SELECT 'v0' AS version, CAST(0 AS BIGINT) AS is_current,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(total_cents) AS BIGINT) AS sum_cents,
      |       'expired' AS status, CAST(0 AS BIGINT) AS load_ok
      |FROM o WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |UNION ALL
      |SELECT 'v1', CAST(0 AS BIGINT), CAST(count(*) AS BIGINT),
      |       CAST(sum(total_cents) AS BIGINT), 'retained', CAST(1 AS BIGINT)
      |FROM o WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |UNION ALL
      |SELECT 'v2', CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
      |       CAST(sum(total_cents) AS BIGINT), 'retained', CAST(1 AS BIGINT)
      |FROM o
      |ORDER BY version""".stripMargin

  /** p11 oracle: each snapshot recomputed from the live table under
    * its ingest cutoff — stored versions must still equal this.
    */
  val p11Sql: String =
    """WITH o AS (SELECT o_orderkey,
      |  CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS total_cents,
      |  o_orderdate FROM orders)
      |SELECT 'v0' AS version, CAST(0 AS BIGINT) AS is_current,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(total_cents) AS BIGINT) AS sum_cents
      |FROM o WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |UNION ALL
      |SELECT 'v1', CAST(0 AS BIGINT), CAST(count(*) AS BIGINT),
      |       CAST(sum(total_cents) AS BIGINT)
      |FROM o WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |UNION ALL
      |SELECT 'v2', CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
      |       CAST(sum(total_cents) AS BIGINT)
      |FROM o
      |ORDER BY version""".stripMargin

  // ---------- p18: snapshot rollback ----------

  /** p18: SNAPSHOT ROLLBACK — Iceberg's `rollback_to_snapshot` as a
    * library operation with its audit: a bad batch lands (here an
    * upstream job that NEGATED the day's order totals — the classic
    * sign-flip ingestion bug), the corruption audit on CURRENT
    * catches it, and the store rolls back by repointing the marker
    * to the last good version ([[graft.sources.ForecastStore.rollback]]
    * — PURE METADATA, one atomic swap, no data file touched). The
    * bad version stays readable for forensics (time travel) until
    * retention reclaims it — the operational contract every
    * versioned lakehouse publishes for exactly this failure. Output
    * rows: the audit BEFORE (current = the corrupt v1, n_bad > 0),
    * AFTER (current = v0, n_bad = 0 — the rollback undid the batch
    * without rewriting a byte), and the FORENSIC read of the
    * rolled-past v1 (intact — rollback deleted nothing).
    *
    * Scale shape: the audits are one aggregate per read (count +
    * flagged count + exact-cents sum, map-side combined); the
    * rollback itself is O(1) metadata regardless of data size —
    * that asymmetry (audit scans, repair is free) is WHY rollback
    * is the first-line repair at 100 TB.
    */
  def p18(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val ords = Tables.orders(spark, dir).selectExpr("o_orderkey",
      "CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS total_cents",
      "o_orderdate")
    val files = graft.store.Versioned(
      graft.store.Versioned.tempRoot("graft_p18_store_"))
    try {
      val store = new graft.sources.ForecastStore(files)
      val clean = ords.filter($"o_orderdate" < lit(ts("1997-01-01")))
        .drop("o_orderdate")
      store.save(clean, "v0")
      // the bad batch: 1997's orders land with negated cents
      val bad = ords
        .filter($"o_orderdate" >= lit(ts("1997-01-01")) &&
          $"o_orderdate" < lit(ts("1998-01-01")))
        .selectExpr("o_orderkey", "-total_cents AS total_cents")
      store.save(clean.unionByName(bad), "v1")
      def audit(phase: String): (String, String, Long, Long, Long) = {
        val v = store.currentPath().map(p =>
          java.nio.file.Paths.get(p).getFileName.toString).getOrElse("?")
        val r = store.load(spark).get
          .agg(count(lit(1)),
            sum(expr("CASE WHEN total_cents < 0 THEN 1 ELSE 0 END")),
            sum($"total_cents")).collect()(0)
        (phase, v, r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val before = audit("1_before")
      // the corruption gate: roll back ONLY because the audit fired
      val rolledBack =
        if (before._4 > 0) store.rollback("v0") else false
      val after = audit("2_after")
      // forensics: the rolled-past version is still fully readable
      val f = store.loadVersion(spark, "v1").get
        .agg(count(lit(1)),
          sum(expr("CASE WHEN total_cents < 0 THEN 1 ELSE 0 END")),
          sum($"total_cents")).collect()(0)
      val forensic =
        ("3_forensic", if (rolledBack) "v1" else "?",
          f.getLong(0), f.getLong(1), f.getLong(2))
      Seq(before, after, forensic)
        .toDF("phase", "version", "n_rows", "n_bad", "sum_cents")
        .transform(Tables.ordered(_, $"phase"))
    } finally files.delete("")
  }

  /** p18 oracle: the three audits recomputed from orders arithmetic
    * — before = clean + negated 1997 batch, after = clean only
    * (rollback restored v0 exactly), forensic = the corrupt v1
    * intact. */
  val p18Sql: String =
    """WITH o AS (SELECT o_orderkey,
      |  CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS total_cents,
      |  o_orderdate FROM orders),
      |clean AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(total_cents) AS BIGINT) AS s FROM o
      |  WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
      |bad AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(-total_cents) AS BIGINT) AS s FROM o
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
      |SELECT '1_before' AS phase, 'v1' AS version,
      |  clean.n + bad.n AS n_rows, bad.n AS n_bad,
      |  clean.s + bad.s AS sum_cents FROM clean, bad
      |UNION ALL
      |SELECT '2_after', 'v0', clean.n, CAST(0 AS BIGINT), clean.s
      |FROM clean
      |UNION ALL
      |SELECT '3_forensic', 'v1', clean.n + bad.n, bad.n, clean.s + bad.s
      |FROM clean, bad
      |ORDER BY phase""".stripMargin
}
