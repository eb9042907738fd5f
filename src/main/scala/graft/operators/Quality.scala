package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ThermalChain.q

/** Data-quality validation and geospatial operators.
  *
  * dq1: the constraint sweep every ETL run wants before publishing —
  * null checks, domain checks, referential integrity — emitted as one
  * (check, n_violations) report so a single scan of each table feeds
  * many assertions.
  *
  * w15: nearest-mask-point by haversine distance — the geospatial
  * lookup the reference approximates with exact (lat, lon) equality
  * (main.py:281-304); here each grid cell finds its closest near-land
  * anchor. Small anchor set broadcasts; per-cell work is |anchors|.
  */
object Quality {

  def dq1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val ev = Tables.events(spark, dir)
    val checks = Seq(
      li.agg(count(when($"l_quantity".isNull || $"l_quantity" <= 0, 1)).as("n"))
        .select(lit("lineitem_quantity_positive").as("chk"), $"n"),
      li.agg(count(when($"l_discount" < 0 || $"l_discount" > 0.5, 1)).as("n"))
        .select(lit("lineitem_discount_domain").as("chk"), $"n"),
      li.join(ord, $"l_orderkey" === $"o_orderkey", "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit("lineitem_orphan_orders").as("chk"), $"n"),
      ord.agg(count(when($"o_totalprice" <= 0, 1)).as("n"))
        .select(lit("orders_price_positive").as("chk"), $"n"),
      ev.agg(count(when(!$"event_type".isin("click", "error", "purchase", "signup", "view"), 1)).as("n"))
        .select(lit("events_type_domain").as("chk"), $"n"),
      ev.agg(count(when($"ts".isNull, 1)).as("n"))
        .select(lit("events_ts_not_null").as("chk"), $"n"),
    )
    checks.reduce(_ unionByName _).orderBy($"chk")
  }

  val dq1Sql: String =
    """SELECT 'lineitem_quantity_positive' AS chk, count(*) FILTER (WHERE l_quantity IS NULL OR l_quantity <= 0) AS n FROM lineitem
      |UNION ALL
      |SELECT 'lineitem_discount_domain', count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.5) FROM lineitem
      |UNION ALL
      |SELECT 'lineitem_orphan_orders', count(*) FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      |UNION ALL
      |SELECT 'orders_price_positive', count(*) FILTER (WHERE o_totalprice <= 0) FROM orders
      |UNION ALL
      |SELECT 'events_type_domain', count(*) FILTER (WHERE event_type NOT IN ('click', 'error', 'purchase', 'signup', 'view')) FROM events
      |UNION ALL
      |SELECT 'events_ts_not_null', count(*) FILTER (WHERE ts IS NULL) FROM events
      |ORDER BY 1""".stripMargin

  // ---------- dq2: distribution-drift monitor (PSI) ----------

  /** (column, bin lo, bin width) for the 10-bin equi-width
    * histograms; widths cover each column's full domain.
    */
  private val dq2Cols = Seq(
    ("l_quantity", "0.0", "5.0"),
    ("l_extendedprice", "0.0", "11000.0"),
    ("l_discount", "0.0", "0.011"))
  private val dq2Bins = 10L

  /** PSI > 0.2 — the standard "significant shift" cut of the
    * credit-scoring literature the metric comes from.
    */
  private val dq2DriftMicro = 200000L

  /** The (col_name, bucket) leg for one period over a lineitem-shaped
    * df — ONE implementation shared by dq2 and its streaming twin
    * s27 (the s15/s16 batch/stream sharing contract). `cur` applies
    * the seeded quantity-cap snapshot transform.
    */
  private[graft] def dq2Binned(df: DataFrame, period: String): DataFrame = {
    val legs = dq2Cols.map { case (c, lo, w) =>
      val v = if (period == "cur" && c == "l_quantity") s"least($c, 30.0)" else c
      s"named_struct('col_name', '$c', 'bucket', " +
        s"CAST(least(${dq2Bins - 1}, greatest(0, floor(($v - $lo) / $w))) AS BIGINT))"
    }.mkString(", ")
    df.selectExpr(s"explode(array($legs)) AS cb")
      .selectExpr("cb.col_name AS col_name", "cb.bucket AS bucket")
  }

  /** Per-(col, bucket) counts for one period — the histogram state
    * (≤ 30 rows per period): a plain algebraic count, which is why
    * s27 can hold it as bounded streaming aggregation state.
    */
  private[graft] def dq2Counts(df: DataFrame, period: String): DataFrame =
    dq2Binned(df, period).groupBy(col("col_name"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** The PSI report from the two count tables — shared by dq2 and
    * s27 (full-outer join keeps single-period buckets; the exact
    * term algebra is documented on [[dq2]]).
    */
  private[graft] def dq2Report(refC: DataFrame, curC: DataFrame): DataFrame = {
    import refC.sparkSession.implicits._
    val binned = refC.withColumnRenamed("n", "na")
      .join(curC.withColumnRenamed("n", "nb"), Seq("col_name", "bucket"), "full_outer")
      .select($"col_name", $"bucket",
        coalesce($"na", lit(0L)).as("na"), coalesce($"nb", lit(0L)).as("nb"))
    val totals = binned.groupBy($"col_name")
      .agg(sum($"na").as("tot_a"), sum($"nb").as("tot_b"))
    binned.join(totals, Seq("col_name"))
      .selectExpr("col_name", "tot_a", "tot_b",
        s"(na + 1) * (tot_b + $dq2Bins) - (nb + 1) * (tot_a + $dq2Bins) AS diff",
        s"CAST(floor(ln(CAST((na + 1) * (tot_b + $dq2Bins) AS DOUBLE) " +
          s"/ CAST((nb + 1) * (tot_a + $dq2Bins) AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS lnq")
      .groupBy($"col_name", $"tot_a", $"tot_b")
      .agg(sum(expr("CAST(diff AS DECIMAL(38,0)) * lnq")).as("num"))
      .selectExpr("col_name", "tot_a AS n_ref", "tot_b AS n_cur",
        s"CAST((num * 1000000) div (CAST(tot_a + $dq2Bins AS DECIMAL(38,0)) " +
          s"* (tot_b + $dq2Bins) * 1000000000) AS BIGINT) AS psi_micro")
      .selectExpr("col_name", "n_ref", "n_cur", "psi_micro",
        s"CAST(CASE WHEN psi_micro > $dq2DriftMicro THEN 1 ELSE 0 END AS BIGINT) AS drifted")
      .transform(Tables.ordered(_, $"col_name"))
  }

  /** dq2: DISTRIBUTION DRIFT between two table snapshots by
    * POPULATION STABILITY INDEX — PSI = Σ_bins (p−q)·ln(p/q), the
    * ML-monitoring twin of v13's embedding drift for TABULAR
    * features (training-data pipelines alarm on feature drift
    * before models consume a new snapshot). Snapshot fixture: the
    * current period re-lands lineitem after a quantity-cap policy
    * change (q' = least(q, 30) — d2's seeded-fixture discipline:
    * the drift is constructed, so the detector's answer is known),
    * so l_quantity MUST alarm while price/discount MUST stay quiet
    * — the gate swings both ways by construction.
    *
    * Exactness: per occupied bin (the metric's documented domain),
    * Laplace-smoothed proportions padj = (na+1)/(Na+B) share the
    * common denominator (Na+B)(Nb+B), so each term's sign-carrying
    * factor diff = (na+1)(Nb+B) − (nb+1)(Na+B) is an exact BIGINT;
    * the single transcendental ln(padj/qadj) quantizes at 1e-9
    * (§8.4) into a BIGINT; term products and their sum ride
    * DECIMAL(38,0)/HUGEINT (≤ 10^29 ≪ 10^38); and the reported
    * psi_micro = (Σ diff·lnq · 10⁶) div ((Na+B)(Nb+B)·10⁹) is ONE
    * integral division — every output column exact cross-engine.
    * Each term is ≥ 0 (diff and lnq share sign), so PSI ≥ 0 holds
    * in the integer algebra too.
    *
    * Scale shape: one scan per period ([[dq2Counts]] — structs
    * explode row-locally into a ≤ 30-row map-side-combined
    * histogram each), then [[dq2Report]]'s term algebra on the
    * joined histograms; the report is 3 rows. At 100 TB the
    * histogram aggregates are the only data-sized stages — a
    * monitoring pass' cost. The two halves are shared VERBATIM
    * with the streaming twin s27.
    */
  def dq2(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    dq2Report(dq2Counts(li, "ref"), dq2Counts(li, "cur"))
  }

  /** dq2 oracle: identical bins, smoothing, quantized ln and
    * HUGEINT term algebra.
    */
  val dq2Sql: String = {
    val legs = dq2Cols.flatMap { case (c, lo, w) =>
      val cur = if (c == "l_quantity") s"least($c, 30.0)" else c
      Seq(
        s"SELECT '$c' AS col_name, 'ref' AS period, CAST(least(${dq2Bins - 1}, greatest(0, floor(($c - $lo) / $w))) AS BIGINT) AS bucket FROM lineitem",
        s"SELECT '$c', 'cur', CAST(least(${dq2Bins - 1}, greatest(0, floor(($cur - $lo) / $w))) AS BIGINT) FROM lineitem")
    }.mkString("\n  UNION ALL ")
    s"""WITH b0 AS (
      |  $legs),
      |b AS (SELECT col_name, bucket,
      |        CAST(count(*) FILTER (WHERE period = 'ref') AS BIGINT) AS na,
      |        CAST(count(*) FILTER (WHERE period = 'cur') AS BIGINT) AS nb
      |      FROM b0 GROUP BY 1, 2),
      |t AS (SELECT col_name, CAST(sum(na) AS BIGINT) AS tot_a,
      |        CAST(sum(nb) AS BIGINT) AS tot_b FROM b GROUP BY 1),
      |terms AS (SELECT b.col_name, t.tot_a, t.tot_b,
      |        (na + 1) * (tot_b + $dq2Bins) - (nb + 1) * (tot_a + $dq2Bins) AS diff,
      |        CAST(floor(ln(CAST((na + 1) * (tot_b + $dq2Bins) AS DOUBLE)
      |          / CAST((nb + 1) * (tot_a + $dq2Bins) AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS lnq
      |      FROM b JOIN t ON t.col_name = b.col_name),
      |agg AS (SELECT col_name, tot_a, tot_b,
      |        sum(CAST(diff AS HUGEINT) * lnq) AS num
      |      FROM terms GROUP BY 1, 2, 3)
      |SELECT col_name, tot_a AS n_ref, tot_b AS n_cur,
      |  CAST((num * 1000000) // (CAST(tot_a + $dq2Bins AS HUGEINT)
      |    * (tot_b + $dq2Bins) * 1000000000) AS BIGINT) AS psi_micro,
      |  CAST(CASE WHEN CAST((num * 1000000) // (CAST(tot_a + $dq2Bins AS HUGEINT)
      |    * (tot_b + $dq2Bins) * 1000000000) AS BIGINT) > $dq2DriftMicro
      |    THEN 1 ELSE 0 END AS BIGINT) AS drifted
      |FROM agg
      |ORDER BY col_name""".stripMargin
  }

  /** Haversine distance (km) between quantized radian coordinates —
    * shared template, q-quantized trig keeps both engines bitwise.
    */
  private def haversine(lat1: String, lon1: String, lat2: String, lon2: String): String = {
    val sdlat = q(s"sin((($lat2) - ($lat1)) * pi() / 360.0)")
    val sdlon = q(s"sin((($lon2) - ($lon1)) * pi() / 360.0)")
    val coslat1 = q(s"cos(($lat1) * pi() / 180.0)")
    val coslat2 = q(s"cos(($lat2) * pi() / 180.0)")
    s"12742.0 * ${q(s"asin(least(1.0, sqrt($sdlat * $sdlat + $coslat1 * $coslat2 * $sdlon * $sdlon)))")}"
  }

  def w15(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = ThermalCells.cells(spark, dir)
    val anchors = Tables.part(spark, dir).filter($"p_size" > 45)
      .selectExpr("CAST(p_partkey % 29 AS DOUBLE) * 5.0 - 70.0 AS alat",
        "CAST((p_partkey * 3) % 72 AS DOUBLE) * 5.0 - 177.5 AS alon")
      .distinct()
    val dist = haversine("lat", "lon", "alat", "alon")
    // argmin as min(struct(d, alat, alon)) — lexicographic struct
    // ordering IS the window's (d, alat, alon) tie-break, but as one
    // partially-aggregated shuffle of O(1) state per cell instead of
    // a full sort of every (cell, anchor) pair
    cells.join(broadcast(anchors))
      .selectExpr("lat", "lon", "alat", "alon", s"($dist) AS d")
      .groupBy($"lat", $"lon")
      .agg(min(struct($"d", $"alat", $"alon")).as("m"))
      .selectExpr("lat", "lon", "m.alat AS alat", "m.alon AS alon", "m.d AS d")
      .transform(graft.Tables.ordered(_, $"lat", $"lon"))
  }

  val w15Sql: String = {
    val dist = haversine("lat", "lon", "alat", "alon")
    s"""WITH cells AS (${ThermalCells.cellsSql}),
      |anchors AS (SELECT DISTINCT CAST(p_partkey % 29 AS DOUBLE) * 5.0 - 70.0 AS alat,
      |              CAST((p_partkey * 3) % 72 AS DOUBLE) * 5.0 - 177.5 AS alon
      |            FROM part WHERE p_size > 45),
      |scored AS (SELECT lat, lon, alat, alon, ($dist) AS d,
      |             row_number() OVER (PARTITION BY lat, lon ORDER BY ($dist), alat, alon) AS rn
      |           FROM cells CROSS JOIN anchors)
      |SELECT lat, lon, alat, alon, d
      |FROM scored WHERE rn = 1
      |ORDER BY lat, lon""".stripMargin
  }

  // ---------- dq3: Benford first-digit audit ----------

  /** Benford expected shares log10(1 + 1/d) in micro-units, baked as
    * identical literals into BOTH engines (computed once here, so
    * no cross-engine transcendental ever runs at query time).
    */
  private val benfordMicro: Seq[Long] =
    (1 to 9).map(d => math.floor(math.log10(1.0 + 1.0 / d) * 1e6).toLong)

  /** The audited (table, column) money/amount fields. */
  private val dq3Cols = Seq(
    ("lineitem", "l_extendedprice"),
    ("lineitem", "l_quantity"),
    ("orders", "o_totalprice"))

  /** dq3: BENFORD FIRST-DIGIT AUDIT (Benford 1938; Nigrini 1996's
    * fraud-detection use) — the distribution-shape check a quality
    * pipeline runs on money/amount columns: naturally occurring
    * multi-magnitude amounts put digit d first with probability
    * log10(1+1/d) (30.1% ones … 4.6% nines); fabricated, capped or
    * uniformly generated amounts don't. Per (column, first digit):
    * exact count, observed share ×10⁶, the Benford expectation ×10⁶
    * (baked literals — [[benfordMicro]]) and the absolute deviation.
    * On THIS fixture all three columns deviate hard (uniform
    * synthetic amounts, range caps) — the audit correctly flags the
    * data as machine-generated, which is precisely the signal
    * Benford screening exists for (t27's Zipf argument on the
    * numeric grain; the spec asserts the detection).
    *
    * First-digit extraction is EXACT: the value's cents integer
    * (floor(x·100 + 0.5), the e14 convention) renders to a string
    * and takes its first character — no float log10 at query time,
    * so boundary values cannot flip digits across engines. Shares
    * and deviations are non-negative integral divisions (§8.39).
    *
    * Scale shape: one scan per audited table, a (column, digit)
    * map-side-combined aggregate (≤ 9·|columns| rows), per-column
    * totals joined at metadata grain — audit cost is the scans,
    * state is bounded forever (the dq2/HistQ sketch contract:
    * digit counts are mergeable, so the same aggregate IS a
    * streaming state if needed).
    */
  /** The (col_name, digit) rows for one audited column — ONE
    * implementation shared by dq3 and its streaming twin s28 (the
    * dq2/s27 sharing contract): the digit extraction is row-local,
    * so the downstream count is a bounded algebraic state.
    */
  private[graft] def dq3Digits(df: DataFrame, col0: String): DataFrame =
    df.filter(org.apache.spark.sql.functions.col(col0) > 0)
      .selectExpr(s"'$col0' AS col_name",
        s"substring(CAST(CAST(floor($col0 * 100 + 0.5) AS BIGINT) AS STRING), 1, 1) AS digit")

  /** The Benford report from a (col_name, digit, n) count table —
    * shared by dq3 and s28.
    */
  private[graft] def dq3Report(counts: DataFrame): DataFrame = {
    import counts.sparkSession.implicits._
    val benfordCase = (1 to 9).map(d =>
      s"WHEN '$d' THEN CAST(${benfordMicro(d - 1)} AS BIGINT)")
      .mkString("CASE digit ", " ", " ELSE CAST(0 AS BIGINT) END")
    counts
      .join(counts.groupBy($"col_name").agg(sum($"n").as("col_total")),
        Seq("col_name"))
      .selectExpr("col_name", "CAST(digit AS BIGINT) AS digit", "n",
        "(n * 1000000) div col_total AS share_micro",
        s"$benfordCase AS benford_micro")
      .selectExpr("col_name", "digit", "n", "share_micro", "benford_micro",
        "abs(share_micro - benford_micro) AS dev_micro")
      .transform(graft.Tables.ordered(_,
        org.apache.spark.sql.functions.col("col_name"),
        org.apache.spark.sql.functions.col("digit")))
  }

  def dq3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val counts = dq3Cols.map { case (t, c) =>
      dq3Digits(if (t == "lineitem") li else ord, c)
    }.reduce(_.unionByName(_))
      .groupBy($"col_name", $"digit")
      .agg(count(lit(1)).as("n"))
    dq3Report(counts)
  }

  /** dq3 oracle: identical cents-string digit extraction, counts,
    * integral shares and the same baked Benford literals.
    */
  val dq3Sql: String = {
    val legs = dq3Cols.map { case (t, c) =>
      s"""SELECT '$c' AS col_name,
         |  substr(CAST(CAST(floor($c * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS digit
         |FROM $t WHERE $c > 0""".stripMargin
    }.mkString("\nUNION ALL\n")
    val benfordCase = (1 to 9).map(d =>
      s"WHEN '$d' THEN CAST(${benfordMicro(d - 1)} AS BIGINT)")
      .mkString("CASE digit ", " ", " ELSE CAST(0 AS BIGINT) END")
    s"""WITH d AS ($legs),
      |c AS (SELECT col_name, digit, CAST(count(*) AS BIGINT) AS n
      |      FROM d GROUP BY 1, 2),
      |t AS (SELECT col_name, CAST(sum(n) AS BIGINT) AS col_total
      |      FROM c GROUP BY 1)
      |SELECT c.col_name, CAST(c.digit AS BIGINT) AS digit, c.n,
      |  (c.n * 1000000) // t.col_total AS share_micro,
      |  $benfordCase AS benford_micro,
      |  abs((c.n * 1000000) // t.col_total - ($benfordCase)) AS dev_micro
      |FROM c JOIN t USING (col_name)
      |ORDER BY col_name, digit""".stripMargin
  }

  // ---------- dq5: column entropy / uniqueness profile ----------

  private val dq5Cols = Seq("l_returnflag", "l_quantity", "l_shipdate", "l_orderkey")

  /** dq5: COLUMN ENTROPY PROFILE — the data-profiling pass
    * (key-candidate discovery, join-selectivity estimation,
    * compression-codec choice all read it): per column, exact row
    * count, distinct count, Shannon entropy and a uniqueness
    * score. Entropy works on the COUNT-OF-COUNTS grain — group by
    * value, then by count — so values themselves never matter
    * (no cross-engine string-canonicalization problem; the
    * histogram of counts is engine-neutral) and the compute grain
    * collapses from |values| to the handful of distinct
    * multiplicities. H = ln N − (Σ cnt·ln cnt)/N in exact
    * nano-units: ln quantized at 1e-9 (§8.4), BIGINT products
    * (cnt·ln9 ≤ 10¹⁷ at sf0.1 — and a DECIMAL widen away at any
    * scale), ONE §8.39-safe integral division. is_key = ndv = N —
    * the profile correctly separates the key column (entropy =
    * ln N, uniqueness 1000‰) from the 3-value flag.
    *
    * Scale shape: per column one map-side-combined value aggregate
    * + a count-of-counts reduction to metadata grain — the p8
    * ANALYZE economics with an information-theoretic column.
    */
  def dq5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    dq5Cols.map { c =>
      val counts = li.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .groupBy($"cnt").agg(count(lit(1)).as("nv"))
      counts
        .agg(sum($"nv" * $"cnt").as("n_rows"), sum($"nv").as("ndv"),
          sum($"nv" * $"cnt" *
            expr("CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)"))
            .as("slc"))
        .selectExpr(s"'$c' AS col_name", "n_rows", "ndv",
          "CAST(floor(ln(CAST(n_rows AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)" +
            " - slc div n_rows AS entropy_nano",
          "(ndv * 1000) div n_rows AS uniq_permille",
          "CAST(CASE WHEN ndv = n_rows THEN 1 ELSE 0 END AS BIGINT) AS is_key")
    }.reduce(_.unionByName(_))
      .transform(graft.Tables.ordered(_, $"col_name"))
  }

  /** dq5 oracle: identical count-of-counts grain, 1e-9 ln
    * quantization, exact products and the single integral division.
    */
  val dq5Sql: String = {
    val legs = dq5Cols.map { c =>
      s"""SELECT '$c' AS col_name, n_rows, ndv,
         |  CAST(floor(ln(CAST(n_rows AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
         |    - slc // n_rows AS entropy_nano,
         |  (ndv * 1000) // n_rows AS uniq_permille,
         |  CAST(CASE WHEN ndv = n_rows THEN 1 ELSE 0 END AS BIGINT) AS is_key
         |FROM (SELECT CAST(sum(nv * cnt) AS BIGINT) AS n_rows,
         |        CAST(sum(nv) AS BIGINT) AS ndv,
         |        CAST(sum(nv * cnt *
         |          CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS slc
         |      FROM (SELECT cnt, CAST(count(*) AS BIGINT) AS nv
         |            FROM (SELECT $c, CAST(count(*) AS BIGINT) AS cnt
         |                  FROM lineitem GROUP BY 1) v
         |            GROUP BY 1) cc)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$legs
      |ORDER BY col_name""".stripMargin
  }

  // ---------- dq4: p-chart rate control (SPC monitoring) ----------

  /** The monitored attribute: high-quantity lines. The generator
    * draws quantity uniformly, so per-day rates are a clean
    * binomial around the center line and the 3σ alarms that fire
    * are the genuine ~0.3% statistical tail — the honest-audit
    * idiom (the chart demonstrably swings both ways without a
    * seeded fault).
    */
  private[graft] val dq4FlagExpr = "l_quantity >= 45"

  /** dq4: SHEWHART p-CHART (Shewhart 1931; the SPC control chart a
    * data-platform runs per ingest partition to catch the day a
    * source silently breaks — null-rate spikes, truncated loads,
    * upstream filter changes): per ship day, the monitored-attribute
    * rate vs the corpus center line with 3σ binomial control
    * limits. The limit test is EXACT integer algebra — the p-chart
    * inequality |x/n − X/N| > 3·√(p̂(1−p̂)/n) squared and cleared of
    * denominators: (x·N − n·X)² > 9·X·(N−X)·n, evaluated in
    * DECIMAL(38,0)/HUGEINT (x·N ≤ 10^11 at sf0.1, squared ≤ 10^23
    * ≪ 10^38 — and still inside 38 digits at 10⁹ rows/day ×
    * 10⁴ days) — no square root, no IEEE anywhere, bitwise
    * cross-engine. Per-day rate is a §8.39-safe permille division.
    *
    * Scale shape: ONE map-side-combined day-grain aggregate (the
    * chart's grain is days — ≤ ~10⁴ rows forever) + a 1-row total
    * broadcast cross join; the limit test is row-local on the
    * day grain. At 100 TB the chart costs the scan plus a
    * metadata-grain reduction — the dq2/dq3 economics.
    */
  /** dq4's per-day count aggregate over a lineitem-shaped frame —
    * shared with the streaming twin (s30): counts are algebraic
    * (merge = sum), so the day table is a mergeable sketch.
    */
  private[graft] def dq4Counts(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.groupBy(date_format($"l_shipdate", "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr(s"CASE WHEN $dq4FlagExpr THEN 1 ELSE 0 END"))
          .cast("long").as("n_flag"))
  }

  /** dq4's chart report from a (day, n_rows, n_flag) count table —
    * shared verbatim with s30 (center line, exact squared 3σ limit
    * test, permille rate).
    */
  private[graft] def dq4Report(perDay: DataFrame): DataFrame = {
    import perDay.sparkSession.implicits._
    val tot = perDay.agg(sum($"n_rows").as("tot_rows"),
      sum($"n_flag").as("tot_flag"))
    val dd = "(CAST(n_flag AS DECIMAL(38,0)) * CAST(tot_rows AS DECIMAL(38,0))" +
      " - CAST(n_rows AS DECIMAL(38,0)) * CAST(tot_flag AS DECIMAL(38,0)))"
    perDay.crossJoin(broadcast(tot))
      .selectExpr("day", "n_rows", "n_flag",
        "(n_flag * 1000) div n_rows AS rate_permille",
        s"""CAST(CASE WHEN $dd * $dd
           | > CAST(9 AS DECIMAL(38,0)) * CAST(tot_flag AS DECIMAL(38,0))
           |   * (CAST(tot_rows AS DECIMAL(38,0)) - CAST(tot_flag AS DECIMAL(38,0)))
           |   * CAST(n_rows AS DECIMAL(38,0))
           |THEN 1 ELSE 0 END AS BIGINT) AS out_of_control""".stripMargin)
      .transform(graft.Tables.ordered(_, $"day"))
  }

  def dq4(spark: SparkSession, dir: String): DataFrame =
    dq4Report(dq4Counts(Tables.lineitem(spark, dir)))

  /** dq4 oracle: identical day counts and the same cleared-denominator
    * squared 3σ inequality in HUGEINT.
    */
  val dq4Sql: String =
    s"""WITH d AS (SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS day,
      |        CAST(count(*) AS BIGINT) AS n_rows,
      |        CAST(sum(CASE WHEN $dq4FlagExpr THEN 1 ELSE 0 END) AS BIGINT) AS n_flag
      |      FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS tot_rows,
      |        CAST(sum(n_flag) AS BIGINT) AS tot_flag FROM d)
      |SELECT day, n_rows, n_flag,
      |  (n_flag * 1000) // n_rows AS rate_permille,
      |  CAST(CASE WHEN (CAST(n_flag AS HUGEINT) * tot_rows - CAST(n_rows AS HUGEINT) * tot_flag)
      |       * (CAST(n_flag AS HUGEINT) * tot_rows - CAST(n_rows AS HUGEINT) * tot_flag)
      |       > 9 * CAST(tot_flag AS HUGEINT) * (tot_rows - tot_flag) * n_rows
      |       THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
      |FROM d, t
      |ORDER BY day""".stripMargin

  // ---------- dq6: MAD robust outlier detection ----------

  /** dq6: ROBUST OUTLIER DETECTION by Median Absolute Deviation —
    * the x̃ ± k·MAD rule (Hampel 1974; Leys et al. 2013's "do not
    * use mean ± k·σ" guidance): the mean/σ control chart (dq4's
    * complement) is itself DRAGGED by the outliers it is meant to
    * find, while the median and the MAD have a 50% breakdown
    * point — the right monitor when whole days go bad. Metric:
    * daily event volume, with a ×4 spike SEEDED on days ≡ 3
    * (mod 11) (the corpus ships clean — dq1/dq2's seeded-anomaly
    * fixture discipline; 3 of the 30 days spike). Everything is
    * EXACT INTEGERS at doubled/quadrupled scale: the dual-middle
    * median trick (q30) gives med×2 = low-mid + high-mid over the
    * day histogram; deviations dev×2 = |2·m − med×2|; MAD×4 =
    * dual-middle of the dev×2 values; the k = 3 flag is the exact
    * integer comparison 2·dev×2 > 3·MAD×4 — no IEEE anywhere, no
    * 1.4826 σ-consistency scaling (the flag is "3 MADs", stated as
    * such).
    *
    * Scale shape: ONE map-side-combined day aggregate off the
    * scan; everything after lives on the ≤31-row day/metadata
    * grain (the dq4/e17 bounded-output class) — windows there are
    * windows over metadata, not data.
    */
  /** dq6's spiked day-metric frame — shared with the streaming
    * door's threshold training (s37). */
  private[graft] def dq6Days(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .selectExpr("unix_micros(ts) div 86400000000 AS day")
      .groupBy($"day").agg(count(lit(1)).as("n_events"))
      .selectExpr("day", "n_events",
        "CASE WHEN day % 11 = 3 THEN n_events * 4 ELSE n_events END AS m")
  }

  /** The trained robust thresholds (med×2, MAD×4) over the stored
    * corpus — dq6's dual-middle construction, collected as two
    * driver constants for the serve-online door (s37).
    */
  private[graft] def dq6Trained(spark: SparkSession, dir: String): (Long, Long) = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
    def medOf(df: DataFrame, vcol: String): DataFrame =
      df.groupBy(col(vcol)).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum($"cnt").over(w.orderBy(col(vcol))))
        .withColumn("tot", sum($"cnt").over(w.partitionBy()))
        .agg((min(when($"cum" * 2 >= $"tot", col(vcol))) +
          min(when($"cum" * 2 >= $"tot" + 1, col(vcol)))).as("med2"))
    val days = dq6Days(spark, dir)
    val med2 = medOf(days, "m").collect()(0).getLong(0)
    val mad4 = medOf(days.selectExpr(s"abs(2 * m - $med2) AS dev2"), "dev2")
      .collect()(0).getLong(0)
    (med2, mad4)
  }

  def dq6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (med2, mad4) = dq6Trained(spark, dir)
    dq6Days(spark, dir)
      .selectExpr("day", "n_events", "m", s"CAST($med2 AS BIGINT) AS med2",
        s"abs(2 * m - $med2) AS dev2", s"CAST($mad4 AS BIGINT) AS mad4",
        s"CAST(CASE WHEN 2 * abs(2 * m - $med2) > 3 * $mad4 THEN 1 ELSE 0 END AS BIGINT) AS is_outlier")
      .transform(Tables.ordered(_, $"day"))
  }

  /** dq6 oracle: the same day aggregate, seeded spike, dual-middle
    * med×2 / MAD×4 construction and exact k = 3 comparison.
    */
  val dq6Sql: String =
    """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |        CAST(count(*) AS BIGINT) AS n_events
      |      FROM events GROUP BY 1),
      |dm AS (SELECT day, n_events,
      |        CASE WHEN day % 11 = 3 THEN n_events * 4 ELSE n_events END AS m
      |      FROM d),
      |h1 AS (SELECT m, count(*) AS cnt FROM dm GROUP BY 1),
      |c1 AS (SELECT m, sum(cnt) OVER (ORDER BY m) AS cum,
      |        sum(cnt) OVER () AS tot FROM h1),
      |md AS (SELECT CAST(min(CASE WHEN cum * 2 >= tot THEN m END)
      |          + min(CASE WHEN cum * 2 >= tot + 1 THEN m END) AS BIGINT) AS med2
      |      FROM c1),
      |dv AS (SELECT day, n_events, m, med2, abs(2 * m - med2) AS dev2
      |      FROM dm, md),
      |h2 AS (SELECT dev2, count(*) AS cnt FROM dv GROUP BY 1),
      |c2 AS (SELECT dev2, sum(cnt) OVER (ORDER BY dev2) AS cum,
      |        sum(cnt) OVER () AS tot FROM h2),
      |mc AS (SELECT CAST(min(CASE WHEN cum * 2 >= tot THEN dev2 END)
      |          + min(CASE WHEN cum * 2 >= tot + 1 THEN dev2 END) AS BIGINT) AS mad4
      |      FROM c2)
      |SELECT day, n_events, m, med2, dev2, mad4,
      |  CAST(CASE WHEN 2 * dev2 > 3 * mad4 THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
      |FROM dv, mc
      |ORDER BY day""".stripMargin

  // ---------- dq7: functional-dependency audit ----------

  /** dq7: FUNCTIONAL-DEPENDENCY AUDIT — the constraint-MINING pass
    * profiling tools run where dq1 VALIDATES declared rules: does
    * column A determine column B in the data (A → B), and if not,
    * how badly is it broken? For each candidate FD the audit
    * reports the LHS group count, how many groups see more than one
    * distinct RHS (the violating witnesses), the worst group's RHS
    * fan-out, a holds flag, and support in exact permille
    * (non-violating/groups — a §8.39-safe non-negative integral
    * division). Candidates span the spectrum the spec needs: a
    * discovered unique key (n_name → n_regionkey holds though
    * n_name is not the declared key), a declared-key LHS
    * (c_custkey → c_mktsegment, trivially holds — the sanity
    * anchor), and three genuinely violated dependencies with
    * different support levels.
    *
    * Scale shape: per candidate ONE (lhs → count distinct rhs)
    * aggregate plus one audit-grain rollup — all equality-keyed and
    * map-side combinable; the audit table is candidates-sized.
    */
  def dq7(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def fd(name: String, df: DataFrame, lhs: String, rhs: String)
        : DataFrame = {
      val g = df.groupBy(col(lhs).as("l"))
        .agg(countDistinct(col(rhs)).as("nr"))
      g.agg(count(lit(1)).as("n_groups"),
          sum(when($"nr" > 1, 1L).otherwise(0L)).as("n_violating"),
          max($"nr").as("max_rhs"))
        .selectExpr(s"'$name' AS fd", "n_groups", "n_violating", "max_rhs",
          "n_violating = 0 AS holds",
          "CAST((n_groups - n_violating) * 1000 div n_groups AS BIGINT) AS support_permille")
    }
    fd("nation.n_name->n_regionkey", Tables.nation(spark, dir),
        "n_name", "n_regionkey")
      .unionByName(fd("customer.c_custkey->c_mktsegment",
        Tables.customer(spark, dir), "c_custkey", "c_mktsegment"))
      .unionByName(fd("orders.o_custkey->o_orderpriority",
        Tables.orders(spark, dir), "o_custkey", "o_orderpriority"))
      .unionByName(fd("lineitem.l_orderkey->l_suppkey",
        Tables.lineitem(spark, dir), "l_orderkey", "l_suppkey"))
      .unionByName(fd("events.user_id->event_type",
        Tables.events(spark, dir), "user_id", "event_type"))
      .transform(graft.Tables.ordered(_, col("fd")))
  }

  /** dq7 oracle: the same five candidate audits as plain GROUP BYs. */
  val dq7Sql: String = {
    def fd(name: String, table: String, lhs: String, rhs: String): String =
      s"""SELECT '$name' AS fd, CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
         |  CAST(max(nr) AS BIGINT) AS max_rhs,
         |  sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0 AS holds,
         |  CAST((count(*) - sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END)) * 1000
         |    // count(*) AS BIGINT) AS support_permille
         |FROM (SELECT $lhs, CAST(count(DISTINCT $rhs) AS BIGINT) AS nr
         |      FROM $table GROUP BY 1)""".stripMargin
    Seq(
      fd("nation.n_name->n_regionkey", "nation", "n_name", "n_regionkey"),
      fd("customer.c_custkey->c_mktsegment", "customer",
        "c_custkey", "c_mktsegment"),
      fd("orders.o_custkey->o_orderpriority", "orders",
        "o_custkey", "o_orderpriority"),
      fd("lineitem.l_orderkey->l_suppkey", "lineitem",
        "l_orderkey", "l_suppkey"),
      fd("events.user_id->event_type", "events", "user_id", "event_type"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
  }

  // ---------- dq8: replica reconciliation (merkle-bucket diff) ----------

  /** Bucket count for the reconciliation digests. Sized so at test
    * scale most buckets are CLEAN (the whole point of the
    * technique); at 100 TB this is the merkle fan-out knob — digest
    * tables stay tiny at any corpus size. */
  private[graft] val dq8Buckets = 4096L

  /** The canonical row string both sides fingerprint — exact-typed
    * columns only (integers + bounded ASCII enums), so the FNV fold
    * is bit-identical across engines. */
  private[graft] val dq8Canon =
    "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, o_orderpriority)"

  /** The deterministic DIVERGED REPLICA of orders — all three defect
    * classes a real replication pipeline produces, planted by key
    * arithmetic so the oracle re-derives them: every %997 key is
    * MISSING (a lost write), every %1009 key is CORRUPT (its status
    * byte flipped to 'X' — a torn update), and every %1013 key has
    * spawned an EXTRA row at key+10^8 (a replayed write landing
    * under a new key; 10^8 is outside the key space at tested
    * scales). 997·1009 > the key space, so the classes overlap only
    * at key 0 — which both engines resolve identically (missing
    * wins: the row isn't there to be corrupt). */
  private[graft] def dq8Replica(p: DataFrame): DataFrame =
    p.filter("o_orderkey % 997 <> 0")
      .selectExpr("o_orderkey", "o_custkey",
        "CASE WHEN o_orderkey % 1009 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus",
        "o_orderpriority")
      .unionByName(p.filter("o_orderkey % 1013 = 0")
        .selectExpr("o_orderkey + 100000000 AS o_orderkey", "o_custkey",
          "o_orderstatus", "o_orderpriority"))

  /** dq8: REPLICA RECONCILIATION — the merkle-bucket anti-entropy
    * sweep every replicated lake runs (Cassandra/Dynamo repair,
    * Delta clone verification): prove two copies of a 100 TB table
    * equal — or localize exactly where they differ — WITHOUT a
    * row-by-row full compare. Each side folds every row into a
    * per-bucket digest: rows fingerprint with the shared FNV-1a
    * Catalyst expression over a canonical column string, buckets
    * key on `pk % `[[dq8Buckets]], and the bucket digest is
    * (count, bit_xor of row hashes) — XOR makes the digest
    * ORDER-INDEPENDENT and map-side combinable with no overflow,
    * so each side costs ONE scan + one tiny aggregate (the digest
    * table is 4096 rows at any corpus size). Buckets whose
    * (count, xor) pairs match are PROVEN equal (up to hash
    * collision) and never touched again; only MISMATCHED buckets'
    * rows enter the row-grain full-outer drill (semi-joined on the
    * bad-bucket set — a broadcast at any scale), which classifies
    * each divergent key as missing / extra / corrupt. Output: one
    * row per mismatched bucket with its class counts.
    *
    * Scale: the row-grain JOIN/shuffle work is proportional to the
    * DIVERGENCE, not the table — a healthy 100 TB replica pair
    * reconciles with two scans and a 4096-row compare, and a
    * 0.1%-diverged pair shuffles ~0.1% of its rows into the drill.
    * The drill's SCAN is pruned by the storage layout: a production
    * replica pair is bucketed/partitioned on the same pk hash, so
    * the bad-bucket predicate prunes at the file level; on this
    * unbucketed fixture the broadcast semi-join scopes post-scan
    * (still zero extra shuffles — the plan pin). The digest
    * aggregate is exactly the shape AQE loves: partial
    * bit_xor/count map-side, 4096 groups.
    */
  def dq8(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority")
    val p = Tables.orders(spark, dir).selectExpr(cols: _*)
    reconcile(p, dq8Replica(p))
  }

  /** Per-row fingerprint + bucket key over an order-shaped frame —
    * the shared leg of the batch kernel and the streaming door. */
  private[graft] def fingered(t: DataFrame): DataFrame = t
    .withColumn("h", graft.functions.Fnv64.fnv64(expr(dq8Canon)))
    .withColumn("bucket", expr(s"o_orderkey % $dq8Buckets"))
    .select(col("bucket"), col("o_orderkey").as("k"), col("h"))

  /** The per-bucket merkle digest: (count, bit_xor of fingerprints)
    * — order-independent and ALGEBRAIC (a union of digest frames
    * re-aggregates with sum/xor), which is what lets the streaming
    * door (s44) fold arrivals into O(buckets) state. */
  private[graft] def bucketDigest(t: DataFrame): DataFrame =
    fingered(t).groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"))

  /** The reconciliation kernel of [[dq8]] over an arbitrary
    * (primary, replica) pair of order-shaped frames — factored so
    * the spec can prove a CLEAN pair reconciles to an empty report
    * with nothing drilled. */
  private[graft] def reconcile(p: DataFrame, r: DataFrame): DataFrame =
    reconcileFromDigests(bucketDigest(p), bucketDigest(r), p, r)

  /** The digest-compare + bad-bucket-scoped drill, over
    * PRE-COMPUTED digest tables — the streaming door passes its
    * accumulated replica digests here, with the row frames read
    * from the stores only for the drill (the repair job's read
    * pattern: row-grain work proportional to the divergence). */
  private[graft] def reconcileFromDigests(pDig: DataFrame, rDig: DataFrame,
      p: DataFrame, r: DataFrame): DataFrame =
    drillReport(digestMismatch(pDig, rDig), p, r)

  /** Buckets whose (count, xor) digest pairs differ between two
    * digest tables — null-safe on both columns so a bucket present
    * on only one side mismatches. Output (bucket, n_primary,
    * n_replica) with absent sides counted 0. Factored so the
    * streaming door (s44) can compare its FOLD against the store's
    * published watermark digests with the same kernel it uses for
    * primary-vs-replica. */
  private[graft] def digestMismatch(aDig: DataFrame, bDig: DataFrame)
      : DataFrame = {
    val spark = aDig.sparkSession
    import spark.implicits._
    aDig.selectExpr("bucket", "n AS n_p", "x AS x_p")
      .join(bDig.selectExpr("bucket", "n AS n_r", "x AS x_r"),
        Seq("bucket"), "full_outer")
      .filter("NOT (n_p <=> n_r) OR NOT (x_p <=> x_r)")
      .select($"bucket", coalesce($"n_p", lit(0L)).as("n_primary"),
        coalesce($"n_r", lit(0L)).as("n_replica"))
  }

  /** The bad-bucket-scoped row-grain drill + report tail over an
    * explicit conviction set — the repair job's read pattern: `p`
    * and `r` are the STORES (the door passes the replica's parquet
    * store here, never a re-derivation), and only `bad`'s buckets
    * are ever fingered. */
  /** The bad-bucket-scoped drill at KEY grain — every (bucket, k)
    * either store holds inside `bad`'s buckets, with both sides'
    * fingerprints (null where absent). The ONE drill kernel:
    * [[drillReport]] aggregates it to class counts (dq8/s44's
    * report) and dq9 classifies it into corrections — a change to
    * the drill contract (canon string, hash, bucket key) lands in
    * both consumers by construction. The broadcast semi-join is
    * the proportional-to-divergence pin. */
  private def drillRows(bad: DataFrame,
      p: DataFrame, r: DataFrame): DataFrame = {
    val badK = broadcast(bad.select(col("bucket")))
    fingered(p).join(badK, Seq("bucket"), "left_semi")
      .withColumnRenamed("h", "hp")
      .join(fingered(r).join(badK, Seq("bucket"), "left_semi")
        .withColumnRenamed("h", "hr"), Seq("bucket", "k"), "full_outer")
  }

  private[graft] def drillReport(bad: DataFrame,
      p: DataFrame, r: DataFrame): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    val drill = drillRows(bad, p, r)
      .selectExpr("bucket",
        "CASE WHEN hr IS NULL THEN 1 ELSE 0 END AS m",
        "CASE WHEN hp IS NULL THEN 1 ELSE 0 END AS e",
        "CASE WHEN hp IS NOT NULL AND hr IS NOT NULL AND hp <> hr THEN 1 ELSE 0 END AS c")
      .groupBy($"bucket")
      .agg(sum($"m").as("n_missing"), sum($"e").as("n_extra"),
        sum($"c").as("n_corrupt"))
    bad.join(drill, Seq("bucket"))
      .select($"bucket", $"n_primary", $"n_replica", $"n_missing",
        $"n_extra", $"n_corrupt")
      .transform(graft.Tables.ordered(_, $"bucket"))
  }

  /** dq8 oracle: the identical replica construction, the shared FNV
    * mirror over the same canonical string, per-bucket (count,
    * bit_xor) digests, IS DISTINCT FROM mismatch, and the
    * bad-bucket-scoped full-outer drill. */
  val dq8Sql: String = {
    val canon = "CAST(k AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)" +
      " || '|' || o_orderstatus || '|' || o_orderpriority"
    val h = graft.functions.Fnv64.duckSigned("(" + canon + ")")
    s"""WITH p AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
      |        o_orderpriority FROM orders),
      |r AS (SELECT k, o_custkey,
      |        CASE WHEN k % 1009 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
      |        o_orderpriority
      |      FROM p WHERE k % 997 <> 0
      |      UNION ALL
      |      SELECT k + 100000000, o_custkey, o_orderstatus, o_orderpriority
      |      FROM p WHERE k % 1013 = 0),
      |pc AS (SELECT k % $dq8Buckets AS bucket, k, $h AS h FROM p),
      |rc AS (SELECT k % $dq8Buckets AS bucket, k, $h AS h FROM r),
      |pd AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_p,
      |        bit_xor(h) AS x_p FROM pc GROUP BY 1),
      |rd AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_r,
      |        bit_xor(h) AS x_r FROM rc GROUP BY 1),
      |bad AS (SELECT coalesce(pd.bucket, rd.bucket) AS bucket,
      |        coalesce(n_p, 0) AS n_primary, coalesce(n_r, 0) AS n_replica
      |      FROM pd FULL JOIN rd ON rd.bucket = pd.bucket
      |      WHERE n_p IS DISTINCT FROM n_r OR x_p IS DISTINCT FROM x_r),
      |drill AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
      |        CAST(sum(CASE WHEN b.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
      |        CAST(sum(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_extra,
      |        CAST(sum(CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
      |              AND a.h <> b.h THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt
      |      FROM (SELECT pc.* FROM pc WHERE bucket IN (SELECT bucket FROM bad)) a
      |      FULL JOIN (SELECT rc.* FROM rc WHERE bucket IN (SELECT bucket FROM bad)) b
      |        ON b.bucket = a.bucket AND b.k = a.k
      |      GROUP BY 1)
      |SELECT bad.bucket, bad.n_primary, bad.n_replica,
      |  d.n_missing, d.n_extra, d.n_corrupt
      |FROM bad JOIN drill d ON d.bucket = bad.bucket
      |ORDER BY bad.bucket""".stripMargin
  }

  // ---------- dq9: replica repair (the corrections dq8 localizes) ----------

  /** dq9: REPLICA REPAIR — the leg that makes the reconciliation
    * family actionable, completing detect (dq8's digests) →
    * localize (the drill) → **repair**: emit one CORRECTION per
    * divergent key — `insert_missing` (ship the primary's row),
    * `delete_extra` (drop the replayed write), `overwrite_corrupt`
    * (replace the torn row with the primary's) — which is exactly
    * what Cassandra's anti-entropy repair streams and what a Delta
    * MERGE-from-primary applies. The corrections ride with the
    * post-repair PROOF column `residual_buckets`: the digest each
    * divergent bucket WOULD hold after applying exactly these
    * corrections, recompared against the primary's — computed
    * ALGEBRAICALLY (the corrections' per-bucket (Δcount, Δxor)
    * folded into the replica's digests; exact because the digest is
    * an abelian fold, so row-identical to digesting the applied
    * frame) on the Spark side, and from the actually-applied rows
    * on the DuckDB side — a correction set that misses or misfixes
    * a key cannot read 0 on either engine. The WRITE-BACK leg that
    * applies the corrections to a persisted store and re-proves
    * from disk is dq10.
    *
    * Scale: corrections are divergence-proportional rows (the drill
    * reads only flagged buckets); the residual proof is digest
    * algebra over O(buckets + |corrections|) rows — NO second store
    * scan. A 0.1%-diverged 100 TB replica emits its repair plan
    * with one scan per side + row work proportional to the
    * divergence.
    */
  def dq9(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority")
    val p = Tables.orders(spark, dir).selectExpr(cols: _*)
    val r = dq8Replica(p)
    val pDig = bucketDigest(p)
    val rDig = bucketDigest(r)
    val bad = digestMismatch(pDig, rDig)
    // checkpoint = false: the one-shot batch query holds no state
    // across calls, so the corrections subtree is left lazy (its two
    // plan consumers re-derive the divergence-scoped drill — cheaper
    // than a session-lifetime cached frame); the streaming door
    // checkpoints and frees per batch instead.
    repairReport(repairCorrections(bad, p, r, checkpoint = false),
      pDig, rDig)
  }

  /** The KEY-GRAIN corrections for `bad`'s buckets: the shared
    * drill kernel classified into repair actions — one row per
    * divergent key, carrying both sides' fingerprints (null where
    * absent) so consumers can fold the correction's digest delta
    * without re-reading either store. `checkpoint` is the streaming
    * door's state discipline (s45 frees the previous batch's frame);
    * the batch path passes false and stays leak-free. */
  private[graft] def repairCorrections(bad: DataFrame,
      p: DataFrame, r: DataFrame, checkpoint: Boolean = true)
      : DataFrame = {
    import p.sparkSession.implicits._
    val corr = drillRows(bad, p, r)
      .selectExpr("bucket", "k",
        """CASE WHEN hr IS NULL THEN 'insert_missing'
          |     WHEN hp IS NULL THEN 'delete_extra'
          |     WHEN hp <> hr THEN 'overwrite_corrupt' END AS action""".stripMargin,
        "hp", "hr")
      .filter($"action".isNotNull)
    if (checkpoint) corr.localCheckpoint() else corr
  }

  /** The per-bucket digest table the replica WOULD hold after
    * applying exactly `corr` to the store whose digests are `rDig`
    * — pure digest algebra: an insert adds (+1, ⊕hp), a delete
    * (−1, ⊕hr), an overwrite (0, ⊕hp⊕hr); exact because (count,
    * bit_xor) is an abelian-group fold, so this equals digesting
    * the applied rows without touching them. Buckets emptied by the
    * repair vanish (a digest table never holds empty buckets). */
  private[graft] def repairedDigest(corr: DataFrame, rDig: DataFrame)
      : DataFrame = {
    import rDig.sparkSession.implicits._
    val delta = corr.groupBy($"bucket").agg(
      sum(expr("CASE action WHEN 'insert_missing' THEN 1 " +
        "WHEN 'delete_extra' THEN -1 ELSE 0 END")).as("dn"),
      expr("bit_xor(coalesce(hp, CAST(0 AS BIGINT)) ^ " +
        "coalesce(hr, CAST(0 AS BIGINT)))").as("dx"))
    rDig.join(delta, Seq("bucket"), "full_outer")
      .selectExpr("bucket",
        "coalesce(n, CAST(0 AS BIGINT)) + coalesce(dn, CAST(0 AS BIGINT)) AS n",
        "coalesce(x, CAST(0 AS BIGINT)) ^ coalesce(dx, CAST(0 AS BIGINT)) AS x")
      .filter("n > 0")
  }

  /** Emit `corr` with the post-repair PROOF column:
    * `residual_buckets` counts buckets still mismatching the
    * primary after applying exactly `corr` to the store digested by
    * `rDig` (0 for a full repair; for the streaming door's partial,
    * watermark-gated repairs it counts the divergent buckets still
    * pending — the repair-progress dial). All digest algebra — the
    * stores are never re-read. */
  private[graft] def repairReport(corr: DataFrame, pDig: DataFrame,
      rDig: DataFrame): DataFrame = {
    import pDig.sparkSession.implicits._
    val residual = digestMismatch(pDig, repairedDigest(corr, rDig))
      .agg(count(lit(1)).as("residual_buckets"))
    corr.crossJoin(broadcast(residual))
      .select($"bucket", $"k", $"action", $"residual_buckets")
      .transform(graft.Tables.ordered(_, $"bucket", $"k"))
  }

  /** dq9 oracle: dq8's digest/drill chain emitted at KEY grain with
    * the action classification, the same keyed apply, and the
    * post-repair digest recompare — `residual_buckets` is computed
    * by DuckDB too, so 0 is proven twice. */
  val dq9Sql: String = {
    val canon = "CAST(k AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)" +
      " || '|' || o_orderstatus || '|' || o_orderpriority"
    val h = graft.functions.Fnv64.duckSigned("(" + canon + ")")
    s"""WITH p AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
      |        o_orderpriority FROM orders),
      |r AS (SELECT k, o_custkey,
      |        CASE WHEN k % 1009 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
      |        o_orderpriority
      |      FROM p WHERE k % 997 <> 0
      |      UNION ALL
      |      SELECT k + 100000000, o_custkey, o_orderstatus, o_orderpriority
      |      FROM p WHERE k % 1013 = 0),
      |pc AS (SELECT k % $dq8Buckets AS bucket, k, $h AS h FROM p),
      |rc AS (SELECT k % $dq8Buckets AS bucket, k, $h AS h FROM r),
      |pd AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_p,
      |        bit_xor(h) AS x_p FROM pc GROUP BY 1),
      |rd AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_r,
      |        bit_xor(h) AS x_r FROM rc GROUP BY 1),
      |bad AS (SELECT coalesce(pd.bucket, rd.bucket) AS bucket
      |      FROM pd FULL JOIN rd ON rd.bucket = pd.bucket
      |      WHERE n_p IS DISTINCT FROM n_r OR x_p IS DISTINCT FROM x_r),
      |corr AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
      |        coalesce(a.k, b.k) AS k,
      |        CASE WHEN b.k IS NULL THEN 'insert_missing'
      |             WHEN a.k IS NULL THEN 'delete_extra'
      |             WHEN a.h <> b.h THEN 'overwrite_corrupt' END AS action
      |      FROM (SELECT pc.* FROM pc WHERE bucket IN (SELECT bucket FROM bad)) a
      |      FULL JOIN (SELECT rc.* FROM rc WHERE bucket IN (SELECT bucket FROM bad)) b
      |        ON b.bucket = a.bucket AND b.k = a.k
      |      WHERE b.k IS NULL OR a.k IS NULL OR a.h <> b.h),
      |rep AS (SELECT * FROM r WHERE k NOT IN (
      |        SELECT k FROM corr WHERE action IN ('delete_extra', 'overwrite_corrupt'))
      |      UNION ALL
      |      SELECT * FROM p WHERE k IN (
      |        SELECT k FROM corr WHERE action IN ('insert_missing', 'overwrite_corrupt'))),
      |repc AS (SELECT k % $dq8Buckets AS bucket, $h AS h FROM rep),
      |repd AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_r,
      |        bit_xor(h) AS x_r FROM repc GROUP BY 1),
      |resid AS (SELECT CAST(count(*) AS BIGINT) AS residual_buckets
      |      FROM pd FULL JOIN repd ON repd.bucket = pd.bucket
      |      WHERE n_p IS DISTINCT FROM repd.n_r
      |         OR x_p IS DISTINCT FROM repd.x_r)
      |SELECT corr.bucket, corr.k, corr.action, resid.residual_buckets
      |FROM corr CROSS JOIN resid
      |ORDER BY corr.bucket, corr.k""".stripMargin
  }

  // ---------- dq10: repair WRITE-BACK (the healed lake) ----------

  /** Partition-group fan-out of the versioned replica store: rows
    * land in partition `pg = bucket % dq10Parts`, so each of the
    * [[dq10Parts]] store partitions holds `dq8Buckets/dq10Parts`
    * digest buckets. This is the COPY-ON-WRITE grain: a repair
    * rewrites only the partitions containing convicted buckets —
    * write amplification is O(damaged partitions), never O(table).
    * At 100 TB this knob scales up with the table (more, smaller
    * partitions → finer rewrites); the bucket→partition map is
    * modular arithmetic, so digest buckets and store partitions
    * stay aligned by construction. */
  private[graft] val dq10Parts = 64L

  private[graft] def withPg(t: DataFrame): DataFrame =
    t.withColumn("pg", expr(s"(o_orderkey % $dq8Buckets) % $dq10Parts"))

  /** Newest COMMITTED version of a partitioned replica store — a
    * numbered [[graft.store.Versioned]] root, so a torn publish is
    * never visible to readers. */
  private[graft] def latestStoreVersion(root: String): Option[Int] =
    graft.store.Versioned(root).latestCommitted

  /** The manifest is the RESOLUTION MAP: one `pg version` line per
    * partition group naming the version directory that serves it —
    * Iceberg/Delta's copy-on-write file resolution at partition
    * grain. Readers are manifest-scoped, never listing-scoped. */
  private[graft] def writeStoreManifest(root: String, v: Int,
      map: Map[Long, Int]): Unit =
    graft.store.Versioned(root).commit(s"v$v")(_ =>
      map.toSeq.sortBy(_._1).map { case (pg, ver) => s"$pg $ver" })

  /** Resolution map of the newest committed version; refuses loudly
    * on an empty or all-torn store (the committed-read gate). */
  private[graft] def readStoreManifest(root: String)
      : (Int, Map[Long, Int]) = {
    val v = latestStoreVersion(root).getOrElse(throw new
      IllegalStateException(
        s"no committed replica version under $root — refusing to serve"))
    (v, resolutionMap(root, v).get)
  }

  private def resolutionMap(root: String, v: Int): Option[Map[Long, Int]] =
    graft.store.Versioned(root).manifest(s"v$v").map(_.map(_.split(" "))
      .map(a => a(0).toLong -> a(1).toInt).toMap)

  /** Each version directory records its OWN schema as a `_SCHEMA`
    * DDL file, written with the data and before the manifest: the
    * store's reads must be explicit-schema (a repair that empties
    * every row of its damaged partitions legitimately publishes a
    * data directory with no files, and an inference-based read of
    * that version would refuse a store state the store's own writer
    * created — including the oldest-serving version itself, once
    * enough repairs have rotated the seed out of the manifest), and
    * with per-version evolution the schema is version state, not
    * store state. */
  private[graft] def writeStoreSchema(root: String, v: Int,
      schema: org.apache.spark.sql.types.StructType): Unit =
    graft.store.Versioned(root).replace(s"v$v/_SCHEMA", schema.toDDL)

  private[graft] def readStoreSchema(spark: SparkSession, root: String,
      v: Int): org.apache.spark.sql.types.StructType =
    graft.store.Versioned(root).read(s"v$v/_SCHEMA")
      .map(org.apache.spark.sql.types.StructType.fromDDL)
      // pre-_SCHEMA version directory: infer (non-empty by then)
      .getOrElse(spark.read.parquet(s"$root/v$v/data").schema)

  /** Read the store through the newest committed manifest. */
  private[graft] def readReplicaStore(spark: SparkSession,
      root: String): DataFrame =
    readReplicaStoreAt(spark, root, readStoreManifest(root)._1)

  /** Read the store AS OF committed version `at` (time travel — the
    * ForecastStore.loadVersion posture): one pruned scan per
    * DISTINCT serving version in `at`'s resolution map (the `pg`
    * partition-column filter prunes at the directory level — a
    * 63-partitions-from-v1, 1-from-v2 layout reads exactly those
    * directories), unioned under the ADDITIVE-EVOLUTION contract
    * (the Delta/Iceberg additive read): the resolved schema is the
    * UNION of the serving versions' recorded schemas in version
    * order, pre-evolution partitions serve added columns as typed
    * NULL defaults, and a version that REMOVED a column an earlier
    * serving version still carries refuses loudly — dropping data
    * silently is the one thing an evolving reader may never do.
    * Time travel composes: reading as of v1 serves v1's shape,
    * because the union is over the versions THAT manifest names. */
  private[graft] def readReplicaStoreAt(spark: SparkSession,
      root: String, at: Int): DataFrame = {
    val map = resolutionMap(root, at).getOrElse(throw new
      IllegalStateException(
        s"no committed version v$at under $root — refusing to serve"))
    val byV = map.groupBy(_._2).toSeq.sortBy(_._1)
    val schemas = byV.map { case (v, _) =>
      v -> readStoreSchema(spark, root, v)
    }.toMap
    val union = byV.map(_._1).flatMap(v => schemas(v).fields)
      .foldLeft(Vector.empty[org.apache.spark.sql.types.StructField]) {
        (acc, f) => if (acc.exists(_.name == f.name)) acc else acc :+ f
      }
    val newestNames = schemas(byV.last._1).fieldNames.toSet
    val removed = union.map(_.name).filterNot(newestNames)
    if (removed.nonEmpty) throw new IllegalStateException(
      s"store $root v${byV.last._1} removed column(s) " +
        s"${removed.mkString(", ")} still served by older versions — " +
        "only ADDITIVE schema evolution is supported")
    byV.map { case (v, pgs) =>
      val s = schemas(v)
      val have = s.fieldNames.toSet
      val df = spark.read.schema(s).parquet(s"$root/v$v/data")
        .filter(col("pg").isin(pgs.keys.toSeq: _*))
      union.filterNot(f => have(f.name)).foldLeft(df) { (d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType))
      }.select(union.map(f => col(f.name)): _*)
    }.reduce(_ unionByName _)
  }

  /** Seed `root` with v1 = `rows` (order-shaped), partitioned by
    * `pg`. */
  private[graft] def seedStoreFrom(rows: DataFrame, root: String): Unit = {
    val shaped = withPg(rows)
    shaped
      .repartition(dq10Parts.toInt, col("pg"))
      .write.partitionBy("pg").parquet(s"$root/v1/data")
    writeStoreSchema(root, 1, shaped.schema)
    writeStoreManifest(root, 1, (0L until dq10Parts).map(_ -> 1).toMap)
  }

  /** Seed `root` with v1 = the deterministic diverged replica. */
  private[graft] def seedReplicaStore(p: DataFrame, root: String): Unit =
    seedStoreFrom(dq8Replica(p), root)

  /** ONE repair pass over the store: digest-compare the store
    * against the primary, derive dq9's key-grain corrections for
    * the convicted buckets, and — only when there is anything to
    * heal — PUBLISH the next store version: the damaged partition
    * groups rewritten with the corrections applied (p6's MERGE
    * shape: broadcast-keyed anti/semi joins, scoped to the damaged
    * partitions' pruned read), the corrections landed beside the
    * data as the `repairlog` audit log (what Cassandra's read-repair
    * and a Delta MERGE history record), untouched partitions
    * re-pointed at their existing files — a crash anywhere leaves the
    * previous version serving.
    * A pass over a healthy store derives ZERO corrections and
    * publishes NOTHING (idempotence is structural: no divergence →
    * no damaged partitions → no write). Returns the correction
    * count; the corrections checkpoint is freed before returning
    * (the report is read back from the persisted log, not from
    * session state). */
  private[graft] def repairPass(spark: SparkSession, root: String,
      p: DataFrame): Long = {
    val r = readReplicaStore(spark, root)
    val bad = digestMismatch(bucketDigest(p), bucketDigest(r))
    val corr = repairCorrections(bad, p, r, checkpoint = true)
    val n = corr.count()
    if (n > 0L) publishCorrections(spark, root, corr, p, r)
    graft.functions.Lineage.freeCheckpoint(corr)
    n
  }

  /** The PUBLISH leg shared by the batch pass and the streaming
    * door (s46): apply `corr` to the damaged partition groups of
    * the store at `root` (read from `r`, its current resolved view)
    * and commit the next version — damaged partitions rewritten,
    * corrections landed as the `repairlog` audit, untouched partitions
    * re-pointed. Caller guarantees `corr` is
    * non-empty and checkpointed. Returns (published version,
    * damaged partition-group set) — the set bounds the caller's
    * from-disk re-audit (s46's mark refresh reads back exactly
    * those partitions). */
  private[graft] def publishCorrections(spark: SparkSession,
      root: String, corr: DataFrame, p: DataFrame, r: DataFrame)
      : (Int, Set[Long]) = {
    import spark.implicits._
    val (_, pgmap) = readStoreManifest(root)
    // bounded collect: ≤ dq10Parts partition-group ids
    val damaged = corr.select(expr(s"bucket % $dq10Parts").as("pg"))
      .distinct().as[Long].collect().toSet
    val delK = broadcast(corr
      .filter($"action".isin("delete_extra", "overwrite_corrupt"))
      .select($"k".as("o_orderkey")))
    val insK = broadcast(corr
      .filter($"action".isin("insert_missing", "overwrite_corrupt"))
      .select($"k".as("o_orderkey")))
    // allowMissingColumns = the ADDITIVE-EVOLUTION seam (dq13): a
    // repair against an evolved primary ships corrected rows that
    // carry columns the store's older rows lack — kept rows default
    // them NULL (no backfill: copy-on-write touches only correction
    // keys), and the rewritten version's _SCHEMA records the wider
    // shape. On a non-evolving pass both sides match and this is
    // plain unionByName.
    val healed = r.filter($"pg".isin(damaged.toSeq: _*))
      .join(delK, Seq("o_orderkey"), "left_anti")
      .unionByName(withPg(p.join(insK, Seq("o_orderkey"), "left_semi")),
        allowMissingColumns = true)
      .repartition(damaged.size, col("pg"))
    val next = graft.store.Versioned(root).next
    healed.write.partitionBy("pg").parquet(s"$root/v$next/data")
    writeStoreSchema(root, next, healed.schema)
    // the audit log keeps every correction column except the raw
    // fingerprints (dq10 logs bucket/k/action; dq12's adds
    // replica/source — whatever rides the corrections frame)
    corr.drop("hp", "hr").write.parquet(s"$root/v$next/repairlog")
    writeStoreManifest(root, next,
      pgmap.map { case (pg, v) => pg -> (if (damaged(pg)) next else v) })
    (next, damaged)
  }

  /** dq10: REPAIR WRITE-BACK — the leg that turns dq9's
    * "corrections + proof" into A HEALED LAKE: the replica is a
    * PERSISTED, versioned, partition-grain copy-on-write parquet
    * store, and the repair job actually applies the corrections to
    * it. The query runs the whole story end-to-end: seed v1 (the
    * diverged replica), repair pass 1 (digest
    * compare FROM THE STORE → dq9's corrections → publish v2 with
    * only the DAMAGED partition groups rewritten + the `repairlog`
    * audit log + the re-pointed manifest), repair pass 2 (reads the
    * healed store, derives ZERO corrections, publishes nothing —
    * idempotence proven structurally), then emits the v2 repair log
    * with TWO proof columns recomputed from PERSISTED state:
    * `residual_buckets` (the healed store's digests re-derived from
    * disk vs the primary's — 0) and `rerun_corrections` (what a
    * third pass would emit — 0). Both are computed, never asserted,
    * on both engines.
    *
    * Scale: the digest compare is O(4096) rows after one scan per
    * side; corrections are divergence-proportional; the REWRITE is
    * the whole point — O(damaged partitions) bytes, with untouched
    * partitions re-pointed, not copied (the manifest is the commit,
    * Iceberg/Delta's COW discipline at partition grain); a torn
    * publish is invisible and a second run is a
    * no-op. A 0.1%-diverged 100 TB replica heals by rewriting ~0.1%
    * of its partitions. */
  def dq10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority")
    val p = Tables.orders(spark, dir).selectExpr(cols: _*)
    val root = graft.store.Versioned.tempRoot("graft_dq10_")
    seedReplicaStore(p, root)
    repairPass(spark, root, p)
    val rerun = repairPass(spark, root, p)
    val (v, _) = readStoreManifest(root)
    val corrLog = spark.read.parquet(s"$root/v$v/repairlog")
    val residual = digestMismatch(bucketDigest(p),
        bucketDigest(readReplicaStore(spark, root)))
      .agg(count(lit(1)).as("residual_buckets"))
    corrLog.crossJoin(broadcast(residual))
      .select($"bucket", $"k", $"action", $"residual_buckets",
        lit(rerun).as("rerun_corrections"))
      .transform(graft.Tables.ordered(_, $"bucket", $"k"))
  }

  /** dq10 oracle: dq9's corrections + applied state, with BOTH
    * persisted-state proofs recomputed relationally — the residual
    * digest compare over the applied rows AND the would-be third
    * pass's correction count over the healed state. */
  val dq10Sql: String = {
    val canon = "CAST(k AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)" +
      " || '|' || o_orderstatus || '|' || o_orderpriority"
    val h = graft.functions.Fnv64.duckSigned("(" + canon + ")")
    s"""WITH p AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
      |        o_orderpriority FROM orders),
      |r AS (SELECT k, o_custkey,
      |        CASE WHEN k % 1009 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
      |        o_orderpriority
      |      FROM p WHERE k % 997 <> 0
      |      UNION ALL
      |      SELECT k + 100000000, o_custkey, o_orderstatus, o_orderpriority
      |      FROM p WHERE k % 1013 = 0),
      |pc AS (SELECT k % $dq8Buckets AS bucket, k, $h AS h FROM p),
      |rc AS (SELECT k % $dq8Buckets AS bucket, k, $h AS h FROM r),
      |pd AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_p,
      |        bit_xor(h) AS x_p FROM pc GROUP BY 1),
      |rd AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_r,
      |        bit_xor(h) AS x_r FROM rc GROUP BY 1),
      |bad AS (SELECT coalesce(pd.bucket, rd.bucket) AS bucket
      |      FROM pd FULL JOIN rd ON rd.bucket = pd.bucket
      |      WHERE n_p IS DISTINCT FROM n_r OR x_p IS DISTINCT FROM x_r),
      |corr AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
      |        coalesce(a.k, b.k) AS k,
      |        CASE WHEN b.k IS NULL THEN 'insert_missing'
      |             WHEN a.k IS NULL THEN 'delete_extra'
      |             WHEN a.h <> b.h THEN 'overwrite_corrupt' END AS action
      |      FROM (SELECT pc.* FROM pc WHERE bucket IN (SELECT bucket FROM bad)) a
      |      FULL JOIN (SELECT rc.* FROM rc WHERE bucket IN (SELECT bucket FROM bad)) b
      |        ON b.bucket = a.bucket AND b.k = a.k
      |      WHERE b.k IS NULL OR a.k IS NULL OR a.h <> b.h),
      |rep AS (SELECT * FROM r WHERE k NOT IN (
      |        SELECT k FROM corr WHERE action IN ('delete_extra', 'overwrite_corrupt'))
      |      UNION ALL
      |      SELECT * FROM p WHERE k IN (
      |        SELECT k FROM corr WHERE action IN ('insert_missing', 'overwrite_corrupt'))),
      |repc AS (SELECT k % $dq8Buckets AS bucket, k, $h AS h FROM rep),
      |repd AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_r,
      |        bit_xor(h) AS x_r FROM repc GROUP BY 1),
      |resid AS (SELECT CAST(count(*) AS BIGINT) AS residual_buckets
      |      FROM pd FULL JOIN repd ON repd.bucket = pd.bucket
      |      WHERE n_p IS DISTINCT FROM repd.n_r
      |         OR x_p IS DISTINCT FROM repd.x_r),
      |bad2 AS (SELECT coalesce(pd.bucket, repd.bucket) AS bucket
      |      FROM pd FULL JOIN repd ON repd.bucket = pd.bucket
      |      WHERE n_p IS DISTINCT FROM repd.n_r
      |         OR x_p IS DISTINCT FROM repd.x_r),
      |rerun AS (SELECT CAST(count(*) AS BIGINT) AS rerun_corrections
      |      FROM (SELECT pc.* FROM pc WHERE bucket IN (SELECT bucket FROM bad2)) a
      |      FULL JOIN (SELECT repc.* FROM repc WHERE bucket IN (SELECT bucket FROM bad2)) b
      |        ON b.bucket = a.bucket AND b.k = a.k
      |      WHERE b.k IS NULL OR a.k IS NULL OR a.h <> b.h)
      |SELECT corr.bucket, corr.k, corr.action, resid.residual_buckets,
      |  rerun.rerun_corrections
      |FROM corr CROSS JOIN resid CROSS JOIN rerun
      |ORDER BY corr.bucket, corr.k""".stripMargin
  }

  // ---------- dq11: N-replica QUORUM reconciliation ----------

  /** Three deterministic replicas with DISJOINT defect classes —
    * each carries exactly one of dq8's corruption modes, so in any
    * bucket at most one replica usually diverges and the other two
    * form a majority: r1 loses every %997 write, r2 tears every
    * %1009 status byte, r3 replays every %1013 write under key
    * +10^8. Buckets where two defect keys collide (mod
    * [[dq8Buckets]]) make all three digests differ — the TIE the
    * vote must arbitrate. */
  private[graft] def dq11Replicas(p: DataFrame): Seq[(String, DataFrame)] =
    Seq(
      "r1" -> p.filter("o_orderkey % 997 <> 0"),
      "r2" -> p.selectExpr("o_orderkey", "o_custkey",
        "CASE WHEN o_orderkey % 1009 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus",
        "o_orderpriority"),
      "r3" -> p.unionByName(p.filter("o_orderkey % 1013 = 0")
        .selectExpr("o_orderkey + 100000000 AS o_orderkey", "o_custkey",
          "o_orderstatus", "o_orderpriority")))

  /** The per-bucket k-way VOTE over three replica digest tables +
    * the primary's: coalesced (count, xor) per side, the MAJORITY
    * source (the reference digest is the value shared by ≥2
    * replicas; the repair source is the lowest-id replica holding
    * it — minority corruption recovers WITHOUT consulting the
    * primary), the primary TIE-BREAK (all three distinct — the
    * only safe answer when the quorum is silent), and the voted
    * reference digest (refn, refx) per bucket. Factored so the
    * spec can plant a synthetic tie bucket and pin the fallback
    * arm. */
  private[graft] def quorumVote(digs: Seq[DataFrame], pDig: DataFrame)
      : DataFrame = {
    require(digs.length == 3, "the vote below is written for 3 replicas")
    digs(0).selectExpr("bucket", "n AS n1", "x AS x1")
      .join(digs(1).selectExpr("bucket", "n AS n2", "x AS x2"),
        Seq("bucket"), "full_outer")
      .join(digs(2).selectExpr("bucket", "n AS n3", "x AS x3"),
        Seq("bucket"), "full_outer")
      .join(pDig.selectExpr("bucket", "n AS np", "x AS xp"),
        Seq("bucket"), "full_outer")
      .selectExpr("bucket",
        "coalesce(n1, CAST(0 AS BIGINT)) AS n1",
        "coalesce(x1, CAST(0 AS BIGINT)) AS x1",
        "coalesce(n2, CAST(0 AS BIGINT)) AS n2",
        "coalesce(x2, CAST(0 AS BIGINT)) AS x2",
        "coalesce(n3, CAST(0 AS BIGINT)) AS n3",
        "coalesce(x3, CAST(0 AS BIGINT)) AS x3",
        "coalesce(np, CAST(0 AS BIGINT)) AS np",
        "coalesce(xp, CAST(0 AS BIGINT)) AS xp")
      .selectExpr("*",
        """CASE WHEN (n1 = n2 AND x1 = x2) OR (n1 = n3 AND x1 = x3) THEN 'r1'
          |     WHEN n2 = n3 AND x2 = x3 THEN 'r2'
          |     ELSE 'primary' END AS source""".stripMargin)
      .selectExpr("*",
        "CASE source WHEN 'r1' THEN n1 WHEN 'r2' THEN n2 ELSE np END AS refn",
        "CASE source WHEN 'r1' THEN x1 WHEN 'r2' THEN x2 ELSE xp END AS refx")
  }

  /** The vote COLLECTED: (bucket, source, refn, refx, per-replica
    * diverges flags). Digest tables are ≤ [[dq8Buckets]] rows at
    * ANY corpus size, so this is the same bounded-collect boundary
    * the drills' broadcast bad-bucket sets already cross — and
    * collecting ONCE is what keeps the checkpoint-free query from
    * recomputing the 4-digest vote subtree under every one of its
    * ~12 consumers (measured 13.9 s → the digest scans, not the
    * drills). The driver then knows which (replica ← source) pairs
    * are EMPTY and skips their drills entirely. */
  private[graft] final case class QuorumVote(bucket: Long,
      source: String, refn: Long, refx: Long, bad: Seq[String],
      sides: Seq[(Long, Long)])

  private[graft] def quorumVoteRows(digs: Seq[DataFrame],
      pDig: DataFrame): Seq[QuorumVote] =
    quorumVote(digs, pDig).collect().toSeq.map { r =>
      val (refn, refx) = (r.getAs[Long]("refn"), r.getAs[Long]("refx"))
      val sides = Seq(("n1", "x1"), ("n2", "x2"), ("n3", "x3"))
        .map { case (nc, xc) => (r.getAs[Long](nc), r.getAs[Long](xc)) }
      QuorumVote(r.getAs[Long]("bucket"), r.getAs[String]("source"),
        refn, refx,
        Seq("r1", "r2", "r3").zip(sides).collect {
          case (nm, (n, x)) if n != refn || x != refx => nm
        }, sides)
    }

  /** Key-grain corrections for every convicted (replica ← voted
    * source) pair — one drill per NON-EMPTY pair (the collected
    * vote tells the driver which ones exist; a healthy quorum
    * drills nothing). A diverging replica's source is structurally
    * limited: r1's majority is {r2,r3} → r2; r2's and r3's is r1;
    * any tie → primary. */
  private[graft] def quorumCorrections(voteRows: Seq[QuorumVote],
      frames: Map[String, DataFrame]): DataFrame = {
    val spark = frames("primary").sparkSession
    import spark.implicits._
    val pairs = for {
      nm <- Seq("r1", "r2", "r3")
      (src, buckets) <- voteRows.filter(_.bad.contains(nm))
        .groupBy(_.source).toSeq.sortBy(_._1)
    } yield (nm, src, buckets.map(_.bucket))
    val drills = pairs.map { case (ri, s, buckets) =>
      repairCorrections(buckets.toDF("bucket"), frames(s), frames(ri),
        checkpoint = false)
        .selectExpr(s"'$ri' AS replica", "bucket", "k", "action",
          s"'$s' AS source", "hp", "hr")
    }
    drills.reduceOption(_ unionByName _).getOrElse(
      Seq.empty[(String, Long, Long, String, String, Long, Long)]
        .toDF("replica", "bucket", "k", "action", "source", "hp", "hr"))
  }

  /** The voted per-bucket reference digests as a local frame
    * (empty-reference buckets excluded — a digest table never
    * holds empty buckets). */
  private[graft] def quorumRefDig(spark: SparkSession,
      voteRows: Seq[QuorumVote]): DataFrame = {
    import spark.implicits._
    voteRows.filter(_.refn > 0L).map(v => (v.bucket, v.refn, v.refx))
      .toDF("bucket", "n", "x")
  }

  private[graft] def quorumRepair(p: DataFrame,
      reps: Seq[(String, DataFrame)]): DataFrame = {
    import p.sparkSession.implicits._
    val voteRows =
      quorumVoteRows(reps.map(r => bucketDigest(r._2)), bucketDigest(p))
    val corrAll =
      quorumCorrections(voteRows, (reps :+ ("primary" -> p)).toMap)
    // PROOF: each repaired replica's digests equal the reference's
    // in every bucket — the corrections' digest deltas folded into
    // each replica's own digests (dq9's algebra, per replica). The
    // per-replica digest tables are rebuilt LOCALLY from the
    // already-collected vote (no replica re-scan — the vote carried
    // every side's (n, x)).
    val refDig = quorumRefDig(p.sparkSession, voteRows)
    val residual = reps.indices.map { i =>
      val di = voteRows.filter(_.sides(i)._1 > 0L)
        .map(v => (v.bucket, v.sides(i)._1, v.sides(i)._2))
        .toDF("bucket", "n", "x")
      digestMismatch(refDig,
        repairedDigest(corrAll.filter($"replica" === reps(i)._1), di))
    }.reduce(_ unionByName _)
      .agg(count(lit(1)).as("residual_buckets"))
    corrAll.select($"replica", $"bucket", $"k", $"action", $"source")
      .crossJoin(broadcast(residual))
      .transform(graft.Tables.ordered(_, $"replica", $"bucket", $"k"))
  }

  /** dq11: N-REPLICA QUORUM RECONCILIATION — the anti-entropy shape
    * a production lake actually runs (Dynamo/Cassandra read-repair):
    * THREE replicas, no side designated truth a priori, per-bucket
    * majority vote over the k-way digest compare. A bucket where
    * one replica diverges from the other two is repaired FROM THE
    * MAJORITY — the primary is never consulted; only a bucket where
    * all three disagree (two defect classes colliding in one
    * bucket) falls back to the primary, the documented tie-break.
    * Output: one row per correction (replica, key, action, voted
    * source), with `residual_buckets` — every repaired replica's
    * digests recompared against the reference — riding each row.
    *
    * Scale: k digest tables of 4096 rows each (one scan per
    * replica), a 4096-row vote, and drills scoped to each
    * replica's convicted buckets — row work proportional to the
    * TOTAL divergence across replicas, never to the table. */
  def dq11(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority")
    val p = Tables.orders(spark, dir).selectExpr(cols: _*)
    quorumRepair(p, dq11Replicas(p))
  }

  /** dq11 oracle: the identical three-replica construction, k-way
    * digest vote with the same lowest-agreeing-source and
    * primary-tie-break rules, per-replica scoped drills, and the
    * residual recomputed from the APPLIED rows (the algebra's
    * ground truth). */
  val dq11Sql: String = {
    val canon = "CAST(k AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)" +
      " || '|' || o_orderstatus || '|' || o_orderpriority"
    val h = graft.functions.Fnv64.duckSigned("(" + canon + ")")
    val b = dq8Buckets
    def corrFor(i: Int): String =
      s"""c${i}s AS (SELECT s.* FROM srcrows s JOIN badl bd
        |      ON bd.replica = 'r$i' AND bd.bucket = s.bucket AND bd.source = s.src),
        |c${i}r AS (SELECT c.* FROM r${i}c c
        |      WHERE c.bucket IN (SELECT bucket FROM badl WHERE replica = 'r$i')),
        |corr$i AS (SELECT coalesce(a.bucket, b2.bucket) AS bucket,
        |        coalesce(a.k, b2.k) AS k,
        |        CASE WHEN b2.k IS NULL THEN 'insert_missing'
        |             WHEN a.k IS NULL THEN 'delete_extra'
        |             WHEN a.h <> b2.h THEN 'overwrite_corrupt' END AS action
        |      FROM c${i}s a FULL JOIN c${i}r b2
        |        ON b2.bucket = a.bucket AND b2.k = a.k
        |      WHERE b2.k IS NULL OR a.k IS NULL OR a.h <> b2.h),
        |rep$i AS (SELECT k, o_custkey, o_orderstatus, o_orderpriority FROM r$i
        |      WHERE k NOT IN (SELECT k FROM corr$i
        |        WHERE action IN ('delete_extra', 'overwrite_corrupt'))
        |      UNION ALL
        |      SELECT k, o_custkey, o_orderstatus, o_orderpriority FROM c${i}s
        |      WHERE k IN (SELECT k FROM corr$i
        |        WHERE action IN ('insert_missing', 'overwrite_corrupt'))),
        |rep${i}d AS (SELECT k % $b AS bucket, CAST(count(*) AS BIGINT) AS n,
        |        bit_xor($h) AS x FROM rep$i GROUP BY 1),
        |m$i AS (SELECT coalesce(r.bucket, f.bucket) AS bucket
        |      FROM rep${i}d r FULL JOIN refd f ON f.bucket = r.bucket
        |      WHERE r.n IS DISTINCT FROM f.n OR r.x IS DISTINCT FROM f.x)"""
        .stripMargin
    s"""WITH p AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
      |        o_orderpriority FROM orders),
      |r1 AS (SELECT * FROM p WHERE k % 997 <> 0),
      |r2 AS (SELECT k, o_custkey,
      |        CASE WHEN k % 1009 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
      |        o_orderpriority FROM p),
      |r3 AS (SELECT * FROM p
      |      UNION ALL
      |      SELECT k + 100000000, o_custkey, o_orderstatus, o_orderpriority
      |      FROM p WHERE k % 1013 = 0),
      |r1c AS (SELECT k % $b AS bucket, k, $h AS h FROM r1),
      |r2c AS (SELECT k % $b AS bucket, k, $h AS h FROM r2),
      |r3c AS (SELECT k % $b AS bucket, k, $h AS h FROM r3),
      |pc AS (SELECT k % $b AS bucket, k, $h AS h FROM p),
      |d1 AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n, bit_xor(h) AS x FROM r1c GROUP BY 1),
      |d2 AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n, bit_xor(h) AS x FROM r2c GROUP BY 1),
      |d3 AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n, bit_xor(h) AS x FROM r3c GROUP BY 1),
      |dp AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n, bit_xor(h) AS x FROM pc GROUP BY 1),
      |allb AS (SELECT DISTINCT bucket FROM (
      |      SELECT bucket FROM d1 UNION SELECT bucket FROM d2
      |      UNION SELECT bucket FROM d3 UNION SELECT bucket FROM dp)),
      |vote AS (SELECT allb.bucket,
      |        coalesce(d1.n, 0) AS n1, coalesce(d1.x, 0) AS x1,
      |        coalesce(d2.n, 0) AS n2, coalesce(d2.x, 0) AS x2,
      |        coalesce(d3.n, 0) AS n3, coalesce(d3.x, 0) AS x3,
      |        coalesce(dp.n, 0) AS np, coalesce(dp.x, 0) AS xp
      |      FROM allb LEFT JOIN d1 USING (bucket) LEFT JOIN d2 USING (bucket)
      |        LEFT JOIN d3 USING (bucket) LEFT JOIN dp USING (bucket)),
      |votes AS (SELECT *,
      |        CASE WHEN (n1 = n2 AND x1 = x2) OR (n1 = n3 AND x1 = x3) THEN 'r1'
      |             WHEN n2 = n3 AND x2 = x3 THEN 'r2'
      |             ELSE 'primary' END AS source FROM vote),
      |votes2 AS (SELECT *,
      |        CASE source WHEN 'r1' THEN n1 WHEN 'r2' THEN n2 ELSE np END AS refn,
      |        CASE source WHEN 'r1' THEN x1 WHEN 'r2' THEN x2 ELSE xp END AS refx
      |      FROM votes),
      |badl AS (
      |      SELECT bucket, 'r1' AS replica, source FROM votes2
      |        WHERE NOT (n1 = refn AND x1 = refx)
      |      UNION ALL
      |      SELECT bucket, 'r2', source FROM votes2
      |        WHERE NOT (n2 = refn AND x2 = refx)
      |      UNION ALL
      |      SELECT bucket, 'r3', source FROM votes2
      |        WHERE NOT (n3 = refn AND x3 = refx)),
      |refd AS (SELECT bucket, refn AS n, refx AS x FROM votes2 WHERE refn > 0),
      |srcrows AS (
      |      SELECT 'r1' AS src, k % $b AS bucket, k, $h AS h,
      |        o_custkey, o_orderstatus, o_orderpriority FROM r1
      |      UNION ALL
      |      SELECT 'r2', k % $b, k, $h, o_custkey, o_orderstatus,
      |        o_orderpriority FROM r2
      |      UNION ALL
      |      SELECT 'primary', k % $b, k, $h, o_custkey, o_orderstatus,
      |        o_orderpriority FROM p),
      |${corrFor(1)},
      |${corrFor(2)},
      |${corrFor(3)},
      |resid AS (SELECT CAST(count(*) AS BIGINT) AS residual_buckets FROM (
      |      SELECT * FROM m1 UNION ALL SELECT * FROM m2
      |      UNION ALL SELECT * FROM m3)),
      |corrall AS (
      |      SELECT 'r1' AS replica, c.bucket, c.k, c.action, bd.source
      |      FROM corr1 c JOIN (SELECT DISTINCT bucket, source FROM badl
      |        WHERE replica = 'r1') bd ON bd.bucket = c.bucket
      |      UNION ALL
      |      SELECT 'r2', c.bucket, c.k, c.action, bd.source
      |      FROM corr2 c JOIN (SELECT DISTINCT bucket, source FROM badl
      |        WHERE replica = 'r2') bd ON bd.bucket = c.bucket
      |      UNION ALL
      |      SELECT 'r3', c.bucket, c.k, c.action, bd.source
      |      FROM corr3 c JOIN (SELECT DISTINCT bucket, source FROM badl
      |        WHERE replica = 'r3') bd ON bd.bucket = c.bucket)
      |SELECT corrall.*, resid.residual_buckets
      |FROM corrall CROSS JOIN resid
      |ORDER BY replica, bucket, k""".stripMargin
  }

  // ---------- dq12: quorum WRITE-BACK (the self-healing lake) ----------

  /** ONE quorum pass over three PERSISTED replica stores: read all
    * three through their manifests, k-way digest vote, derive the
    * per-replica corrections from each bucket's voted source, and —
    * only when there is anything to heal — persist the VOTE RECORD
    * (the per-bucket reference digests, the audit artifact the
    * from-disk residual reads) and publish each convicted store's
    * next version (dq10's partition-grain copy-on-write publish;
    * the insert rows come from the voted source STORES, the primary
    * only on ties). A pass over agreeing stores derives zero
    * corrections and publishes nothing. Returns the correction
    * count; the corrections checkpoint is freed before returning
    * (everything the caller needs is on disk). */
  private[graft] def quorumPass(spark: SparkSession,
      roots: Seq[String], p: DataFrame, audit: String,
      pDig0: DataFrame = null): Long = {
    import spark.implicits._
    val names = Seq("r1", "r2", "r3")
    val stores = roots.map(readReplicaStore(spark, _))
    // the primary never changes between passes — the caller may
    // hand in its digest once (round 19, guide §5 reuse) instead of
    // paying the full-table hash scan per pass; same deterministic
    // (n, xor) table either way
    val voteRows = quorumVoteRows(stores.map(bucketDigest),
      if (pDig0 != null) pDig0 else bucketDigest(p))
    val srcFrames = names.zip(stores.map(_.drop("pg"))).toMap +
      ("primary" -> p)
    val corr = quorumCorrections(voteRows, srcFrames).localCheckpoint()
    val n = corr.count()
    if (n > 0L) {
      // persist the vote outcome from the COLLECTED rows — the
      // audit record the from-disk residual reads (no recompute)
      quorumRefDig(spark, voteRows)
        .selectExpr("bucket", "n AS refn", "x AS refx")
        .coalesce(1).write.mode("overwrite").parquet(s"$audit/vote_ref")
      val convicted = voteRows.flatMap(v => v.bad).toSet
      // each convicted store publishes under its OWN root from the
      // already-checkpointed corrections — independent publishes,
      // overlapped (guide §2.6)
      graft.functions.Par.run(
        names.zip(roots).zip(stores).collect {
          case ((nm, root), store) if convicted.contains(nm) => () => {
            val ci = corr.filter($"replica" === nm)
            val insSrc = (names :+ "primary").filter(_ != nm).map { s =>
              srcFrames(s).join(broadcast(ci.filter($"source" === s)
                  .select($"k".as("o_orderkey"))),
                Seq("o_orderkey"), "left_semi")
            }.reduce(_ unionByName _)
            publishCorrections(spark, root, ci, insSrc, store)
          }
        })
    }
    graft.functions.Lineage.freeCheckpoint(corr)
    n
  }

  /** The repairlog audits under each store's SERVING version. A
    * root the vote never convicted published no repairlog there —
    * an agreeing replica is a legal pass-1 outcome (dq12's fixture
    * plants defects in all three, but the code must not rely on
    * that), so absent logs are SKIPPED, and an all-agreeing pass
    * degrades to the empty report. */
  private[graft] def readRepairLogs(spark: SparkSession,
      roots: Seq[String]): DataFrame =
    roots.flatMap { root =>
      val (v, _) = readStoreManifest(root)
      val store = graft.store.Versioned(root)
      if (store.isDir(s"v$v/repairlog"))
        Some(spark.read.parquet(store.path(s"v$v/repairlog")))
      else None
    }.reduceOption(_ unionByName _).getOrElse(
      spark.range(0).selectExpr("'' AS replica", "id AS bucket",
        "id AS k", "'' AS action", "'' AS source"))

  /** dq12: QUORUM WRITE-BACK — the reconciliation family's
    * capstone: dq11's majority vote applied to dq10's persisted
    * stores, i.e. a SELF-HEALING replicated lake with no designated
    * truth. Three replica stores are seeded with disjoint planted
    * defect classes; quorum pass 1 votes per bucket, heals each
    * minority store FROM THE MAJORITY STORES (the primary only
    * where all three disagree — the tie), publishes each healed
    * store's next version (partition-grain copy-on-write,
    * repairlog audit), and persists the VOTE RECORD;
    * quorum pass 2 reads the healed stores, finds unanimity, and
    * publishes nothing (idempotence is structural). The emitted
    * rows are the stores' own repairlog audits with TWO
    * persisted-state proofs: `residual_buckets` (every healed
    * store's digests re-derived FROM DISK vs the persisted vote
    * record — 0) and `rerun_corrections` (what pass 2 found — 0).
    *
    * Scale: k store scans per pass + a 4096-row vote; corrections,
    * insert-source reads and REWRITES are all proportional to each
    * store's own divergence (copy-on-write at partition grain);
    * the vote record is O(buckets) and doubles as the repair's
    * audit trail — the Dynamo/Cassandra anti-entropy loop as a
    * batch job over parquet. */
  def dq12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority")
    val p = Tables.orders(spark, dir).selectExpr(cols: _*)
    val base = graft.store.Versioned.tempRoot("graft_dq12_")
    val roots = Seq("r1", "r2", "r3").map(nm => s"$base/$nm")
    // three independent replica seeds, each under its own root —
    // overlap them (guide §2.6 job overlap)
    graft.functions.Par.run(dq11Replicas(p).zip(roots).map {
      case ((_, r), root) => () => seedStoreFrom(r, root)
    })
    val audit = s"$base/audit"
    // the primary's digest is pass-invariant — hash it once for
    // both passes (round 19; the 4096-row digest table checkpoints
    // at metadata size, the corpus hash scan halves)
    val pDig = bucketDigest(p).localCheckpoint()
    quorumPass(spark, roots, p, audit, pDig)
    val rerun = quorumPass(spark, roots, p, audit, pDig)
    graft.functions.Lineage.freeCheckpoint(pDig)
    // the emitted report is read back from PERSISTED state only:
    // the stores' repairlogs, the vote record, the store digests
    val logs = readRepairLogs(spark, roots)
    val ref = spark.read.parquet(s"$audit/vote_ref")
      .selectExpr("bucket", "refn AS n", "refx AS x")
    val residual = roots.map(rt =>
        digestMismatch(ref, bucketDigest(readReplicaStore(spark, rt))))
      .reduce(_ unionByName _)
      .agg(count(lit(1)).as("residual_buckets"))
    logs.crossJoin(broadcast(residual))
      .select($"replica", $"bucket", $"k", $"action", $"source",
        $"residual_buckets", lit(rerun).as("rerun_corrections"))
      .transform(graft.Tables.ordered(_, $"replica", $"bucket", $"k"))
  }

  /** dq12 oracle: dq11's vote + corrections + applied-rows residual,
    * extended with the SECOND pass recomputed relationally — the
    * vote re-run over the applied states finds unanimity, so its
    * key-grain correction count is computed 0, never asserted. */
  val dq12Sql: String = {
    val canon = "CAST(k AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)" +
      " || '|' || o_orderstatus || '|' || o_orderpriority"
    val h = graft.functions.Fnv64.duckSigned("(" + canon + ")")
    val b = dq8Buckets
    def corr2For(i: Int): String =
      s"""rep${i}c AS (SELECT k % $b AS bucket, k, $h AS h FROM rep$i),
        |c2${i}s AS (SELECT s.* FROM srcrows2 s JOIN badl2 bd
        |      ON bd.replica = 'r$i' AND bd.bucket = s.bucket AND bd.source = s.src),
        |c2${i}r AS (SELECT c.* FROM rep${i}c c
        |      WHERE c.bucket IN (SELECT bucket FROM badl2 WHERE replica = 'r$i')),
        |corr2$i AS (SELECT coalesce(a.bucket, b2.bucket) AS bucket,
        |        coalesce(a.k, b2.k) AS k
        |      FROM c2${i}s a FULL JOIN c2${i}r b2
        |        ON b2.bucket = a.bucket AND b2.k = a.k
        |      WHERE b2.k IS NULL OR a.k IS NULL OR a.h <> b2.h)""".stripMargin
    val base = dq11Sql.stripSuffix(
      """SELECT corrall.*, resid.residual_buckets
        |FROM corrall CROSS JOIN resid
        |ORDER BY replica, bucket, k""".stripMargin)
    s"""${base}, allb2 AS (SELECT DISTINCT bucket FROM (
      |      SELECT bucket FROM rep1d UNION SELECT bucket FROM rep2d
      |      UNION SELECT bucket FROM rep3d UNION SELECT bucket FROM dp)),
      |vote2 AS (SELECT allb2.bucket,
      |        coalesce(rep1d.n, 0) AS n1, coalesce(rep1d.x, 0) AS x1,
      |        coalesce(rep2d.n, 0) AS n2, coalesce(rep2d.x, 0) AS x2,
      |        coalesce(rep3d.n, 0) AS n3, coalesce(rep3d.x, 0) AS x3,
      |        coalesce(dp.n, 0) AS np, coalesce(dp.x, 0) AS xp
      |      FROM allb2 LEFT JOIN rep1d USING (bucket)
      |        LEFT JOIN rep2d USING (bucket) LEFT JOIN rep3d USING (bucket)
      |        LEFT JOIN dp USING (bucket)),
      |votes2a AS (SELECT *,
      |        CASE WHEN (n1 = n2 AND x1 = x2) OR (n1 = n3 AND x1 = x3) THEN 'r1'
      |             WHEN n2 = n3 AND x2 = x3 THEN 'r2'
      |             ELSE 'primary' END AS source FROM vote2),
      |votes2b AS (SELECT *,
      |        CASE source WHEN 'r1' THEN n1 WHEN 'r2' THEN n2 ELSE np END AS refn,
      |        CASE source WHEN 'r1' THEN x1 WHEN 'r2' THEN x2 ELSE xp END AS refx
      |      FROM votes2a),
      |badl2 AS (
      |      SELECT bucket, 'r1' AS replica, source FROM votes2b
      |        WHERE NOT (n1 = refn AND x1 = refx)
      |      UNION ALL
      |      SELECT bucket, 'r2', source FROM votes2b
      |        WHERE NOT (n2 = refn AND x2 = refx)
      |      UNION ALL
      |      SELECT bucket, 'r3', source FROM votes2b
      |        WHERE NOT (n3 = refn AND x3 = refx)),
      |srcrows2 AS (
      |      SELECT 'r1' AS src, k % $b AS bucket, k, $h AS h FROM rep1
      |      UNION ALL
      |      SELECT 'r2', k % $b, k, $h FROM rep2
      |      UNION ALL
      |      SELECT 'primary', k % $b, k, $h FROM p),
      |${corr2For(1)},
      |${corr2For(2)},
      |${corr2For(3)},
      |rerun AS (SELECT CAST(count(*) AS BIGINT) AS rerun_corrections FROM (
      |      SELECT bucket, k FROM corr21 UNION ALL
      |      SELECT bucket, k FROM corr22 UNION ALL
      |      SELECT bucket, k FROM corr23))
      |SELECT corrall.*, resid.residual_buckets, rerun.rerun_corrections
      |FROM corrall CROSS JOIN resid CROSS JOIN rerun
      |ORDER BY replica, bucket, k""".stripMargin
  }

  // ---------- dq13: ADDITIVE schema evolution on the store ----------

  /** dq13: ADDITIVE SCHEMA EVOLUTION — the versioned replica store
    * learns the one thing real lakes do constantly and frozen
    * stores can't: ADD a column mid-history. The story: v1 seeds
    * the diverged replica in the OLD shape; the primary evolves
    * (one new column, `o_price_floor` — declared at the source);
    * the repair pass heals the divergence against the EVOLVED
    * primary, so v2's partition-grain rewrite carries the new
    * column for exactly the corrected rows (copy-on-write — kept
    * rows and untouched partitions are NOT backfilled, the
    * Delta/Iceberg additive contract); and the resolved read
    * serves the UNION schema with typed NULL defaults for every
    * pre-evolution row ([[readReplicaStoreAt]]: per-version
    * `_SCHEMA` files recorded at write time, union in version
    * order, REMOVED columns refuse loudly, time travel to v1 still
    * serves v1's shape — spec-pinned). The emitted rows aggregate
    * the resolved evolved store per partition group: total rows,
    * rows carrying the evolved column, and its exact sum — healed
    * partitions show values, untouched partitions show the
    * default, and the oracle recomputes all three relationally.
    *
    * Scale: evolution costs NOTHING at write time beyond the
    * `_SCHEMA` sidecar (no backfill rewrite — the 100 TB posture:
    * adding a column to a 100 TB store is a metadata operation);
    * the resolved read stays one pruned scan per DISTINCT serving
    * version, with the NULL default applied in the projection
    * (codegen'd, row-local, no extra pass). */
  def dq13(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority")
    val p = Tables.orders(spark, dir).selectExpr(cols: _*)
    val root = graft.store.Versioned.tempRoot("graft_dq13_")
    // v1: the diverged replica in the OLD 4-column shape
    seedReplicaStore(p, root)
    // the EVOLVED primary: floor() is exact on IEEE doubles, so the
    // new column is engine-portable bit for bit
    val p2 = Tables.orders(spark, dir).selectExpr(
      (cols :+ "CAST(floor(o_totalprice) AS BIGINT) AS o_price_floor"): _*)
    repairPass(spark, root, p2)
    readReplicaStore(spark, root)
      .groupBy(col("pg"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_price_floor")).as("n_evolved"),
        sum(col("o_price_floor")).as("sum_evolved"))
      .transform(graft.Tables.ordered(_, col("pg")))
  }

  /** dq13 oracle: dq9's divergence/correction chain against the
    * evolved primary, the healed store reconstructed relationally
    * (kept replica rows default the evolved column NULL; corrected
    * rows ship it from the primary), aggregated at partition-group
    * grain — `n_evolved`/`sum_evolved` prove exactly the corrected
    * rows carry values on BOTH engines. */
  val dq13Sql: String = {
    val canon = "CAST(k AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)" +
      " || '|' || o_orderstatus || '|' || o_orderpriority"
    val h = graft.functions.Fnv64.duckSigned("(" + canon + ")")
    s"""WITH p AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
      |        o_orderpriority FROM orders),
      |p2 AS (SELECT o_orderkey AS k,
      |        CAST(floor(o_totalprice) AS BIGINT) AS o_price_floor
      |      FROM orders),
      |r AS (SELECT k, o_custkey,
      |        CASE WHEN k % 1009 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
      |        o_orderpriority
      |      FROM p WHERE k % 997 <> 0
      |      UNION ALL
      |      SELECT k + 100000000, o_custkey, o_orderstatus, o_orderpriority
      |      FROM p WHERE k % 1013 = 0),
      |pc AS (SELECT k % $dq8Buckets AS bucket, k, $h AS h FROM p),
      |rc AS (SELECT k % $dq8Buckets AS bucket, k, $h AS h FROM r),
      |pd AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_p,
      |        bit_xor(h) AS x_p FROM pc GROUP BY 1),
      |rd AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_r,
      |        bit_xor(h) AS x_r FROM rc GROUP BY 1),
      |bad AS (SELECT coalesce(pd.bucket, rd.bucket) AS bucket
      |      FROM pd FULL JOIN rd ON rd.bucket = pd.bucket
      |      WHERE n_p IS DISTINCT FROM n_r OR x_p IS DISTINCT FROM x_r),
      |corr AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
      |        coalesce(a.k, b.k) AS k,
      |        CASE WHEN b.k IS NULL THEN 'insert_missing'
      |             WHEN a.k IS NULL THEN 'delete_extra'
      |             WHEN a.h <> b.h THEN 'overwrite_corrupt' END AS action
      |      FROM (SELECT pc.* FROM pc WHERE bucket IN (SELECT bucket FROM bad)) a
      |      FULL JOIN (SELECT rc.* FROM rc WHERE bucket IN (SELECT bucket FROM bad)) b
      |        ON b.bucket = a.bucket AND b.k = a.k
      |      WHERE b.k IS NULL OR a.k IS NULL OR a.h <> b.h),
      |rep AS (SELECT k, CAST(NULL AS BIGINT) AS o_price_floor
      |      FROM r WHERE k NOT IN (
      |        SELECT k FROM corr WHERE action IN ('delete_extra', 'overwrite_corrupt'))
      |      UNION ALL
      |      SELECT k, o_price_floor FROM p2 WHERE k IN (
      |        SELECT k FROM corr WHERE action IN ('insert_missing', 'overwrite_corrupt')))
      |SELECT (k % $dq8Buckets) % $dq10Parts AS pg,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(o_price_floor) AS BIGINT) AS n_evolved,
      |  CAST(sum(o_price_floor) AS BIGINT) AS sum_evolved
      |FROM rep GROUP BY 1 ORDER BY 1""".stripMargin
  }
}

/** Distinct grid cells shared by w15's two sides. */
object ThermalCells {
  def cells(spark: SparkSession, dir: String): DataFrame =
    graft.functions.ThermalChain.df(spark, dir, 1)
      .select(org.apache.spark.sql.functions.col("lat"),
        org.apache.spark.sql.functions.col("lon")).distinct()

  val cellsSql: String =
    s"SELECT DISTINCT lat, lon FROM (${graft.functions.ThermalChain.sql(1)})"

}
