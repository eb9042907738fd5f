package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** The reference's thermal-index pipeline (/root/reference/main.py:77-207)
  * re-expressed as a layered chain of scalar SQL expressions over a
  * long-format grid derived deterministically from the `events` table
  * (the testdata has no weather table; the derivation is part of the
  * query under test on both engines).
  *
  * Single source of truth: each layer is (column, ANSI-SQL expression)
  * pairs valid in both Spark SQL and DuckDB. Spark evaluates them via
  * chained `selectExpr` — one whole-stage-codegen'd map stage of
  * layered projections (CollapseProject excluded, see [[df]]), zero
  * UDFs, zero shuffles — the oracle via nested SELECTs ([[sql]]).
  *
  * Cross-engine determinism: every transcendental call (sin/cos/exp/
  * power/atan/sqrt — where JVM and libm may differ in the last ulp)
  * is quantized through [[q]] (floor(x*1e6 + 0.5)/1e6). All remaining
  * arithmetic is +,-,*,/ over identical doubles in identical order,
  * so every derived column is bitwise identical in both engines.
  *
  * Formulas (all public):
  *  - solar position: Spencer (1971) Fourier series for declination
  *    and equation of time; hour-angle-integrated cos(zenith) as in
  *    thermofeel (main.py:115-131), analytic over the hour.
  *  - Erbs et al. (1982) GHI -> DNI/DHI diffuse-fraction split
  *    (main.py:135-144 via pvlib.irradiance.erbs).
  *  - mean radiant temperature from radiative fluxes, thermofeel form
  *    (main.py:149-158).
  *  - UTCI 6th-order polynomial (Bröde et al. 2012) —
  *    [[UtciCoefficients]] (main.py:188-195).
  *  - WBGT = 0.7 Tnwb + 0.2 Tg + 0.1 Ta with Stull (2011) natural
  *    wet-bulb and globe temperature from MRT via 3 unrolled
  *    fixed-point steps (main.py:197-203).
  *  - int32 bit-pack of (UTCI, WBGT, hour offset) (main.py:256-276).
  *    NB main.py:179 computes hypot(u, u); we implement hypot(u, v).
  */
object ThermalChain {

  /** Quantize a transcendental result for cross-engine determinism.
    * floor(x*1e6 + 0.5) instead of round(): Spark's Round on doubles
    * routes through BigDecimal (~300ns per call — measured ~2x on the
    * whole chain), floor is an intrinsic; and being part of the
    * shared template, both engines evaluate the identical formula.
    */
  def q(x: String): String = s"(floor(($x) * 1e6 + 0.5) / 1e6)"

  /** Saturation vapor pressure (hPa), Tetens/Magnus over water. */
  def svp(tC: String): String = s"(6.105 * ${q(s"exp(17.27 * ($tC) / (237.7 + ($tC)))")})"

  /** Base projection from raw `events` columns. */
  val base: Seq[(String, String)] = Seq(
    "event_id" -> "event_id",
    "mv" -> "value",
    "lat" -> "CAST(user_id % 29 AS DOUBLE) * 5.0 - 70.0",
    "lon" -> "CAST((event_id * 7) % 72 AS DOUBLE) * 5.0 - 177.5",
    "doy" -> "CAST(extract(DOY FROM ts) AS DOUBLE)",
    "hh" -> "CAST(extract(HOUR FROM ts) AS DOUBLE)",
  )

  /** The polynomial's 8-term groups. Chunking serves three masters
    * identically: DuckDB's binder recursion limit (shallow tree), JVM
    * JIT limits (each group is its own small column => small codegen
    * methods), and FP parity (both engines evaluate group sums then a
    * left-assoc sum of groups — the same association either way).
    */
  private val polyChunks: Seq[String] = {
    def pw(v: String, e: Int): Seq[String] = e match {
      case 0 => Nil
      case 1 => Seq(v)
      case n => Seq(s"$v$n")
    }
    UtciCoefficients.terms.map { case (c, i, j, k, l) =>
      (s"($c)" +: (pw("taU", i) ++ pw("vaU", j) ++ pw("dtm", k) ++ pw("paU", l)))
        .mkString(" * ")
    }.grouped(8).map(_.mkString("(", " + ", ")")).toSeq
  }

  /** Ordered layers; expressions reference columns of earlier layers only. */
  val layers: Seq[Seq[(String, String)]] = Seq(
    // 1: synthetic GFS surface variables + absolute forecast hour
    Seq(
      "aoff" -> "CAST(floor((doy - 1.0) * 24.0 + hh + 0.5) AS BIGINT)",
      "tmp2m" -> s"263.15 + 40.0 * (0.5 + 0.5 * ${q("sin(radians(lat) + mv / 17.0)")})",
      "dswrfsfc" -> s"greatest(0.0, 900.0 * ${q("sin(radians(lat) * 0.5 + mv / 23.0)")})",
      "dlwrfsfc" -> s"300.0 + 60.0 * ${q("sin(mv / 13.0)")}",
      "ugrd10m" -> s"12.0 * ${q("sin(mv / 5.0)")}",
      "vgrd10m" -> s"9.0 * ${q("cos(mv / 11.0)")}",
    ),
    // 2: derived surface quantities
    Seq(
      "dpt2m" -> s"tmp2m - 2.0 - 12.0 * (0.5 + 0.5 * ${q("cos(mv / 7.0)")})",
      "uswrfsfc" -> "0.15 * dswrfsfc",
      "ulwrfsfc" -> "0.0000000567 * 0.98 * (tmp2m * tmp2m * tmp2m * tmp2m)",
      "wind_speed" -> q("sqrt(ugrd10m * ugrd10m + vgrd10m * vgrd10m)"),
      "ta_c" -> "tmp2m - 273.15",
    ),
    // 3
    Seq(
      "td_c" -> "dpt2m - 273.15",
      "es_ta" -> svp("ta_c"),
    ),
    // 4
    Seq(
      "es_td" -> svp("td_c"),
      "gg" -> "2.0 * pi() / 365.0 * (doy - 1.0 + (hh - 12.0) / 24.0)",
    ),
    // 5: relative humidity + solar trig primitives
    Seq(
      "rh" -> "least(100.0, greatest(0.0, 100.0 * es_td / es_ta))",
      "singg" -> q("sin(gg)"), "cosgg" -> q("cos(gg)"),
      "sin2g" -> q("sin(2.0 * gg)"), "cos2g" -> q("cos(2.0 * gg)"),
      "sin3g" -> q("sin(3.0 * gg)"), "cos3g" -> q("cos(3.0 * gg)"),
      "sinlat" -> q("sin(radians(lat))"), "coslat" -> q("cos(radians(lat))"),
    ),
    // 6: Spencer declination + equation of time
    Seq(
      "decl" -> ("0.006918 - 0.399912 * cosgg + 0.070257 * singg - 0.006758 * cos2g" +
        " + 0.000907 * sin2g - 0.002697 * cos3g + 0.00148 * sin3g"),
      "eqtime" -> "229.18 * (0.000075 + 0.001868 * cosgg - 0.032077 * singg - 0.014615 * cos2g - 0.040849 * sin2g)",
    ),
    // 7
    Seq(
      "sindecl" -> q("sin(decl)"), "cosdecl" -> q("cos(decl)"),
      "ha1d" -> "(hh * 60.0 + eqtime + 4.0 * lon) / 4.0 - 180.0",
    ),
    // 8
    Seq("ha1r" -> "radians(ha1d)", "ha2r" -> "radians(ha1d + 15.0)"),
    // 9
    Seq("sinh1" -> q("sin(ha1r)"), "sinh2" -> q("sin(ha2r)")),
    // 10: hour-integrated cos solar zenith angle, clamped at horizon
    Seq("avg_cza" -> "greatest(0.0, sinlat * sindecl + coslat * cosdecl * (sinh2 - sinh1) / (pi() / 12.0))"),
    // 11: Erbs clearness index
    Seq(
      "i0" -> "1367.0 * (1.0 + 0.033 * cosgg)",
      "kt" -> "CASE WHEN avg_cza <= 0.001 THEN 0.0 ELSE least(1.0, dswrfsfc / (i0 * avg_cza)) END",
    ),
    // 12: Erbs diffuse fraction (piecewise quartic)
    Seq("fdif" -> ("CASE WHEN kt <= 0.22 THEN 1.0 - 0.09 * kt" +
      " WHEN kt <= 0.8 THEN 0.9511 - 0.1604 * kt + 4.388 * kt * kt - 16.638 * kt * kt * kt + 12.336 * kt * kt * kt * kt" +
      " ELSE 0.165 END")),
    // 13
    Seq(
      "dhi" -> "fdif * dswrfsfc",
      "gamma_deg" -> s"degrees(${q("asin(least(1.0, greatest(-1.0, avg_cza)))")})",
    ),
    // 14: direct normal irradiance + projected-area factor
    Seq(
      "dni" -> "CASE WHEN avg_cza <= 0.001 THEN 0.0 ELSE least(1100.0, (dswrfsfc - dhi) / avg_cza) END",
      "fp" -> s"0.308 * ${q("cos(radians(gamma_deg * 0.998 - gamma_deg * gamma_deg / 50000.0))")}",
    ),
    // 15: mean radiant temperature (thermofeel form). 4th root via
    // sqrt(sqrt()) — IEEE-754 sqrt is correctly rounded, so this is
    // bitwise identical across engines, unlike pow(x, 0.25).
    // NB constant-constant division must be in DOUBLE (scientific
    // notation): Spark parses decimal-point literals as DECIMAL and
    // its decimal division rounds differently than DuckDB's.
    Seq("mrt_k" -> "sqrt(sqrt(greatest(0.0, (1e0 / 5.67e-8) * (0.5 * dlwrfsfc + 0.5 * ulwrfsfc + (7e-1 / 9.7e-1) * (0.5 * dhi + 0.5 * uswrfsfc + fp * dni)))))"),
    // 16: UTCI input clamps (polynomial calibration domain)
    Seq(
      "mrt_c" -> "mrt_k - 273.15",
      "vaU" -> "least(17.0, greatest(0.5, wind_speed))",
      "paU" -> "least(5.0, greatest(0.0, es_td / 10.0))",
      "taU" -> "least(50.0, greatest(-50.0, ta_c))",
    ),
    // 17
    Seq("dtm" -> "least(70.0, greatest(-30.0, mrt_c - taU))"),
    // 18-20: power ladders (pure products — no pow(), stays bitwise)
    Seq("taU2" -> "taU * taU", "vaU2" -> "vaU * vaU", "dtm2" -> "dtm * dtm", "paU2" -> "paU * paU"),
    Seq(
      "taU3" -> "taU2 * taU", "taU4" -> "taU2 * taU2",
      "vaU3" -> "vaU2 * vaU", "vaU4" -> "vaU2 * vaU2",
      "dtm3" -> "dtm2 * dtm", "dtm4" -> "dtm2 * dtm2",
      "paU3" -> "paU2 * paU", "paU4" -> "paU2 * paU2",
    ),
    Seq(
      "taU5" -> "taU4 * taU", "taU6" -> "taU4 * taU2",
      "vaU5" -> "vaU4 * vaU", "vaU6" -> "vaU4 * vaU2",
      "dtm5" -> "dtm4 * dtm", "dtm6" -> "dtm4 * dtm2",
      "paU5" -> "paU4 * paU", "paU6" -> "paU4 * paU2",
    ),
    // 21a: the 210-term UTCI polynomial, one column per 8-term group
    polyChunks.zipWithIndex.map { case (g, i) => s"_up$i" -> g },
    // 21b: UTCI = Ta + left-assoc sum of the groups
    Seq("utci_c" -> polyChunks.indices.map(i => s"_up$i")
      .mkString("taU + (", " + ", ")")),
    // 22: WBGT inputs — Stull wet bulb + globe-temp iteration seeds
    Seq(
      "tw" -> (s"taU * ${q("atan(0.151977 * " + q("sqrt(rh + 8.313659)") + ")")}" +
        s" + ${q("atan(taU + rh)")} - ${q("atan(rh - 1.676331)")}" +
        s" + 0.00391838 * rh * ${q("sqrt(rh)")} * ${q("atan(0.023101 * rh)")} - 4.686035"),
      "pva06" -> q(s"exp(0.6 * ${q("ln(vaU)")})"),
      "mrt_k4" -> "mrt_k * mrt_k * mrt_k * mrt_k",
      "tg0_c" -> "mrt_c",
    ),
    // 23-25: globe temperature, 3 unrolled fixed-point steps of
    // mrt^4 = tg^4 + 2.5e8 * va^0.6 * (tg - ta)
    Seq("tg1_c" -> "sqrt(sqrt(greatest(1.0, mrt_k4 - 2.5e8 * pva06 * (tg0_c - ta_c)))) - 273.15"),
    Seq("tg2_c" -> "sqrt(sqrt(greatest(1.0, mrt_k4 - 2.5e8 * pva06 * (tg1_c - ta_c)))) - 273.15"),
    Seq("tg3_c" -> "sqrt(sqrt(greatest(1.0, mrt_k4 - 2.5e8 * pva06 * (tg2_c - ta_c)))) - 273.15"),
    // 26
    Seq("wbgt_c" -> "0.7 * tw + 0.2 * tg3_c + 0.1 * ta_c"),
    // 27: encode fields (main.py:256-276; offset capped at 200 values).
    // The clamp bounds are DOUBLE literals: Spark's floor() returns
    // BIGINT, and a decimal-point literal would widen the clamp to
    // DECIMAL(21,1), one BigDecimal per row. The bounds are integers
    // below 2^53, so the DOUBLE clamp gives the same values.
    Seq(
      "utci_e" -> "CAST(least(1999e0, greatest(0e0, floor((utci_c + 100.0) * 10.0 + 0.5))) AS BIGINT)",
      "wbgt_e" -> "CAST(least(1999e0, greatest(0e0, floor((wbgt_c + 100.0) * 10.0 + 0.5))) AS BIGINT)",
      "offh" -> "aoff % 200",
    ),
    // 28: the packed int32
    Seq("encoded" -> "CAST((utci_e * 2000 + wbgt_e) * 200 + offh AS INT)"),
    // 29: decode (inverse) — floor-division via doubles (exact: < 2^30)
    Seq(
      "utci_d" -> "CAST(floor(CAST(encoded AS DOUBLE) / 400000.0) AS BIGINT)",
      "wbgt_d" -> "CAST(floor(CAST(encoded % 400000 AS DOUBLE) / 200.0) AS BIGINT)",
      "off_d" -> "CAST(encoded % 200 AS BIGINT)",
    ),
  )

  // Child session per context, carrying the CollapseProject exclusion
  // so the shared session's optimizer conf is never mutated: the
  // exclusion must hold at *execution* time (queries are lazy), so a
  // set/restore around plan construction would not work, and setting
  // it on the shared session would leak into every later non-thermal
  // query run in the same session (e.g. the whole bench suite).
  private def chainSession(spark: SparkSession): SparkSession =
    graft.ChildSessions.of(spark, "thermal-chain") { ns =>
      ns.conf.set("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.CollapseProject")
    }

  /** Spark side: the chain through `through` layers (1-based count). */
  def df(spark: SparkSession, dir: String, through: Int): DataFrame = {
    // keep the layers as separate projections: CollapseProject would
    // inline single-use columns transitively — the tg fixed-point
    // references mrt_k four times per level, so the collapsed tree
    // duplicates the whole upstream chain exponentially (measured
    // ~10x slower; 290KB of generated code). Layered projections
    // evaluate every column once. The exclusion lives on a child
    // session so it cannot leak into unrelated queries.
    val b = Tables.events(chainSession(spark), dir)
      .selectExpr(base.map { case (n, e) => s"($e) AS $n" }: _*)
    layers.take(through).foldLeft(b) { (d, layer) =>
      d.selectExpr("*" +: layer.map { case (n, e) => s"($e) AS $n" }: _*)
    }
  }

  /** Oracle side: identical chain as nested SELECTs over `events`. */
  def sql(through: Int): String = {
    val b = base.map { case (n, e) => s"($e) AS $n" }
      .mkString("SELECT ", ", ", " FROM events")
    layers.take(through).foldLeft(b) { (inner, layer) =>
      layer.map { case (n, e) => s"($e) AS $n" }
        .mkString("SELECT *, ", ", ", s" FROM ($inner)")
    }
  }

  val full: Int = layers.length
}
