package graft.functions

import java.lang.{Math => M, StrictMath => SM}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.types._

/** [[ThermalChain]]'s outputs for one event, as one Catalyst
  * expression: children `lat`, `lon`, `doy`, `hh`, `mv` (the chain's
  * base columns), value a struct of `aoff`, `tmp2m`, `utci_c`,
  * `wbgt_c` and `encoded`. Generated code holds one [[ThermalKernel]]
  * per task and calls it once per row; select the struct's fields
  * from an attribute, so the call is not inlined into each field.
  */
case class ThermalKernelExpr(lat: Expression, lon: Expression, doy: Expression,
    hh: Expression, mv: Expression) extends Expression {
  override def children: Seq[Expression] = Seq(lat, lon, doy, hh, mv)
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == DoubleType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("thermal kernel inputs must be DOUBLE")
  override def nullable: Boolean = false
  override def dataType: DataType = ThermalKernel.schema

  // the interpreted path (codegen fallback only) takes a fresh kernel
  // per row, since the returned row is the kernel's reused output row
  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    def d(i: Int) = if (v(i) == null) 0.0 else v(i).asInstanceOf[Double]
    new ThermalKernel().compute(v(0) == null, d(0), v(1) == null, d(1),
      v(2) == null, d(2), v(3) == null, d(3), v(4) == null, d(4))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[ThermalKernel].getName
    val kernel = ctx.addMutableState(cls, "thermalKernel", v => s"$v = new $cls();")
    val in = children.map(_.genCode(ctx))
    ev.copy(code = code"""
      |${in.map(_.code.toString).mkString("\n")}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $kernel.compute(${in.map(e => s"${e.isNull}, ${e.value}").mkString(", ")});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ThermalKernelExpr =
    copy(lat = c(0), lon = c(1), doy = c(2), hh = c(3), mv = c(4))
}

/** [[ThermalChain.layers]] for one row, as JIT-compiled Scala (the
  * SURVEY §8.7 rule: compiled code that keeps the oracle's
  * floating-point order). It is the chain's meaning, not a second
  * definition of it: every value is bit-for-bit what Spark's code
  * generated for `ThermalChain.df` gives, and the parity spec checks
  * that. To keep it so:
  *  - each SQL function calls what Spark's generated code calls:
  *    `Math` for sin, cos, asin, atan, sqrt, floor, radians and
  *    degrees; `StrictMath` for exp and ln;
  *  - every `+ - * /` keeps the chain's left-associated order;
  *  - decimal-point literals are the doubles the analyzer makes of
  *    them, and literal-only subterms are folded as the optimizer
  *    folds them (DECIMAL products stay exact before the cast);
  *  - `q` is floor to BIGINT and back: a NaN quantizes to 0.0;
  *  - `greatest`/`least` skip a null argument, rank NaN above every
  *    number and keep the first of equal arguments
  *    (`SQLOrderingUtil.compareDoubles`);
  *  - a null input reaches an output only where it does in the chain:
  *    `aoff` and `encoded` are null when `doy` or `hh` is, `tmp2m` and
  *    `wbgt_c` when `lat` or `mv` is, and `utci_c` never is. Inside,
  *    the clamps turn a null into their bound (`greatest(0, null)` is
  *    0), and those values flow on.
  * The chain's three divisions by a column (by `es_ta`, by
  * `i0 * avg_cza`, by `avg_cza`) never see zero (`es_ta` > 2, and the
  * others sit behind `avg_cza > 0.001`), and `ln` only sees `vaU` in
  * [0.5, 17]: so ANSI's divide-by-zero error and `ln`'s null branch
  * cannot occur, and neither can an overflow in the BIGINT and INT
  * casts of the clamped encode fields.
  *
  * One instance per task, reused for every row: [[compute]] allocates
  * nothing and returns the same output row each time. The work is
  * split over methods far below HotSpot's 8,000-byte huge-method
  * limit, so the JIT compiles them by call count.
  */
final class ThermalKernel {
  import ThermalKernel._

  private[this] val out = new SpecificInternalRow(schema.fields.map(_.dataType).toSeq)

  // chain columns read by more than one stage method
  private[this] var tmp2m, dswrfsfc, dlwrfsfc, ulwrfsfc, uswrfsfc = 0.0
  private[this] var taC, esTd, rh, avgCza, cosgg = 0.0
  private[this] var taU, taU2, taU3, taU4, taU5, taU6 = 0.0
  private[this] var vaU, vaU2, vaU3, vaU4, vaU5, vaU6 = 0.0
  private[this] var dtm, dtm2, dtm3, dtm4, dtm5, dtm6 = 0.0
  private[this] var paU, paU2, paU3, paU4, paU5, paU6 = 0.0
  private[this] var mrtK = 0.0

  /** The chain's outputs for one row (a `*Null` flag marks a null
    * input; its value is then ignored). The returned row is this
    * kernel's and is overwritten by the next call.
    */
  def compute(latNull: Boolean, lat: Double, lonNull: Boolean, lon: Double,
      doyNull: Boolean, doy: Double, hhNull: Boolean, hh: Double,
      mvNull: Boolean, mv: Double): InternalRow = {
    val timeNull = doyNull || hhNull // aoff, gg and the solar terms
    val tNull = latNull || mvNull    // tmp2m and everything from it
    surface(tNull, lat, mvNull, mv)
    solar(latNull, lat, timeNull || lonNull, lon, doy, hh)
    radiation(tNull)
    val utciC = taU + poly2(poly1(poly0()))
    val wbgtC = wbgt(tNull)
    // 1 and 27-28: the hour offset and the packed int32
    if (timeNull) { out.setNullAt(0); out.setNullAt(4) }
    else {
      val aoff = M.floor((doy - 1.0) * 24.0 + hh + 0.5).toLong
      val utciE = encodeField(false, utciC)
      val wbgtE = encodeField(tNull, wbgtC)
      out.setLong(0, aoff)
      out.setInt(4, ((utciE * 2000 + wbgtE) * 200 + aoff % 200).toInt)
    }
    if (tNull) { out.setNullAt(1); out.setNullAt(3) }
    else { out.setDouble(1, tmp2m); out.setDouble(3, wbgtC) }
    out.setDouble(2, utciC)
    out
  }

  /** Layers 1-4 (the columns from `lat` and `mv`), and 5's `rh`. */
  private def surface(tNull: Boolean, lat: Double, mvNull: Boolean, mv: Double): Unit = {
    val rlat = M.toRadians(lat)
    tmp2m = 263.15 + 40.0 * (0.5 + 0.5 * q(M.sin(rlat + mv / 17.0)))
    dswrfsfc = greatest(0.0, tNull, 900.0 * q(M.sin(rlat * 0.5 + mv / 23.0)))
    dlwrfsfc = 300.0 + 60.0 * q(M.sin(mv / 13.0))
    val ugrd10m = 12.0 * q(M.sin(mv / 5.0))
    val vgrd10m = 9.0 * q(M.cos(mv / 11.0))
    val dpt2m = tmp2m - 2.0 - 12.0 * (0.5 + 0.5 * q(M.cos(mv / 7.0)))
    uswrfsfc = 0.15 * dswrfsfc
    ulwrfsfc = Ulw * (tmp2m * tmp2m * tmp2m * tmp2m)
    val windSpeed = q(M.sqrt(ugrd10m * ugrd10m + vgrd10m * vgrd10m))
    taC = tmp2m - 273.15
    val esTa = svp(taC)
    esTd = svp(dpt2m - 273.15)
    rh = least(100.0, false, greatest(0.0, tNull, 100.0 * esTd / esTa))
    // 16-18's clamps and squares of the inputs that need no sun
    vaU = least(17.0, false, greatest(0.5, mvNull, windSpeed))
    paU = least(5.0, false, greatest(0.0, tNull, esTd / 10.0))
    taU = least(50.0, false, greatest(-50.0, tNull, taC))
  }

  /** Layers 4-10: the hour-integrated cosine of the zenith angle. */
  private def solar(latNull: Boolean, lat: Double, haNull: Boolean, lon: Double,
      doy: Double, hh: Double): Unit = {
    val gg = GgScale * (doy - 1.0 + (hh - 12.0) / 24.0)
    val singg = q(M.sin(gg))
    cosgg = q(M.cos(gg))
    val sin2g = q(M.sin(2.0 * gg))
    val cos2g = q(M.cos(2.0 * gg))
    val sin3g = q(M.sin(3.0 * gg))
    val cos3g = q(M.cos(3.0 * gg))
    val sinlat = q(M.sin(M.toRadians(lat)))
    val coslat = q(M.cos(M.toRadians(lat)))
    val decl = 0.006918 - 0.399912 * cosgg + 0.070257 * singg - 0.006758 * cos2g +
      9.07e-4 * sin2g - 0.002697 * cos3g + 0.00148 * sin3g
    val eqtime = 229.18 * (7.5e-5 + 0.001868 * cosgg - 0.032077 * singg -
      0.014615 * cos2g - 0.040849 * sin2g)
    val sindecl = q(M.sin(decl))
    val cosdecl = q(M.cos(decl))
    val ha1d = (hh * 60.0 + eqtime + 4.0 * lon) / 4.0 - 180.0
    val sinh1 = q(M.sin(M.toRadians(ha1d)))
    val sinh2 = q(M.sin(M.toRadians(ha1d + 15.0)))
    avgCza = greatest(0.0, latNull || haNull,
      sinlat * sindecl + coslat * cosdecl * (sinh2 - sinh1) / HourRad)
  }

  /** Layers 11-20: Erbs split, mean radiant temperature, UTCI inputs. */
  private def radiation(tNull: Boolean): Unit = {
    // i0 is null with the time, but then avg_cza is 0 and THEN is taken
    val kt = if (compareDoubles(avgCza, 0.001) <= 0) 0.0
      else least(1.0, false, dswrfsfc / (1367.0 * (1.0 + 0.033 * cosgg) * avgCza))
    val fdif = if (compareDoubles(kt, 0.22) <= 0) 1.0 - 0.09 * kt
      else if (compareDoubles(kt, 0.8) <= 0) 0.9511 - 0.1604 * kt + 4.388 * kt * kt -
        16.638 * kt * kt * kt + 12.336 * kt * kt * kt * kt
      else 0.165
    val dhi = fdif * dswrfsfc
    val gammaDeg = M.toDegrees(q(M.asin(least(1.0, false, greatest(-1.0, false, avgCza)))))
    val dni = if (compareDoubles(avgCza, 0.001) <= 0) 0.0
      else least(1100.0, false, (dswrfsfc - dhi) / avgCza)
    val fp = 0.308 * q(M.cos(M.toRadians(gammaDeg * 0.998 - gammaDeg * gammaDeg / 50000.0)))
    // dlwrfsfc is null with mv, ulwrfsfc with lat or mv
    mrtK = M.sqrt(M.sqrt(greatest(0.0, tNull, MrtScale * (0.5 * dlwrfsfc + 0.5 * ulwrfsfc +
      Absorb * (0.5 * dhi + 0.5 * uswrfsfc + fp * dni)))))
    dtm = least(70.0, false, greatest(-30.0, false, mrtK - 273.15 - taU))
    taU2 = taU * taU; vaU2 = vaU * vaU; dtm2 = dtm * dtm; paU2 = paU * paU
    taU3 = taU2 * taU; taU4 = taU2 * taU2
    vaU3 = vaU2 * vaU; vaU4 = vaU2 * vaU2
    dtm3 = dtm2 * dtm; dtm4 = dtm2 * dtm2
    paU3 = paU2 * paU; paU4 = paU2 * paU2
    taU5 = taU4 * taU; taU6 = taU4 * taU2
    vaU5 = vaU4 * vaU; vaU6 = vaU4 * vaU2
    dtm5 = dtm4 * dtm; dtm6 = dtm4 * dtm2
    paU5 = paU4 * paU; paU6 = paU4 * paU2
  }

  /** Layers 22-26: Stull wet bulb, three globe-temperature steps, WBGT. */
  private def wbgt(tNull: Boolean): Double = {
    val tw = taU * q(M.atan(0.151977 * q(M.sqrt(rh + 8.313659)))) + q(M.atan(taU + rh)) -
      q(M.atan(rh - 1.676331)) + 0.00391838 * rh * q(M.sqrt(rh)) * q(M.atan(0.023101 * rh)) -
      4.686035
    val pva06 = q(SM.exp(0.6 * q(SM.log(vaU))))
    val mrtK4 = mrtK * mrtK * mrtK * mrtK
    // ta_c is null with lat or mv: each step's clamp is then greatest(1.0, null) = 1.0
    def step(tg: Double) =
      M.sqrt(M.sqrt(greatest(1.0, tNull, mrtK4 - 2.5e8 * pva06 * (tg - taC)))) - 273.15
    val tg3 = step(step(step(mrtK - 273.15)))
    0.7 * tw + 0.2 * tg3 + 0.1 * taC
  }

  /** Groups 0–8: the first group starts the left-associated sum of groups. */
  private def poly0(): Double = {
    val c = UtciPoly
    var s = c(0) +
      c(1) * taU +
      c(2) * taU2 +
      c(3) * taU3 +
      c(4) * taU4 +
      c(5) * taU5 +
      c(6) * taU6 +
      c(7) * vaU
    s = s + (c(8) * taU * vaU +
      c(9) * taU2 * vaU +
      c(10) * taU3 * vaU +
      c(11) * taU4 * vaU +
      c(12) * taU5 * vaU +
      c(13) * vaU2 +
      c(14) * taU * vaU2 +
      c(15) * taU2 * vaU2)
    s = s + (c(16) * taU3 * vaU2 +
      c(17) * taU4 * vaU2 +
      c(18) * vaU3 +
      c(19) * taU * vaU3 +
      c(20) * taU2 * vaU3 +
      c(21) * taU3 * vaU3 +
      c(22) * vaU4 +
      c(23) * taU * vaU4)
    s = s + (c(24) * taU2 * vaU4 +
      c(25) * vaU5 +
      c(26) * taU * vaU5 +
      c(27) * vaU6 +
      c(28) * dtm +
      c(29) * taU * dtm +
      c(30) * taU2 * dtm +
      c(31) * taU3 * dtm)
    s = s + (c(32) * taU4 * dtm +
      c(33) * taU5 * dtm +
      c(34) * vaU * dtm +
      c(35) * taU * vaU * dtm +
      c(36) * taU2 * vaU * dtm +
      c(37) * taU3 * vaU * dtm +
      c(38) * taU4 * vaU * dtm +
      c(39) * vaU2 * dtm)
    s = s + (c(40) * taU * vaU2 * dtm +
      c(41) * taU2 * vaU2 * dtm +
      c(42) * taU3 * vaU2 * dtm +
      c(43) * vaU3 * dtm +
      c(44) * taU * vaU3 * dtm +
      c(45) * taU2 * vaU3 * dtm +
      c(46) * vaU4 * dtm +
      c(47) * taU * vaU4 * dtm)
    s = s + (c(48) * vaU5 * dtm +
      c(49) * dtm2 +
      c(50) * taU * dtm2 +
      c(51) * taU2 * dtm2 +
      c(52) * taU3 * dtm2 +
      c(53) * taU4 * dtm2 +
      c(54) * vaU * dtm2 +
      c(55) * taU * vaU * dtm2)
    s = s + (c(56) * taU2 * vaU * dtm2 +
      c(57) * taU3 * vaU * dtm2 +
      c(58) * vaU2 * dtm2 +
      c(59) * taU * vaU2 * dtm2 +
      c(60) * taU2 * vaU2 * dtm2 +
      c(61) * vaU3 * dtm2 +
      c(62) * taU * vaU3 * dtm2 +
      c(63) * vaU4 * dtm2)
    s = s + (c(64) * dtm3 +
      c(65) * taU * dtm3 +
      c(66) * taU2 * dtm3 +
      c(67) * taU3 * dtm3 +
      c(68) * vaU * dtm3 +
      c(69) * taU * vaU * dtm3 +
      c(70) * taU2 * vaU * dtm3 +
      c(71) * vaU2 * dtm3)
    s
  }
  /** Groups 9–17, added onto the running left-associated sum `s`. */
  private def poly1(s0: Double): Double = {
    val c = UtciPoly
    var s = s0 + (c(72) * taU * vaU2 * dtm3 +
      c(73) * vaU3 * dtm3 +
      c(74) * dtm4 +
      c(75) * taU * dtm4 +
      c(76) * taU2 * dtm4 +
      c(77) * vaU * dtm4 +
      c(78) * taU * vaU * dtm4 +
      c(79) * vaU2 * dtm4)
    s = s + (c(80) * dtm5 +
      c(81) * taU * dtm5 +
      c(82) * vaU * dtm5 +
      c(83) * dtm6 +
      c(84) * paU +
      c(85) * taU * paU +
      c(86) * taU2 * paU +
      c(87) * taU3 * paU)
    s = s + (c(88) * taU4 * paU +
      c(89) * taU5 * paU +
      c(90) * vaU * paU +
      c(91) * taU * vaU * paU +
      c(92) * taU2 * vaU * paU +
      c(93) * taU3 * vaU * paU +
      c(94) * taU4 * vaU * paU +
      c(95) * vaU2 * paU)
    s = s + (c(96) * taU * vaU2 * paU +
      c(97) * taU2 * vaU2 * paU +
      c(98) * taU3 * vaU2 * paU +
      c(99) * vaU3 * paU +
      c(100) * taU * vaU3 * paU +
      c(101) * taU2 * vaU3 * paU +
      c(102) * vaU4 * paU +
      c(103) * taU * vaU4 * paU)
    s = s + (c(104) * vaU5 * paU +
      c(105) * dtm * paU +
      c(106) * taU * dtm * paU +
      c(107) * taU2 * dtm * paU +
      c(108) * taU3 * dtm * paU +
      c(109) * taU4 * dtm * paU +
      c(110) * vaU * dtm * paU +
      c(111) * taU * vaU * dtm * paU)
    s = s + (c(112) * taU2 * vaU * dtm * paU +
      c(113) * taU3 * vaU * dtm * paU +
      c(114) * vaU2 * dtm * paU +
      c(115) * taU * vaU2 * dtm * paU +
      c(116) * taU2 * vaU2 * dtm * paU +
      c(117) * vaU3 * dtm * paU +
      c(118) * taU * vaU3 * dtm * paU +
      c(119) * vaU4 * dtm * paU)
    s = s + (c(120) * dtm2 * paU +
      c(121) * taU * dtm2 * paU +
      c(122) * taU2 * dtm2 * paU +
      c(123) * taU3 * dtm2 * paU +
      c(124) * vaU * dtm2 * paU +
      c(125) * taU * vaU * dtm2 * paU +
      c(126) * taU2 * vaU * dtm2 * paU +
      c(127) * vaU2 * dtm2 * paU)
    s = s + (c(128) * taU * vaU2 * dtm2 * paU +
      c(129) * vaU3 * dtm2 * paU +
      c(130) * dtm3 * paU +
      c(131) * taU * dtm3 * paU +
      c(132) * taU2 * dtm3 * paU +
      c(133) * vaU * dtm3 * paU +
      c(134) * taU * vaU * dtm3 * paU +
      c(135) * vaU2 * dtm3 * paU)
    s = s + (c(136) * dtm4 * paU +
      c(137) * taU * dtm4 * paU +
      c(138) * vaU * dtm4 * paU +
      c(139) * dtm5 * paU +
      c(140) * paU2 +
      c(141) * taU * paU2 +
      c(142) * taU2 * paU2 +
      c(143) * taU3 * paU2)
    s
  }
  /** Groups 18–26, added onto the running left-associated sum `s`. */
  private def poly2(s0: Double): Double = {
    val c = UtciPoly
    var s = s0 + (c(144) * taU4 * paU2 +
      c(145) * vaU * paU2 +
      c(146) * taU * vaU * paU2 +
      c(147) * taU2 * vaU * paU2 +
      c(148) * taU3 * vaU * paU2 +
      c(149) * vaU2 * paU2 +
      c(150) * taU * vaU2 * paU2 +
      c(151) * taU2 * vaU2 * paU2)
    s = s + (c(152) * vaU3 * paU2 +
      c(153) * taU * vaU3 * paU2 +
      c(154) * vaU4 * paU2 +
      c(155) * dtm * paU2 +
      c(156) * taU * dtm * paU2 +
      c(157) * taU2 * dtm * paU2 +
      c(158) * taU3 * dtm * paU2 +
      c(159) * vaU * dtm * paU2)
    s = s + (c(160) * taU * vaU * dtm * paU2 +
      c(161) * taU2 * vaU * dtm * paU2 +
      c(162) * vaU2 * dtm * paU2 +
      c(163) * taU * vaU2 * dtm * paU2 +
      c(164) * vaU3 * dtm * paU2 +
      c(165) * dtm2 * paU2 +
      c(166) * taU * dtm2 * paU2 +
      c(167) * taU2 * dtm2 * paU2)
    s = s + (c(168) * vaU * dtm2 * paU2 +
      c(169) * taU * vaU * dtm2 * paU2 +
      c(170) * vaU2 * dtm2 * paU2 +
      c(171) * dtm3 * paU2 +
      c(172) * taU * dtm3 * paU2 +
      c(173) * vaU * dtm3 * paU2 +
      c(174) * dtm4 * paU2 +
      c(175) * paU3)
    s = s + (c(176) * taU * paU3 +
      c(177) * taU2 * paU3 +
      c(178) * taU3 * paU3 +
      c(179) * vaU * paU3 +
      c(180) * taU * vaU * paU3 +
      c(181) * taU2 * vaU * paU3 +
      c(182) * vaU2 * paU3 +
      c(183) * taU * vaU2 * paU3)
    s = s + (c(184) * vaU3 * paU3 +
      c(185) * dtm * paU3 +
      c(186) * taU * dtm * paU3 +
      c(187) * taU2 * dtm * paU3 +
      c(188) * vaU * dtm * paU3 +
      c(189) * taU * vaU * dtm * paU3 +
      c(190) * vaU2 * dtm * paU3 +
      c(191) * dtm2 * paU3)
    s = s + (c(192) * taU * dtm2 * paU3 +
      c(193) * vaU * dtm2 * paU3 +
      c(194) * dtm3 * paU3 +
      c(195) * paU4 +
      c(196) * taU * paU4 +
      c(197) * taU2 * paU4 +
      c(198) * vaU * paU4 +
      c(199) * taU * vaU * paU4)
    s = s + (c(200) * vaU2 * paU4 +
      c(201) * dtm * paU4 +
      c(202) * taU * dtm * paU4 +
      c(203) * vaU * dtm * paU4 +
      c(204) * dtm2 * paU4 +
      c(205) * paU5 +
      c(206) * taU * paU5 +
      c(207) * vaU * paU5)
    s = s + (c(208) * dtm * paU5 +
      c(209) * paU6)
    s
  }
}

object ThermalKernel {
  /** The expression's value: the chain columns `W4hJob` keeps, with
    * the chain's types and nullability.
    */
  val schema: StructType = StructType(Seq(
    StructField("aoff", LongType),
    StructField("tmp2m", DoubleType),
    StructField("utci_c", DoubleType, nullable = false),
    StructField("wbgt_c", DoubleType),
    StructField("encoded", IntegerType)))

  /** Column API: a struct column; select its fields through an alias. */
  def apply(lat: Column, lon: Column, doy: Column, hh: Column, mv: Column): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    column(ThermalKernelExpr(expression(lat), expression(lon), expression(doy),
      expression(hh), expression(mv)))
  }

  // literal-only subterms as the optimizer folds them
  private final val Ulw = 5.5566e-8 // 0.0000000567 * 0.98, an exact DECIMAL product
  private final val GgScale = 2.0 * Math.PI / 365.0
  private final val HourRad = Math.PI / 12.0
  private final val MrtScale = 1e0 / 5.67e-8
  private final val Absorb = 7e-1 / 9.7e-1

  /** [[UtciCoefficients.terms]]' coefficients, parsed as Spark parses them. */
  private val UtciPoly: Array[Double] = UtciCoefficients.terms.map(_._1.toDouble).toArray

  /** [[ThermalChain.q]]: floor to BIGINT, back to DOUBLE, over 1e6. */
  @inline private def q(x: Double): Double = M.floor(x * 1000000.0 + 0.5).toLong.toDouble / 1000000.0

  /** `greatest(lit, x)` / `least(lit, x)` for a literal `lit`. */
  @inline private def greatest(lit: Double, xNull: Boolean, x: Double): Double =
    if (!xNull && compareDoubles(x, lit) > 0) x else lit
  @inline private def least(lit: Double, xNull: Boolean, x: Double): Double =
    if (!xNull && compareDoubles(x, lit) < 0) x else lit

  /** [[ThermalChain.svp]]. */
  @inline private def svp(tC: Double): Double =
    6.105 * q(SM.exp(17.27 * tC / (237.7 + tC)))

  /** Layer 27's clamp: `CAST(least(1999, greatest(0, floor((x + 100) * 10 + 0.5))) AS BIGINT)`. */
  @inline private def encodeField(xNull: Boolean, x: Double): Long =
    least(1999.0, false, greatest(0.0, xNull, M.floor((x + 100.0) * 10.0 + 0.5).toLong.toDouble)).toLong
}
