package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.DoubleType
import graft.functions.{ThermalChain, ThermalKernel, ThermalKernelExpr}
import graft.pipeline.W4hJob

/** `ThermalKernel` against the chain it mirrors: the same bits for
  * every output of every row, and generated code the JIT compiles. */
class ThermalKernelSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val outputs = Seq("aoff", "tmp2m", "utci_c", "wbgt_c", "encoded")

  /** Per chain row: the chain's outputs, then the kernel's on the
    * chain's own base columns. */
  private def sideBySide(dir: String): Array[Row] =
    ThermalChain.df(spark, dir, ThermalChain.full)
      .withColumn("k", ThermalKernel($"lat", $"lon", $"doy", $"hh", $"mv"))
      .select(outputs.map(col) ++ outputs.map(o => col(s"k.$o").as(s"k_$o")): _*)
      .collect()

  /** Doubles by raw bits (NaN payloads and -0.0 included), the rest as is. */
  private def bits(r: Row, i: Int): Any =
    if (r.isNullAt(i)) null
    else r.get(i) match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }

  private def assertParity(rows: Array[Row]): Unit = {
    val bad = for {
      r <- rows.toSeq
      i <- outputs.indices
      if bits(r, i) != bits(r, i + outputs.size)
    } yield s"${outputs(i)}: chain ${r.get(i)} kernel ${r.get(i + outputs.size)}"
    assert(bad.isEmpty, s"${bad.size} differing values, first: ${bad.take(5).mkString("; ")}")
  }

  test("kernel parity: every sf0.01 event, bit for bit against ThermalChain.df") {
    val sf01 = new java.io.File(SharedSpark.sf).getParent + "/sf0.01"
    val rows = sideBySide(sf01)
    assert(rows.length == Tables.events(spark, sf01).count())
    assertParity(rows)
  }

  /** Hand-built events: a null in each input column, NaN / infinite /
    * signed-zero values, extreme ids and times. */
  private lazy val edgeDir: String = {
    val ev = Tables.events(spark, SharedSpark.sf)
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val t0 = ts("2024-03-01 12:00:00")
    val values = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0,
      Double.MaxValue, -Double.MaxValue, Double.MinPositiveValue, 1e300, -7.25)
    // (event_id, ts, user_id, value); `event_id * 7` must not overflow
    val rows: Seq[(java.lang.Long, java.sql.Timestamp, java.lang.Long, java.lang.Double)] =
      Seq[(java.lang.Long, java.sql.Timestamp, java.lang.Long, java.lang.Double)](
        (1L, t0, 5L, 1.5), (null, t0, 5L, 1.5), (1L, null, 5L, 1.5),
        (1L, t0, null, 1.5), (1L, t0, 5L, null), (null, null, null, null),
        (Long.MaxValue / 7, t0, Long.MaxValue, 2.0), (Long.MinValue / 7, t0, Long.MinValue, 2.0),
        (-1L, t0, -1L, 3.0), (0L, t0, 0L, 0.0),
        (3L, ts("1900-01-01 00:00:00"), 11L, 4.0), (3L, ts("9999-12-31 23:59:59"), 11L, 4.0),
        (3L, ts("2024-12-31 23:30:00"), 11L, 4.0), (3L, ts("1970-01-01 00:00:00"), 11L, 4.0)) ++
        values.zipWithIndex.map { case (v, i) =>
          (java.lang.Long.valueOf(i + 10L), t0, java.lang.Long.valueOf(i.toLong), java.lang.Double.valueOf(v)) } ++
        values.map(v => (java.lang.Long.valueOf(9L), null, java.lang.Long.valueOf(3L), java.lang.Double.valueOf(v)))
    val dir = graft.store.Versioned.tempRoot("graft_kernel_edges")
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (e, t, u, v) =>
      Row(e, t, u, "view", v, null) }, 1), ev.schema)
      .write.parquet(s"$dir/events.parquet")
    dir
  }
  private val edgeRows = 34

  test("kernel parity: null inputs, NaN / infinite / signed-zero values, extreme ids and times") {
    val got = sideBySide(edgeDir)
    assert(got.length == edgeRows)
    // the null-input rows reach both null and non-null outputs
    assert(got.exists(_.isNullAt(0)) && got.exists(_.isNullAt(1)) && !got.exists(_.isNullAt(2)))
    assertParity(got)
  }

  test("kernel parity through the interpreted eval, on the hand-built rows") {
    // `eval` runs where generated code does not (a codegen fallback, a
    // projection folded over a local relation). It passes 0.0 for a
    // null input where generated code passes -1.0, and takes a fresh
    // kernel per row: the values must be the chain's all the same
    val in = Seq("lat", "lon", "doy", "hh", "mv")
    val chain = ThermalChain.df(spark, edgeDir, ThermalChain.full)
      .select((outputs ++ in).map(col): _*).collect()
    assert(chain.length == edgeRows)
    val fields = ThermalKernel.schema.fields
    assert(fields.map(_.name).toSeq == outputs)
    val rows = chain.map { r =>
      val args = in.indices.map { i =>
        val j = outputs.size + i
        Literal.create(if (r.isNullAt(j)) null else r.getDouble(j), DoubleType)
      }
      val k = ThermalKernelExpr(args(0), args(1), args(2), args(3), args(4))
        .eval(null).asInstanceOf[InternalRow]
      Row.fromSeq(outputs.indices.map(r.get) ++
        fields.indices.map(i => if (k.isNullAt(i)) null else k.get(i, fields(i).dataType)))
    }
    assert(rows.exists(r => r.isNullAt(0)) && rows.exists(r => r.isNullAt(1)))
    assertParity(rows)
  }

  test("W4hJob's grid equals the max-aggregated chain, schema and rows") {
    val chain = ThermalChain.df(spark, SharedSpark.sf, ThermalChain.full)
      .groupBy($"lat", $"lon", $"aoff")
      .agg(max($"tmp2m").as("tmp2m"), max($"utci_c").as("utci_c"),
        max($"wbgt_c").as("wbgt_c"), max($"encoded").as("encoded"))
    val grid = W4hJob.thermalGrid(spark, SharedSpark.sf)
    assert(grid.schema == chain.schema)
    def keyed(df: DataFrame) = df.collect().map { r =>
      (r.getDouble(0), r.getDouble(1), r.getLong(2)) -> (3 until 7).map(bits(r, _))
    }.toMap
    val (g, c) = (keyed(grid), keyed(chain))
    assert(g.nonEmpty && g.size == grid.count())
    assert(g == c)
  }

  test("W4hJob's grid: one kernel call, every generated method under HotSpot's 8,000-byte limit") {
    val grid = W4hJob.thermalGrid(spark, SharedSpark.sf)
    grid.collect() // under AQE the final plan holds the generated stages
    val stages = org.apache.spark.sql.execution.debug
      .codegenStringSeq(grid.queryExecution.executedPlan)
    assert(stages.nonEmpty)
    // without -XX:-DontCompileHugeMethods HotSpot never compiles a
    // bigger method: it runs interpreted
    val worst = stages.map(_._3.maxMethodCodeSize).max
    assert(worst < 8000, s"largest generated method is $worst bytes")
    val calls = stages.map(s => "\\.compute\\(".r.findAllIn(s._2).size).sum
    assert(calls == 1, s"expected one kernel call in the generated code, found $calls")
  }
}
