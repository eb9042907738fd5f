package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.Tables.ts
import graft.functions.{Iterate, Stable}

/** Relational/analytic core: TPC-H-shaped queries over the testdata
  * star schema. Capabilities mirrored from the reference's data
  * handling (slicing, merging, grouping — /root/reference/main.py)
  * generalized to the full relational surface a Spark engine offers.
  *
  * Scale notes (100 TB posture):
  *  - dimension tables (region/nation/customer/supplier/part) are
  *    broadcast — fact-table scans never shuffle for them;
  *  - aggregates are partial (map-side combine) by construction;
  *  - every floating aggregate goes through [[graft.functions.Stable]]
  *    (per-row integerize, exact BIGINT sum, divide back) so results
  *    are bitwise deterministic regardless of accumulation order.
  */
object Relational {

  /** q1: pricing-summary multi-aggregate group-by (TPC-H Q1 shape). */
  def q1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit(ts("2000-09-02")))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(floor($"l_quantity" + lit(0.5)).cast("long")).as("sum_qty"),
        Stable.dsum($"l_extendedprice", 2).as("sum_base_price"),
        Stable.dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4).as("sum_disc_price"),
        Stable.dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax"), 6).as("sum_charge"),
        Stable.davg($"l_quantity", 2).as("avg_qty"),
        Stable.davg($"l_extendedprice", 2).as("avg_price"),
        Stable.davg($"l_discount", 2).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  ${Stable.sumSql("l_extendedprice", 2)} AS sum_base_price,
      |  ${Stable.sumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
      |  ${Stable.sumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
      |  ${Stable.avgSql("l_quantity", 2)} AS avg_qty,
      |  ${Stable.avgSql("l_extendedprice", 2)} AS avg_price,
      |  ${Stable.avgSql("l_discount", 2)} AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q2: correlated max — each customer's highest-value order(s),
    * decorrelated into a window max (one shuffle on the key, vs the
    * naive re-scan per row a correlated subquery implies).
    */
  def q2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
    Tables.orders(spark, dir)
      .withColumn("mx", max($"o_totalprice").over(w))
      .filter($"o_totalprice" === $"mx")
      .select($"o_custkey", $"o_orderkey",
        (floor($"o_totalprice" * 1e2 + lit(0.5)).cast("long") / 1e2).as("best_price"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val q2Sql: String =
    """SELECT o_custkey, o_orderkey, best_price
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) / 1e2 AS best_price,
      |        max(o_totalprice) OVER (PARTITION BY o_custkey) AS mx
      |      FROM orders)
      |WHERE o_totalprice = mx
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** q4: late-shipping orders per priority — EXISTS with a join-local
    * predicate, as a native left-semi join.
    */
  def q4(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit(ts("1997-01-01")) && $"o_orderdate" < lit(ts("1997-07-01")))
    val li = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_shipdate")
    ord.join(li,
        $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" > expr("timestampadd(DAY, 60, o_orderdate)"), "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_late"))
      .orderBy($"o_orderpriority")
  }

  val q4Sql: String =
    """SELECT o_orderpriority, count(*) AS n_late
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q3: shipping-priority — 3-way join, agg, top-10. Customer is a
    * broadcast dim; orders/lineitem join shuffles on the order key.
    */
  def q3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cutoff = lit(ts("1998-03-15"))
    val cust = Tables.customer(spark, dir).filter($"c_mktsegment" === "BUILDING")
    val ord = Tables.orders(spark, dir).filter($"o_orderdate" < cutoff)
    val li = Tables.lineitem(spark, dir).filter($"l_shipdate" > cutoff)
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(Stable.dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4).as("revenue"))
      .select($"l_orderkey", $"revenue",
        date_format($"o_orderdate", "yyyy-MM-dd").as("orderdate"), $"o_orderpriority")
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  val q3Sql: String =
    s"""SELECT l_orderkey,
      |  ${Stable.sumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
      |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |  o_orderpriority
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** q5: star join across all six relational tables with broadcast
    * dimensions (TPC-H Q5 shape, region/nation/customer/supplier dims).
    */
  def q5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val region = Tables.region(spark, dir)
    val nation = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit(ts("1996-01-01")) && $"o_orderdate" < lit(ts("1998-01-01")))
    val li = Tables.lineitem(spark, dir)
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(Stable.dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4).as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  val q5Sql: String =
    s"""SELECT n_name,
      |  ${Stable.sumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
      |FROM customer
      |  JOIN orders   ON o_custkey = c_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |  JOIN region   ON n_regionkey = r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** q6: selective filter + scalar aggregate — the predicate-pushdown
    * showcase: all three filters reach the parquet scan.
    */
  def q6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit(ts("1996-01-01")) && $"l_shipdate" < lit(ts("1997-01-01")))
      .filter($"l_discount".between(0.03, 0.07) && $"l_quantity" < 25)
      .agg(Stable.dsum($"l_extendedprice" * $"l_discount", 4).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  val q6Sql: String =
    s"""SELECT ${Stable.sumSql("l_extendedprice * l_discount", 4)} AS revenue,
      |  count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.03 AND 0.07
      |  AND l_quantity < 25""".stripMargin

  /** q7: EXISTS / NOT EXISTS via native left-semi and left-anti joins,
    * merged on the group key.
    */
  def q7(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    val ordKeys = Tables.orders(spark, dir).select($"o_custkey")
    val withOrders = cust.join(ordKeys, $"c_custkey" === $"o_custkey", "left_semi")
      .groupBy($"c_nationkey").agg(count(lit(1)).as("n_with"))
    val withoutOrders = cust.join(ordKeys, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey").agg(count(lit(1)).as("n_without"))
    withOrders.join(withoutOrders, Seq("c_nationkey"), "full_outer")
      .na.fill(0L, Seq("n_with", "n_without"))
      .orderBy($"c_nationkey")
  }

  val q7Sql: String =
    """SELECT c_nationkey,
      |  count(*) FILTER (WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_with,
      |  count(*) FILTER (WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_without
      |FROM customer
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  /** q8: hierarchical ROLLUP aggregate over orders. */
  def q8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        Stable.dsum($"o_totalprice", 2).as("total_price"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
  }

  val q8Sql: String =
    s"""SELECT o_orderstatus, o_orderpriority,
      |  count(*) AS n_orders,
      |  ${Stable.sumSql("o_totalprice", 2)} AS total_price
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** q15: CUBE aggregate (all grouping-set combinations). */
  def q15(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), Stable.dsum($"l_quantity", 2).as("qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  val q15Sql: String =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  ${Stable.sumSql("l_quantity", 2)} AS qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** q16: set operations — INTERSECT and EXCEPT of customer key sets
    * (buyers in two disjoint periods), merged with a tag.
    */
  def q16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
    val a = ord.filter($"o_orderdate" < lit(ts("1998-01-01"))).select($"o_custkey")
    val b = ord.filter($"o_orderdate" >= lit(ts("1998-01-01"))).select($"o_custkey")
    a.intersect(b).withColumn("tag", lit("both"))
      .unionByName(a.except(b).withColumn("tag", lit("early_only")))
      .orderBy($"tag", $"o_custkey")
  }

  val q16Sql: String =
    """WITH a AS (SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
      |b AS (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
      |SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
      |UNION ALL
      |SELECT o_custkey, 'early_only' AS tag FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
      |ORDER BY tag, o_custkey""".stripMargin

  /** q17: pivot — event counts per user decile by event type. */
  def q17(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .selectExpr("user_id % 10 AS decile", "event_type")
      .groupBy($"decile")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy($"decile")
  }

  val q17Sql: String =
    """SELECT user_id % 10 AS decile,
      |  count(*) FILTER (WHERE event_type = 'click') AS click,
      |  count(*) FILTER (WHERE event_type = 'error') AS error,
      |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  count(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q18: exact interpolated quartiles of an integer-valued measure
    * (interpolation arithmetic on integer-valued doubles is exact, so
    * cross-engine bitwise parity holds).
    */
  def q18(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(expr("percentile(l_quantity, 0.25)").as("q25"),
        expr("percentile(l_quantity, 0.5)").as("median"),
        expr("percentile(l_quantity, 0.75)").as("q75"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  val q18Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS q25,
      |  quantile_cont(l_quantity, 0.5) AS median,
      |  quantile_cont(l_quantity, 0.75) AS q75,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q9: running windowed analytics per customer — one shuffle on the
    * partition key, ordered frame with a deterministic tie-break.
    */
  def q9(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("running_total",
        (sum(floor($"o_totalprice" * 100 + lit(0.5)).cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)) / 100.0))
      .select($"o_custkey", $"o_orderkey", $"rn", $"running_total")
      .orderBy($"o_custkey", $"rn")
  }

  val q9Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  row_number() OVER w AS rn,
      |  sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS running_total
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, rn""".stripMargin

  /** q10: top-k per group via ranked window + filter. */
  def q10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"p_brand").orderBy($"p_retailprice".desc, $"p_partkey")
    Tables.part(spark, dir)
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .select($"p_brand", $"rnk", $"p_partkey", round($"p_retailprice", 2).as("price"))
      .orderBy($"p_brand", $"rnk")
  }

  val q10Sql: String =
    """SELECT p_brand, rnk, p_partkey, price FROM (
      |  SELECT p_brand, p_partkey, round(p_retailprice, 2) AS price,
      |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rnk
      |  FROM part)
      |WHERE rnk <= 3
      |ORDER BY p_brand, rnk""".stripMargin

  /** q19: correlated scalar subquery — orders above the customer's own
    * average order value — decorrelated into window aggregates (one
    * shuffle on the correlation key instead of a per-row subquery).
    * The mean is integerized-cents / count: order-free, bitwise.
    */
  def q19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
    Tables.orders(spark, dir)
      .withColumn("cents", floor($"o_totalprice" * 1e2 + lit(0.5)).cast("long"))
      .withColumn("avg_price", (sum($"cents").over(w) / count(lit(1)).over(w)) / 1e2)
      .filter($"o_totalprice" > $"avg_price")
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_above"))
      .orderBy($"o_custkey")
  }

  val q19Sql: String =
    """SELECT o_custkey, count(*) AS n_above
      |FROM (SELECT o_custkey, o_totalprice,
      |        (sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) OVER (PARTITION BY o_custkey)
      |          / count(*) OVER (PARTITION BY o_custkey)) / 1e2 AS avg_price
      |      FROM orders)
      |WHERE o_totalprice > avg_price
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  /** q20: semi-structured extraction — parse the events' JSON `props`
    * with a schema'd `from_json` (native Catalyst JsonToStructs, no
    * UDF) and aggregate per event type. A narrow map + one shuffle.
    */
  def q20(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_type",
        from_json($"props", "k BIGINT", Map.empty[String, String]).getField("k").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val q20Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q21: RANGE-frame window — each order's trailing-30-day customer
    * spend (inclusive of the order). A value-range frame, not a row
    * frame: the frame bound moves with the ORDER BY value (order day),
    * so ties and gaps behave differently from ROWS BETWEEN. Sum is
    * integer cents; one shuffle on the customer key.
    */
  def q21(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"oday")
      .rangeBetween(-30, 0)
    Tables.orders(spark, dir)
      // day number via datediff, not unix_micros: o_orderdate is a
      // parquet ms-timestamp (TIMESTAMP_NTZ in Spark 4), and the
      // NTZ->TZ cast unix_micros needs would drag the session
      // timezone into the value; date arithmetic is tz-free
      .withColumn("oday", expr("datediff(CAST(o_orderdate AS DATE), DATE '1990-01-01')"))
      .withColumn("cents", floor($"o_totalprice" * 1e2 + lit(0.5)).cast("long"))
      .withColumn("t30", sum($"cents").over(w))
      .select($"o_custkey", $"o_orderkey", ($"t30" / 1e2).as("trailing_30d"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** q23: q10's top-k-per-group through the typed bounded
    * [[graft.functions.TopKAgg]] `Aggregator` instead of window+rank:
    * O(k) state per group with map-side partial aggregation — no
    * full-group sort, no whole-group shuffle; the scale path for
    * top-k over skewed or giant groups. Same oracle as q10.
    */
  def q23(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val topk = new graft.functions.TopKAgg(3).toColumn
    Tables.part(spark, dir)
      .select($"p_brand", $"p_retailprice", $"p_partkey")
      .as[(String, Double, Long)]
      .map { case (b, price, id) => (b, (price, id)) }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(topk.name("tops"))
      .toDF("p_brand", "tops")
      .selectExpr("p_brand", "posexplode(tops) AS (i, t)")
      .selectExpr("p_brand", "CAST(i + 1 AS INT) AS rnk",
        "t._2 AS p_partkey", "round(t._1, 2) AS price")
      .orderBy($"p_brand", $"rnk")
  }

  /** q22: explicit GROUPING SETS with grouping() markers — the
    * arbitrary-set member of the ROLLUP(q8)/CUBE(q15) family: three
    * hand-picked sets including a non-prefix one ((o_orderpriority),
    * not a rollup prefix), disambiguated by grouping flags. Declared in
    * `spark.sql` (the SQL surface is part of the engine contract);
    * Spark expands to one Expand + hash aggregate — a single shuffle.
    */
  def q22(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_q22_orders")
    spark.sql(
      s"""SELECT o_orderstatus, o_orderpriority,
         |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
         |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
         |  count(*) AS n_orders,
         |  ${graft.functions.Stable.sumSql("o_totalprice", 2)} AS total_price
         |FROM graft_q22_orders
         |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
         |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
  }

  val q22Sql: String =
    s"""SELECT o_orderstatus, o_orderpriority,
      |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
      |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
      |  count(*) AS n_orders,
      |  ${graft.functions.Stable.sumSql("o_totalprice", 2)} AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
      |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  val q21Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY oday
      |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) / 1e2 AS trailing_30d
      |FROM (SELECT o_custkey, o_orderkey,
      |        date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS oday,
      |        CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS cents
      |      FROM orders)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** q24: gaps-and-islands — per-user consecutive-active-day streaks,
    * the classic sequence-reconstruction pattern (sessionization's
    * calendar-grain cousin): island id = day − row_number(), so a run
    * of consecutive days collapses to one group without self-joins or
    * recursion. One shuffle on user_id (the window and the aggregate
    * share it); integer day arithmetic end to end.
    */
  def q24(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"day")
    Tables.events(spark, dir)
      .selectExpr("user_id", "CAST(extract(DOY FROM ts) AS BIGINT) AS day")
      // hash(user_id) satisfies the distinct's (user_id, day)
      // clustering AND the window's — one shuffle serves all three
      // steps instead of distinct-then-window re-shuffling
      .repartition($"user_id")
      .distinct()
      .withColumn("grp", $"day" - row_number().over(w))
      .groupBy($"user_id", $"grp")
      .agg(min($"day").as("streak_start"), max($"day").as("streak_end"),
        count(lit(1)).as("days"))
      .select($"user_id", $"streak_start", $"streak_end", $"days")
      .transform(Tables.ordered(_, $"user_id", $"streak_start"))
  }

  val q24Sql: String =
    """WITH d AS (SELECT DISTINCT user_id, CAST(extract(doy FROM ts) AS BIGINT) AS day FROM events),
      |g AS (SELECT user_id, day,
      |        day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |      FROM d)
      |SELECT user_id, min(day) AS streak_start, max(day) AS streak_end,
      |  count(*) AS days
      |FROM g
      |GROUP BY user_id, grp
      |ORDER BY user_id, streak_start""".stripMargin

  /** q25: rolling 7-day distinct active users per observed day — the
    * sliding-MAU/DAU analytic. Spark windows can't do COUNT(DISTINCT)
    * over a RANGE frame; instead each (user, day) activity emits its 7
    * covered window-end days (bounded explode — the same key-
    * arithmetic move as w11/w19), and one aggregate counts distinct
    * users per window end. Shuffle budget: the explode is narrow, the
    * distinct-count is one Expand + partial/final aggregate; fan-out
    * is the window length, independent of data size.
    */
  def q25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.events(spark, dir)
      .selectExpr("user_id", "CAST(extract(DOY FROM ts) AS BIGINT) AS day")
      .distinct()
    val observed = d.select($"day").distinct()
    d.selectExpr("user_id", "explode(sequence(day, day + 6)) AS wday")
      .join(observed.withColumnRenamed("day", "wday"), Seq("wday"), "left_semi")
      .groupBy($"wday")
      .agg(countDistinct($"user_id").as("active_users_7d"))
      .select($"wday".as("day"), $"active_users_7d")
      .transform(Tables.ordered(_, $"day"))
  }

  val q25Sql: String =
    """WITH d AS (SELECT DISTINCT user_id, CAST(extract(doy FROM ts) AS BIGINT) AS day FROM events),
      |w AS (SELECT user_id, unnest(range(day, day + 7)) AS wday FROM d)
      |SELECT wday AS day, count(DISTINCT user_id) AS active_users_7d
      |FROM w
      |WHERE wday IN (SELECT day FROM d)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q26: peak concurrent sessions per day — the interval-counting
    * analytic (capacity planning / load sizing). Sessions come from
    * e3's 30-min-gap sessionization; each session is clipped to the
    * days it covers (bounded explode — sessions are short, so the
    * fan-out is 1-2), then the classic sweep: +1 at each clipped
    * start, −1 at each clipped end, running sum per day, max. Closed
    * intervals: at equal timestamps starts order before ends
    * (delta DESC), so a session ending exactly when another starts
    * counts as overlap in both engines. The running sum is
    * HIERARCHICAL (the t9 scan decomposition): level 0 scans within
    * (day, 15-min-bucket) partitions only; level 1 carries exclusive
    * bucket offsets via a window over the ≤96 per-day bucket
    * summaries; the day peak is max(offset + local max). No window
    * ever holds a whole day of boundary points, so billions of
    * sessions/day spread over 96 tasks/day instead of one hot task.
    * Shuffle budget: one on user_id (sessionize), one on (day, hb),
    * one tiny one on day for the bucket-summary table.
    */
  def q26(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gapUs = 1800L * 1000000L
    val dayUs = 86400L * 1000000L
    val wU = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"tus", $"event_id")
    val sess = Tables.events(spark, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("tus"))
      .withColumn("new_session",
        when(lag($"tus", 1).over(wU).isNull || $"tus" - lag($"tus", 1).over(wU) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("sid",
        sum($"new_session").over(wU.rowsBetween(Long.MinValue, 0)))
      .groupBy($"user_id", $"sid")
      .agg(min($"tus").as("s"), max($"tus").as("e"))
    val spans = sess
      .selectExpr("s", "e", s"explode(sequence(s div $dayUs, e div $dayUs)) AS day")
      .selectExpr("day",
        s"greatest(s, day * $dayUs) AS cs",
        s"least(e, day * $dayUs + ${dayUs - 1}) AS ce")
    val pts = spans.selectExpr("day", "cs AS t", "CAST(1 AS BIGINT) AS delta")
      .unionByName(spans.selectExpr("day", "ce AS t", "CAST(-1 AS BIGINT) AS delta"))
      .withColumn("hb", expr(s"t div ${900L * 1000000L}"))
    // Level 0: running sum WITHIN a (day, 15-min-bucket) partition
    // only — 96 buckets/day, so the level-1 offset window stays tiny
    // while the worst-case hot bucket is a quarter of an hour-grain
    // one. Equal-t ties stay inside one bucket (buckets are t
    // value-ranges), so (t asc, delta desc) ordering is preserved
    // across the split.
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy($"day", $"hb").orderBy($"t".asc, $"delta".desc)
      .rowsBetween(Long.MinValue, 0)
    val buckets = pts.withColumn("run", sum($"delta").over(wB))
      .groupBy($"day", $"hb")
      .agg(max($"run").as("local_max"), sum($"delta").as("btotal"),
        sum(when($"delta" === 1L, 1L).otherwise(0L)).as("starts"))
    // Level 1: exclusive bucket offsets — a window over the ≤96
    // bucket-summary rows per day, never over the points themselves.
    // peak(day) = max over buckets of (offset + local running max):
    // exact BIGINT algebra, bitwise-equal to the sequential sweep.
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy($"day").orderBy($"hb").rowsBetween(Long.MinValue, -1)
    buckets
      .withColumn("off", coalesce(sum($"btotal").over(wOff), lit(0L)))
      .groupBy($"day")
      .agg(max($"off" + $"local_max").as("peak_concurrent"),
        sum($"starts").as("n_intervals"))
      .transform(Tables.ordered(_, $"day"))
  }

  val q26Sql: String =
    """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
      |f AS (SELECT user_id, event_id, tus,
      |        CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL
      |               OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) > 1800000000
      |             THEN 1 ELSE 0 END AS new_session
      |      FROM ev),
      |sid AS (SELECT user_id, tus,
      |          sum(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |        FROM f),
      |sess AS (SELECT user_id, sid, min(tus) AS s, max(tus) AS e
      |         FROM sid GROUP BY 1, 2),
      |spans AS (SELECT day,
      |            greatest(s, day * 86400000000) AS cs,
      |            least(e, day * 86400000000 + 86399999999) AS ce
      |          FROM (SELECT s, e, unnest(range(s // 86400000000, e // 86400000000 + 1)) AS day
      |                FROM sess)),
      |pts AS (SELECT day, cs AS t, CAST(1 AS BIGINT) AS delta FROM spans
      |        UNION ALL
      |        SELECT day, ce AS t, CAST(-1 AS BIGINT) AS delta FROM spans),
      |run AS (SELECT day, delta,
      |          sum(delta) OVER (PARTITION BY day ORDER BY t ASC, delta DESC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur
      |        FROM pts)
      |SELECT day, CAST(max(cur) AS BIGINT) AS peak_concurrent,
      |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_intervals
      |FROM run
      |GROUP BY day
      |ORDER BY day""".stripMargin

  // ---------- q27: hierarchy resolution (recursive-CTE semantics) ----------

  /** q27: resolve every node of a forest to its root and depth — the
    * `WITH RECURSIVE` capability class (org charts, category trees,
    * bill-of-materials rollups) that Spark SQL has no native syntax
    * for. The forest is derived arithmetically from the customer
    * keys: parent(k) = k div 2, with k = 1 and every multiple of 97
    * cut loose as a root — multi-root, depth ~ log2(maxkey).
    *
    * Scale design: NOT the oracle's one-step-per-round walk (depth
    * rounds, each touching every unfinished node). Pointer jumping /
    * path doubling instead: state (id, ptr, dist) starts at the
    * parent edge and each round replaces ptr by ptr's ptr, adding
    * ptr's dist — distances to the CURRENT pointer stay exact, and
    * every path halves each round, so ceil(log2(depth)) rounds
    * total (5 rounds covers depth 2^32). Each round is one
    * equality self-join (shuffle on ptr) — no driver-side walking,
    * no per-node iteration. Convergence-detected like [[graft
    * .operators.Dedup.ccPropagate]]: the count of moved pointers
    * rides each round's checkpoint job ([[graft.functions.Iterate
    * .untilStable]]), never a separate count. Late rounds
    * concentrate pointers on the few root keys; that join-side skew
    * is handled per round by [[graft.operators.Skew.hotKeyJoin]] —
    * hot roots' (unique) hop rows broadcast, cold keys shuffle with a
    * ≤ hotThreshold per-key row bound (seeded-skew spec pins equality
    * + the bound).
    */
  def q27(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val init = Tables.customer(spark, dir)
      .selectExpr(
        "c_custkey AS id",
        "CASE WHEN c_custkey % 97 = 0 OR c_custkey = 1 THEN c_custkey ELSE c_custkey div 2 END AS ptr",
        "CAST(CASE WHEN c_custkey % 97 = 0 OR c_custkey = 1 THEN 0 ELSE 1 END AS BIGINT) AS dist")
    val (state, rounds, converged) = pointerJump(init, 12)
    require(converged, s"q27 pointer jumping did not converge in $rounds rounds")
    state.select($"id".as("c_custkey"), $"ptr".as("root"), $"dist".as("depth"))
      .transform(Tables.ordered(_, $"c_custkey"))
  }

  /** Pointer-jumping fixpoint over a parent forest. `init` carries
    * (id, ptr, dist) with ptr = parent(id) (self for roots) and dist
    * the edge count to ptr. Each round replaces every pointer by its
    * pointer's pointer — path lengths halve, so convergence needs
    * ceil(log2(max depth)) + 1 rounds (the +1 is the detection
    * round). Returns (state, rounds run, converged).
    *
    * REQUIRES the id set to be closed under ptr (every non-self
    * pointer resolves to a present id): the per-round join is inner,
    * so a dangling pointer would silently delete its node — while an
    * arithmetic recursive-CTE oracle would walk straight through the
    * gap. Guarded by a row-count check at the end; a non-closed
    * input (e.g. a filtered/sampled key set) is a hard error, never
    * a silently smaller answer.
    */
  private[graft] def pointerJump(init: DataFrame, maxRounds: Int,
      hotThreshold: Long = 100000L): (DataFrame, Int, Boolean) = {
    val spark = init.sparkSession
    import spark.implicits._
    val n0 = init.count()
    // the jump join reads the prior state twice (lineage cut per
    // round, so the doc'd depth-2³² budget of ~33 rounds is
    // reachable); `moved` rides out of the jump join itself, so the
    // observed change count needs no second join per round
    val out @ (state, _, _) = Iterate.untilStable(init, maxRounds,
        sum(when($"moved", 1L).otherwise(0L))) { state =>
      val hops = state.select($"id".as("jid"), $"ptr".as("jptr"), $"dist".as("jdist"))
      // Late rounds concentrate ~all ptrs on the few root keys —
      // hotKeyJoin broadcasts the (unique-keyed, hence few) hot hop
      // rows and shuffle-joins only the cold remainder, so no task
      // ever receives more than hotThreshold rows of one key.
      graft.operators.Skew
        .hotKeyJoin(state, hops, "ptr", "jid", hotThreshold)
        .select($"id", $"jptr".as("ptr"), ($"dist" + $"jdist").as("dist"),
          ($"jptr" =!= $"ptr").as("moved"))
    }
    require(state.count() == n0,
      s"pointer jumping lost nodes (${n0 - state.count()} of $n0): " +
        "the id set is not closed under ptr — dangling parents")
    out
  }

  /** q27 oracle: the textbook recursive CTE — one parent step per
    * recursion level, keep the row that reached a root. Same forest
    * arithmetic (`//` = Spark's `div` on BIGINT keys).
    */
  val q27Sql: String =
    """WITH RECURSIVE walk(id, cur, depth) AS (
      |  SELECT c_custkey, c_custkey, CAST(0 AS BIGINT) FROM customer
      |  UNION ALL
      |  SELECT id, cur // 2, depth + 1 FROM walk
      |  WHERE NOT (cur % 97 = 0 OR cur = 1))
      |SELECT id AS c_custkey, cur AS root, depth
      |FROM walk
      |WHERE cur % 97 = 0 OR cur = 1
      |ORDER BY c_custkey""".stripMargin

  /** q28: UNPIVOT (melt) — the inverse relational surface of q17's
    * pivot: a wide per-flag summary (three integerized measures as
    * columns) melts into (key, measure, value) long form via the
    * native `Dataset.unpivot` (Catalyst Expand — a NARROW row-local
    * fan-out, zero shuffles beyond the one aggregate that built the
    * wide input). Long form is what generic downstream consumers
    * (metric stores, chart pipelines) ingest; measures integerize per
    * §8.1 so the melt is exact BIGINT end-to-end.
    */
  def q28(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wide = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(sum(expr("CAST(floor(l_quantity + 0.5) AS BIGINT)")).as("sum_qty"),
        sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")).as("sum_price_c"),
        sum(expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)")).as("sum_disc_c"))
    wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price_c"), col("sum_disc_c")),
        "measure", "value")
      .orderBy($"l_returnflag", $"measure")
  }

  /** q29: the analytic-function surface in one query — ntile
    * (quartile bucketing), percent_rank, cume_dist and lead, over a
    * TOTALLY ordered frame (integerized cents + the unique orderkey
    * tiebreak, so every rank function is deterministic).
    * percent_rank = (rank−1)/(n−1) and cume_dist = peers/n are single
    * IEEE divisions of exact integers — bitwise cross-engine (§8).
    * One window shuffle on the partition key; all four functions
    * share it (one sort, no extra exchanges).
    */
  def q29(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_orderpriority")
      .orderBy($"cents", $"o_orderkey")
    Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1998-06-01"))
      .selectExpr("o_orderkey", "o_orderpriority",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents")
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .withColumn("next_gap",
        lead($"cents", 1).over(w) - $"cents")
      .orderBy($"o_orderpriority", $"cents", $"o_orderkey")
  }

  val q29Sql: String =
    """SELECT o_orderkey, o_orderpriority,
      |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume,
      |  lead(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT), 1) OVER w
      |    - CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS next_gap
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1998-06-01 00:00:00'
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT), o_orderkey)
      |ORDER BY o_orderpriority, cents, o_orderkey""".stripMargin

  /** q28 oracle: the melt unrolled as three UNION ALL legs (DuckDB's
    * UNPIVOT syntax exists but the unrolled form pins the exact
    * measure-name/column correspondence Spark emits).
    */
  val q28Sql: String =
    """WITH w AS (SELECT l_returnflag,
      |    CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty,
      |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_c,
      |    CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_c
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
      |UNION ALL
      |SELECT l_returnflag, 'sum_price_c' AS measure, sum_price_c AS value FROM w
      |UNION ALL
      |SELECT l_returnflag, 'sum_disc_c' AS measure, sum_disc_c AS value FROM w
      |ORDER BY l_returnflag, measure""".stripMargin

  /** q30: EXACT per-group median and mode via value-histogram
    * decomposition — the distributed shape for exact order
    * statistics. percentile()/median() over raw rows needs a
    * per-group sort of ALL rows (and approx_percentile is not
    * exact); instead, aggregate to a (group, value, count)
    * histogram first (map-side partial combine, one shuffle),
    * then run the cumulative-count window over DISTINCT VALUES
    * only — l_quantity has ~50 distinct values regardless of row
    * count, so the window input stays tiny at any corpus scale.
    * Median = mean of the two middle order statistics, located by
    * cross-multiplied cumulative counts (`2*cum >= tot` locates the
    * lower middle, `2*cum >= tot+1` the upper — correct in both
    * parities, integer, no division); mode = highest count with
    * smallest-value tie-break. The +/2.0 on two integral doubles is
    * exact in IEEE754, so the result is bitwise cross-engine.
    */
  def q30(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hist = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_linestatus", $"l_quantity")
      .agg(count(lit(1)).as("cnt"))
    val grp = Window.partitionBy($"l_returnflag", $"l_linestatus")
    val c = hist
      .withColumn("cum", sum($"cnt").over(grp.orderBy($"l_quantity")))
      .withColumn("tot", sum($"cnt").over(grp))
      .withColumn("rn", row_number().over(grp.orderBy($"cnt".desc, $"l_quantity")))
    c.groupBy($"l_returnflag", $"l_linestatus")
      .agg(max($"tot").as("n_rows"),
        ((min(when($"cum" * 2 >= $"tot", $"l_quantity")) +
          min(when($"cum" * 2 >= $"tot" + 1, $"l_quantity"))) / 2.0).as("median_qty"),
        min(when($"rn" === 1, $"l_quantity")).as("mode_qty"),
        max(when($"rn" === 1, $"cnt")).as("mode_cnt"))
      .transform(Tables.ordered(_, $"l_returnflag", $"l_linestatus"))
  }

  /** q30 oracle: the same histogram construction (NOT DuckDB's
    * median() — mirroring the decomposition pins the exact
    * middle-element arithmetic both engines must agree on).
    */
  val q30Sql: String =
    """WITH hist AS (
      |  SELECT l_returnflag, l_linestatus, l_quantity, count(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2, 3),
      |c AS (
      |  SELECT *,
      |    sum(cnt) OVER (PARTITION BY l_returnflag, l_linestatus
      |                   ORDER BY l_quantity) AS cum,
      |    sum(cnt) OVER (PARTITION BY l_returnflag, l_linestatus) AS tot,
      |    row_number() OVER (PARTITION BY l_returnflag, l_linestatus
      |                       ORDER BY cnt DESC, l_quantity) AS rn
      |  FROM hist)
      |SELECT l_returnflag, l_linestatus, CAST(max(tot) AS BIGINT) AS n_rows,
      |  (min(CASE WHEN cum * 2 >= tot THEN l_quantity END)
      |   + min(CASE WHEN cum * 2 >= tot + 1 THEN l_quantity END)) / 2.0 AS median_qty,
      |  min(CASE WHEN rn = 1 THEN l_quantity END) AS mode_qty,
      |  CAST(max(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS mode_cnt
      |FROM c
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------- q31: HyperLogLog distinct-count sketch ----------

  /** q31: DETERMINISTIC HyperLogLog ndv (Flajolet et al. 2007) with
    * a built-in accuracy audit against the exact count — the sketch
    * machinery lives in [[graft.functions.Hll]] (shared with the
    * streaming twin s18; full determinism and scale rationale
    * there). The only shuffle is the ≤ 1024-row register aggregate;
    * the exact-count audit is the one corpus-sized aggregate and
    * exists to grade the sketch.
    */
  def q31(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    graft.functions.Hll.estimateWithAudit(
      graft.functions.Hll.registers(li, "l_orderkey"),
      li.agg(countDistinct($"l_orderkey").as("n_exact")))
  }

  /** q31 oracle: the identical sketch in DuckDB — same hash prefix,
    * same binary-string rank, HUGEINT for the one wide product.
    */
  val q31Sql: String = graft.functions.Hll.oracleSql("lineitem", "l_orderkey")

  // ---------- q32: Count-Min heavy hitters ----------

  private val q32TopN = 10

  /** q32: DETERMINISTIC Count-Min frequency sketch (Cormode &
    * Muthukrishnan 2005) over supplier activity, with a built-in
    * accuracy audit: the true top-[[q32TopN]] suppliers by lineitem
    * count are point-estimated against the sketch and the
    * overcount (always ≥ 0 — CMS only overcounts) is reported per
    * key. The sketch machinery lives in [[graft.functions.Cms]]
    * (shared with the streaming twin s19; determinism and scale
    * rationale there).
    *
    * Scale shape: the cell aggregate moves ≤ d·w = 2048 rows per
    * executor (map-side partial sum) no matter how many billions
    * were scanned; the exact top-N audit is one key-grain aggregate
    * feeding a TakeOrderedAndProject (map-side partial top-N, no
    * global sort) and exists to grade the sketch.
    */
  def q32(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val top = li.selectExpr("CAST(l_suppkey AS STRING) AS ks")
      .groupBy($"ks").agg(count(lit(1)).as("n_exact"))
      .orderBy($"n_exact".desc, $"ks").limit(q32TopN)
    graft.functions.Cms.estimate(
        graft.functions.Cms.cells(li, "l_suppkey"), top)
      .transform(Tables.ordered(_, $"n_exact".desc, $"ks"))
  }

  /** q32 oracle: the identical sketch in DuckDB — same salted hash
    * prefix per row, same min-over-rows estimate.
    */
  val q32Sql: String =
    graft.functions.Cms.oracleSql("lineitem", "l_suppkey", q32TopN)

  // ---------- q33: 2-D skyline (Pareto frontier) ----------

  /** q33: the 2-D SKYLINE of parts minimizing (p_retailprice,
    * p_size) — "no other part is both cheaper and smaller"
    * (Börzsönyi et al. 2001, ICDE). The naive formulation is a
    * quadratic dominance anti-join (the oracle below); the
    * distributed shape exploits the 2-D structure: after sorting by
    * price, a part is on the skyline iff its size beats the running
    * minimum size of all STRICTLY cheaper parts (and the minimum of
    * its own price group — equal-(price,size) rows dominate neither
    * way and all survive).
    *
    * Scale decomposition (t9's hierarchical-scan argument for a
    * prefix MIN): (1) one price-grain aggregate (map-side combine)
    * collapses the corpus to its distinct prices; (2) the strict
    * prefix min runs as an in-bucket window (partitioned by the
    * integer price bucket) plus a bucket-grain carry window —
    * the only unpartitioned window rides the BUCKET grain
    * (one row per distinct currency unit — value-bounded metadata,
    * never corpus-sized); (3) the corpus joins back on price,
    * reusing the price hash partitioning. min is idempotent, so the
    * two-level split is exactly the sequential fold.
    */
  def q33(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = Tables.part(spark, dir)
      .select($"p_partkey", $"p_retailprice", $"p_size")
    val gmin = parts.groupBy($"p_retailprice")
      .agg(min($"p_size").as("gmin"))
      .withColumn("pb", expr("CAST(floor(p_retailprice) AS BIGINT)"))
    val wIn = Window.partitionBy($"pb").orderBy($"p_retailprice")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wBucket = Window.orderBy($"pb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = gmin.groupBy($"pb").agg(min($"gmin").as("bmin"))
      .withColumn("carry", min($"bmin").over(wBucket))
    // least() skips nulls: null strict_min marks the cheapest price
    // (nothing strictly cheaper exists — always on the skyline)
    val thresh = gmin
      .withColumn("in_min", min($"gmin").over(wIn))
      .join(carry.select($"pb", $"carry"), Seq("pb"))
      .select($"p_retailprice", $"gmin",
        least($"in_min", $"carry").as("strict_min"))
    parts.join(thresh, Seq("p_retailprice"))
      .filter($"p_size" === $"gmin" &&
        ($"strict_min".isNull || $"p_size" < $"strict_min"))
      .select($"p_partkey", $"p_retailprice", $"p_size")
      .transform(Tables.ordered(_, $"p_partkey"))
  }

  /** q33 oracle: the definitional quadratic dominance anti-join —
    * implementation-independent ground truth for the prefix-min
    * decomposition.
    */
  val q33Sql: String =
    """SELECT p_partkey, p_retailprice, p_size
      |FROM part a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part b
      |  WHERE b.p_retailprice <= a.p_retailprice
      |    AND b.p_size <= a.p_size
      |    AND (b.p_retailprice < a.p_retailprice OR b.p_size < a.p_size))
      |ORDER BY p_partkey""".stripMargin

  // ---------- q34: fixed-width histogram quantile sketch ----------

  private val q34Width = 512L
  private val q34Quantiles = Seq(500, 900, 990) // permille

  /** q34: MERGEABLE equi-width histogram quantile sketch over
    * `l_extendedprice` — the fixed-size percentile monitor for a
    * column whose distinct-value count grows with the corpus (q30's
    * exact decomposition needs a value-bounded domain; a continuous
    * price has none, and an exact p99 of 10¹¹ rows needs a global
    * sort nobody runs nightly). The sketch machinery lives in
    * [[graft.functions.HistQ]] (shared VERBATIM with the streaming
    * twin s22 — the Hll/Cms sharing contract applied to rank):
    * values land in 256 buckets of width [[q34Width]] (overflow
    * clamps); each requested permille reports the first bucket whose
    * cumulative count reaches q·n/1000 (cross-multiplied — no
    * division), its upper value edge, and the bracketing cumulative
    * counts that PROVE the one-bucket rank guarantee.
    *
    * Scale shape: one narrow bucket map + a ≤ 256-row aggregate
    * (map-side combine — the sketch IS mergeable state); location
    * rides a struct-argmin inside the same aggregate (a join back
    * to the histogram would recompute its subtree — PlanSpec pins
    * the single scan). HLL/CMS/bottom-k/histogram now cover
    * count-distinct, frequency, sampling and rank.
    */
  def q34(spark: SparkSession, dir: String): DataFrame =
    graft.functions.HistQ.locate(
      graft.functions.HistQ.histogram(
        Tables.lineitem(spark, dir), "l_extendedprice", q34Width),
      q34Width, q34Quantiles)

  /** q34 oracle: identical bucket arithmetic and cross-multiplied
    * rank location (generated by the shared sketch module).
    */
  val q34Sql: String =
    graft.functions.HistQ.oracleSql("lineitem", "l_extendedprice", q34Width, q34Quantiles)

  // ---------- q35: HLL set operations (audience overlap) ----------

  /** q35: SKETCHED SET OPERATIONS — audience-overlap estimation from
    * mergeable HLL register tables (Flajolet et al. 2007; the
    * inclusion–exclusion intersection is the standard
    * theta/HLL-family audience workflow): |A|, |B|, |A∪B| each from
    * a sketch, |A∩B| = est(A) + est(B) − est(A∪B) — the measurement
    * a 100 TB pipeline runs when segment pairs are too many to
    * count-distinct exactly. The UNION sketch is the per-register
    * MAX-MERGE of A's and B's registers (never a data rescan) —
    * exactly why HLL is the right monitoring sketch: registers
    * merge across segments, partitions, days, or streams.
    *
    * Segments (order keys by disjoint predicates over the same
    * fact table): A = orders shipping any quantity ≥ 25 line, B =
    * orders with any discount ≥ 0.05 line — overlapping but
    * distinct key sets. ONE tagged corpus pass builds both register
    * tables ([[graft.functions.Hll.registersKeyed]]); the exact
    * audit (the only corpus-sized work, present to GRADE the
    * sketch, as in q31) is one distinct + tiny aggregates. Output:
    * 4 rows (a, b, union, intersection) × (n_exact, est,
    * err_permille) — all integer, the sketch chain bitwise per
    * [[graft.functions.Hll]]'s determinism argument.
    */
  def q35(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Hll
    val tagged = Tables.lineitem(spark, dir)
      .selectExpr("l_orderkey AS v",
        "filter(array(CASE WHEN l_quantity >= 25 THEN 'a' END, " +
          "CASE WHEN l_discount >= 0.05 THEN 'b' END), x -> x IS NOT NULL) AS tags")
      .selectExpr("v", "explode(tags) AS sketch")
    val regsAB = Hll.registersKeyed(tagged, "sketch", "v").cache()
    val regU = regsAB.groupBy($"reg").agg(max($"r").as("r"))
      .withColumn("sketch", lit("union"))
    val ests = Hll.estimateGrouped(
        regsAB.unionByName(regU.select($"sketch", $"reg", $"r")), "sketch")
      .select($"sketch", $"est").cache()
    val inter = ests.agg(
        min(when($"sketch" === "a", $"est")).as("ea"),
        min(when($"sketch" === "b", $"est")).as("eb"),
        min(when($"sketch" === "union", $"est")).as("eu"))
      .selectExpr("'intersection' AS sketch", "ea + eb - eu AS est")
    val dv = tagged.distinct().cache()
    val exAB = dv.groupBy($"sketch").agg(count(lit(1)).as("n_exact"))
    val perV = dv.groupBy($"v").agg(count(lit(1)).as("nt"))
    val exU = perV.agg(count(lit(1)).as("n_exact"))
      .withColumn("sketch", lit("union"))
    val exI = perV.filter($"nt" === 2).agg(count(lit(1)).as("n_exact"))
      .withColumn("sketch", lit("intersection"))
    ests.unionByName(inter)
      .join(exAB.unionByName(exU.select($"sketch", $"n_exact"))
        .unionByName(exI.select($"sketch", $"n_exact")), Seq("sketch"))
      .selectExpr("sketch", "n_exact", "est",
        "abs(est - n_exact) * 1000 div n_exact AS err_permille")
      .transform(Tables.ordered(_, $"sketch"))
  }

  /** q35 oracle: the identical tagged sketch chain
    * ([[graft.functions.Hll.groupedOracleCtes]] — max-merged union
    * registers appended via the `allregs` seam), exact audit from
    * one DISTINCT, inclusion–exclusion row stitched from scalar
    * subqueries.
    */
  val q35Sql: String = {
    val unionRegs =
      "\n  UNION ALL SELECT 'union', reg, max(r) FROM regs GROUP BY reg"
    s"""WITH tagged AS (
      |  SELECT l_orderkey AS v, 'a' AS sketch FROM lineitem WHERE l_quantity >= 25
      |  UNION ALL
      |  SELECT l_orderkey, 'b' FROM lineitem WHERE l_discount >= 0.05),
      |${graft.functions.Hll.groupedOracleCtes(unionRegs)},
      |dv AS (SELECT DISTINCT v, sketch FROM tagged),
      |exab AS (SELECT sketch, CAST(count(*) AS BIGINT) AS n_exact FROM dv GROUP BY sketch),
      |perv AS (SELECT v, count(*) AS nt FROM dv GROUP BY v),
      |ex AS (SELECT * FROM exab
      |  UNION ALL SELECT 'union', CAST(count(*) AS BIGINT) FROM perv
      |  UNION ALL SELECT 'intersection', CAST(count(*) AS BIGINT) FROM perv WHERE nt = 2),
      |est4 AS (SELECT sketch, est FROM hest
      |  UNION ALL SELECT 'intersection',
      |    (SELECT est FROM hest WHERE sketch = 'a')
      |    + (SELECT est FROM hest WHERE sketch = 'b')
      |    - (SELECT est FROM hest WHERE sketch = 'union'))
      |SELECT e.sketch, x.n_exact, e.est,
      |  abs(e.est - x.n_exact) * 1000 // x.n_exact AS err_permille
      |FROM est4 e JOIN ex x USING (sketch)
      |ORDER BY sketch""".stripMargin
  }

  // ---------- q37: time-weighted average (TWAP) ----------

  /** q37: TIME-WEIGHTED AVERAGE — the TWAP/TWA aggregation every
    * market-data and IoT-telemetry store exposes (value held
    * constant until the next observation, weighted by how long it
    * held): per user, Σ value·Δt / ΣΔt over consecutive events.
    * Exact to the last step: values integerize to cents (e14's
    * convention), durations to whole seconds by truncating
    * division (both operands non-negative, §8.39 — sub-second
    * gaps weigh 0, identically in both engines), the weighted sum
    * and denominator are BIGINTs, and the final TWAP is ONE IEEE
    * division of exact integers (the g11 discipline — bitwise).
    * Users whose gaps all truncate to zero are excluded (zero
    * denominator).
    *
    * Scale shape: ONE user-key exchange shared by the lead window
    * and the aggregate (the e-family contract); output is user
    * grain. The classic formulation needs no as-of machinery —
    * lead + aggregate is the whole plan.
    */
  def q37(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    Tables.events(spark, dir)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS tus",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
      .withColumn("ntus", lead($"tus", 1).over(w))
      .filter($"ntus".isNotNull)
      .selectExpr("user_id", "(ntus - tus) div 1000000 AS dur_s", "cents")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_holds"),
        sum($"dur_s").as("span_s"),
        sum($"dur_s" * $"cents").as("wsum_cents_s"))
      .filter($"span_s" > 0L)
      .selectExpr("user_id", "n_holds", "span_s", "wsum_cents_s",
        "CAST(wsum_cents_s AS DOUBLE) / CAST(span_s AS DOUBLE) AS twap_cents")
      .transform(graft.Tables.ordered(_, $"user_id"))
  }

  /** q37 oracle: identical cents/seconds integerization, lead
    * window, exact sums and the single IEEE division.
    */
  val q37Sql: String =
    """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
      |        CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |      FROM events),
      |l AS (SELECT user_id, cents,
      |        lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS ntus,
      |        tus
      |      FROM o),
      |d AS (SELECT user_id, (ntus - tus) // 1000000 AS dur_s, cents
      |      FROM l WHERE ntus IS NOT NULL),
      |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_holds,
      |        CAST(sum(dur_s) AS BIGINT) AS span_s,
      |        CAST(sum(dur_s * cents) AS BIGINT) AS wsum_cents_s
      |      FROM d GROUP BY 1)
      |SELECT user_id, n_holds, span_s, wsum_cents_s,
      |  CAST(wsum_cents_s AS DOUBLE) / CAST(span_s AS DOUBLE) AS twap_cents
      |FROM a WHERE span_s > 0
      |ORDER BY user_id""".stripMargin

  // ---------- q39: runtime bloom-filter join pruning ----------

  /** q39: RUNTIME FILTER — Spark's own runtime bloom-filter join
    * optimization (`InjectRuntimeFilter`, the Spark-native sibling
    * of p14's metadata blooms and of every MPP engine's "sideways
    * information passing"): when a selective dimension filter
    * survives on one side of a SHUFFLE join, the optimizer builds a
    * bloom filter of the surviving join keys as a subquery
    * (`bloom_filter_agg`) and pushes `BloomFilterMightContain` into
    * the OTHER side's scan — fact rows that cannot match are
    * dropped BEFORE the shuffle, which at 100 TB is the difference
    * between shuffling the whole fact table and shuffling the ~5%
    * that survives. This query exercises the rule end-to-end on a
    * date-filtered orders ⋈ lineitem revenue rollup and PlanSpec
    * pins that the bloom actually lands in THIS plan; the result is
    * of course filter-invariant, so the oracle is the plain join —
    * correctness gates the SEMANTIC transparency of the rewrite.
    *
    * At fixture scale the dimension side would broadcast (which
    * disables the rule — a broadcast join already prunes at probe
    * time), so the query pins `autoBroadcastJoinThreshold = -1` and
    * the rule's size thresholds to reproduce the large-large
    * shuffle-join shape the optimization exists for. The confs live
    * in a dedicated CHILD SESSION ([[graft.ChildSessions]] — the
    * same scoping streaming uses): the shared session is never
    * mutated, so a query planned concurrently elsewhere cannot
    * inherit the overrides (the set-and-restore window the previous
    * formulation left open).
    */
  def q39(spark: SparkSession, dir: String): DataFrame = {
    val ns = graft.ChildSessions.of(spark, "q39-runtime-filter") { s =>
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      s.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    }
    val o = Tables.orders(ns, dir)
      .filter("o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND " +
        "o_orderdate < TIMESTAMP '1995-04-01 00:00:00'")
      .select(col("o_orderkey"))
    val l = Tables.lineitem(ns, dir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .transform(graft.Tables.ordered(_, col("l_returnflag")))
  }

  /** q39 oracle: the plain join — the rewrite must be semantically
    * invisible. */
  val q39Sql: String =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------- q41: native recursive CTE (Spark 4 UnionLoop) ----------

  /** q41: NATIVE RECURSIVE CTE — Spark 4's engine-level recursion
    * (`WITH RECURSIVE` → a `UnionLoop` plan) on q27's parent
    * forest, the counterpart surface to q27's HAND-ROLLED
    * pointer-jumping fixpoint: q27 shows how to build recursion
    * from equality joins when the engine lacks it; q41 exercises
    * the engine's own operator the way a user would write it —
    * anchor = the forest's roots, recursive arm = children joined
    * one level at a time, each node visited exactly once (a forest
    * has unique parents, so the loop terminates at max-depth
    * iterations with no cycle guard needed). Same (root, depth)
    * output as q27 over the same forest — the two implementations
    * cross-check each other through their shared oracle family.
    *
    * Scale: the loop body is one equality join per level between
    * the frontier (≤ level width) and the forest — level count is
    * O(log n) on this fixture (binary parent), and Spark's
    * recursion limit (spark.sql.cteRecursionLevelLimit, default
    * 100) bounds the unroll. Contrast q27: pointer jumping needs
    * only ceil(log2 depth) rounds but rewrites the WHOLE node set
    * per round — native recursion touches each node once and only
    * frontier-sized state per level; at 100 TB with shallow
    * hierarchies the native loop does strictly less work.
    */
  def q41(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).selectExpr(
        "c_custkey AS id",
        "CASE WHEN c_custkey % 97 = 0 OR c_custkey = 1 THEN c_custkey ELSE c_custkey div 2 END AS ptr")
      .createOrReplaceTempView("q41_forest")
    spark.sql(
      """WITH RECURSIVE h AS (
        |  SELECT id, id AS root, CAST(0 AS BIGINT) AS depth
        |  FROM q41_forest WHERE id = ptr
        |  UNION ALL
        |  SELECT f.id, h.root, h.depth + 1
        |  FROM q41_forest f JOIN h ON f.ptr = h.id WHERE f.id <> f.ptr
        |)
        |SELECT id AS c_custkey, root, depth FROM h
        |ORDER BY c_custkey""".stripMargin)
  }

  /** q41 oracle: the identical recursive query — DuckDB's own
    * WITH RECURSIVE, `//` for the floor division (non-negative
    * operands, §8.39-safe). */
  val q41Sql: String =
    """WITH RECURSIVE f AS (SELECT c_custkey AS id,
      |    CASE WHEN c_custkey % 97 = 0 OR c_custkey = 1 THEN c_custkey
      |         ELSE c_custkey // 2 END AS ptr
      |  FROM customer),
      |h AS (
      |  SELECT id, id AS root, CAST(0 AS BIGINT) AS depth
      |  FROM f WHERE id = ptr
      |  UNION ALL
      |  SELECT f2.id, h.root, h.depth + 1
      |  FROM f f2 JOIN h ON f2.ptr = h.id WHERE f2.id <> f2.ptr
      |)
      |SELECT id AS c_custkey, root, depth FROM h
      |ORDER BY c_custkey""".stripMargin

  // ---------- q40: VARIANT shred (Spark 4 semi-structured type) ----------

  /** q40: VARIANT SHRED — Spark 4's native semi-structured type on a
    * nested heterogeneous document: `parse_json` decodes each event's
    * composed JSON (object nesting + an array) into the BINARY
    * variant encoding ONCE, then `variant_get` extracts TYPED paths
    * (nested object fields, array indices) with engine-native casts —
    * no per-access string re-parsing, which is exactly why a 100 TB
    * semi-structured lake stores VARIANT instead of JSON text: parse
    * cost is paid once at ingest, typed access stays codegen'd, and
    * parquet-level shredding keeps path pushdown available. The
    * aggregate then runs on the shredded typed columns like any
    * relational query (q20 is the from_json string-schema
    * counterpart; this is the schemaless-ingest one).
    *
    * Scale: one narrow parse+shred map + one aggregate shuffle on
    * (src, pri); the variant value never leaves the map stage.
    */
  /** The single parse-at-ingest expression both VARIANT queries
    * share: the composed heterogeneous document decoded ONCE into
    * the binary variant encoding. */
  private[graft] val variantParseExpr: String =
    """parse_json(concat('{"meta":{"src":"', event_type,
      '","pri":', CAST(event_id % 5 AS STRING),
      '},"payload":', props,
      ',"tags":[', CAST(event_id % 3 AS STRING), ',',
      CAST(event_id % 7 AS STRING), ']}')) AS v"""

  /** The typed-path shred + aggregate over a VARIANT column `v` —
    * shared by q40 (parse → aggregate in one pass) and q42 (the
    * at-rest path: the same aggregate over the STORED variant
    * column, no re-parse anywhere in the plan). */
  private[graft] def variantTypedAgg(withV: DataFrame): DataFrame = {
    import withV.sparkSession.implicits._
    withV
      .selectExpr("variant_get(v, '$.meta.src', 'string') AS src",
        "variant_get(v, '$.meta.pri', 'bigint') AS pri",
        "variant_get(v, '$.payload.k', 'bigint') AS k",
        "variant_get(v, '$.tags[0]', 'bigint') AS t0",
        "variant_get(v, '$.tags[1]', 'bigint') AS t1")
      .groupBy($"src", $"pri")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
        sum($"t0" * 7 + $"t1").as("tag_mix"))
      .transform(Tables.ordered(_, $"src", $"pri"))
  }

  def q40(spark: SparkSession, dir: String): DataFrame =
    variantTypedAgg(
      Tables.events(spark, dir).selectExpr(variantParseExpr))

  /** q40 oracle: the identical composed document shredded with
    * DuckDB's JSON path extraction and the same typed casts. */
  val q40Sql: String =
    """WITH j AS (SELECT
      |    '{"meta":{"src":"' || event_type || '","pri":' ||
      |    CAST(event_id % 5 AS VARCHAR) || '},"payload":' || props ||
      |    ',"tags":[' || CAST(event_id % 3 AS VARCHAR) || ',' ||
      |    CAST(event_id % 7 AS VARCHAR) || ']}' AS doc
      |  FROM events),
      |x AS (SELECT json_extract_string(doc, '$.meta.src') AS src,
      |    CAST(json_extract(doc, '$.meta.pri') AS BIGINT) AS pri,
      |    CAST(json_extract(doc, '$.payload.k') AS BIGINT) AS k,
      |    CAST(json_extract(doc, '$.tags[0]') AS BIGINT) AS t0,
      |    CAST(json_extract(doc, '$.tags[1]') AS BIGINT) AS t1
      |  FROM j)
      |SELECT src, pri, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  CAST(sum(t0 * 7 + t1) AS BIGINT) AS tag_mix
      |FROM x GROUP BY 1, 2
      |ORDER BY src, pri""".stripMargin

  // ---------- q42: VARIANT at rest (store → scan → typed access) ----------

  /** q42: VARIANT AT REST — the half of the VARIANT story q40's
    * one-pass parse+aggregate stops short of, and the half that
    * justifies the type at 100 TB: the parsed variant column is
    * WRITTEN TO PARQUET (Spark's variant physical encoding —
    * metadata + value binaries in one annotated group), read back
    * as a fresh scan, and served with the SAME typed-path aggregate
    * — `parse_json` appears nowhere in the at-rest plan (the spec
    * pins it), because the parse was paid once at ingest and the
    * lake serves the typed paths straight off the store. Better
    * still, Spark 4.1 SHREDS the variant at write into typed
    * parquet subcolumns and rewrites every `variant_get($.path)`
    * into a plain struct field access on the scan (the plan reads
    * `v.0 AS src` — pinned in PlanSpec), so the at-rest path gets
    * column pruning and codegen'd typed access with zero
    * variant-decode work per row.
    * Rows are identical to q40's, so the oracle is [[q40Sql]]
    * VERBATIM — the storage round-trip is semantically invisible
    * (v29's artifact-boundary contract, here for the column type).
    *
    * Scale: ingest is one narrow parse+write pass; every later
    * reader scans the variant column with column pruning and typed
    * access, never re-paying the JSON parse — multiply by every
    * query that ever touches a 100 TB semi-structured lake.
    */
  /** The session-memoized VARIANT store: the ingest (parse once,
    * write the shredded variant column) runs ONCE per source dir and
    * every at-rest query serves from the same parquet path — which
    * is the production shape (one lake, many readers) AND the leak
    * fix for repeated in-session invocations: the previous
    * per-invocation temp dir accumulated one full table copy per
    * Bench iteration until JVM exit. */
  private val variantStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def variantStore(spark: SparkSession, dir: String)
      : String =
    variantStores.computeIfAbsent(dir, { _ =>
      val path = graft.store.Versioned.tempRoot("graft_q42_") + "/events_variant"
      // INGEST: parse once, store the variant column
      Tables.events(spark, dir).selectExpr("event_id", variantParseExpr)
        .write.parquet(path)
      path
    })

  def q42(spark: SparkSession, dir: String): DataFrame =
    // SERVE: the identical typed aggregate over the STORED column
    variantTypedAgg(spark.read.parquet(variantStore(spark, dir)))

  /** q42 oracle: q40's, verbatim — the parquet round-trip of the
    * variant column is semantically invisible. */
  val q42Sql: String = q40Sql

  // ---------- q43: VARIANT at-rest predicate pushdown ----------

  /** q43: VARIANT PREDICATE PUSHDOWN — the FILTER half of the
    * at-rest story, which is where shredding pays at 100 TB: a
    * `variant_get(v, '$.meta.pri') = 3` predicate against the
    * STORED column. Because the ingest wrote the variant SHREDDED
    * into typed parquet subcolumns (q42's store, reused — one lake,
    * many readers), Spark 4.1's shredded-read rewrite collapses the
    * typed path to a plain struct-field read, and the equality then
    * pushes into the parquet scan like any typed column predicate —
    * the scan's PushedFilters carries the subcolumn comparison
    * (PlanSpec pins it), so row groups and pages whose `meta.pri`
    * statistics exclude 3 are never read. Without shredding the
    * same query would decode every row's variant binary just to
    * throw 4/5 of them away; with it the selection happens at the
    * STORAGE layer — the difference between scanning 100 TB and
    * scanning the ~20% of pages that can match. The aggregate tail
    * is a plain two-stage hash agg over the surviving rows.
    */
  def q43(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(variantStore(spark, dir))
      .filter("variant_get(v, '$.meta.pri', 'bigint') = 3")
      .selectExpr("variant_get(v, '$.meta.src', 'string') AS src",
        "variant_get(v, '$.payload.k', 'bigint') AS k")
      .groupBy($"src")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"))
      .transform(Tables.ordered(_, $"src"))
  }

  /** q43 oracle: q40's shred with the pri predicate applied before
    * the aggregate — the rows any engine serves for the filtered
    * typed path, however its storage prunes. */
  val q43Sql: String =
    """WITH j AS (SELECT
      |    '{"meta":{"src":"' || event_type || '","pri":' ||
      |    CAST(event_id % 5 AS VARCHAR) || '},"payload":' || props ||
      |    ',"tags":[' || CAST(event_id % 3 AS VARCHAR) || ',' ||
      |    CAST(event_id % 7 AS VARCHAR) || ']}' AS doc
      |  FROM events),
      |x AS (SELECT json_extract_string(doc, '$.meta.src') AS src,
      |    CAST(json_extract(doc, '$.meta.pri') AS BIGINT) AS pri,
      |    CAST(json_extract(doc, '$.payload.k') AS BIGINT) AS k
      |  FROM j)
      |SELECT src, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(k) AS BIGINT) AS sum_k
      |FROM x WHERE pri = 3 GROUP BY 1
      |ORDER BY src""".stripMargin

  // ---------- q44: VARIANT file-level skipping (zone-map manifest) ----------

  /** Target file fan-out of the pri-clustered store — the knob a
    * real layout job sizes to its file-size budget. */
  private[graft] val q44Files = 8

  /** The pri-CLUSTERED variant store + its FILE-STATS MANIFEST,
    * materialized once per source dir (q42's memoization posture).
    * Layout: `repartitionByRange` on the variant's `meta.pri` (and
    * event_id as the tiebreaker) before the write, so each parquet
    * FILE covers a narrow pri range — the clustering that makes
    * file-level statistics selective (p2's z-order lesson applied
    * to a shredded subcolumn). Beside it, the ANALYZE pass every
    * table format runs at write time: per-file (min, max, rows) of
    * the shredded subcolumn, derived with `input_file_name()` and
    * written as the manifest — exactly the file-stats tables
    * Iceberg/Delta keep, built here on plain parquet. */
  private val variantStatsStores =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private[graft] def variantStatsStore(spark: SparkSession, dir: String)
      : (String, String) =
    variantStatsStores.computeIfAbsent(dir, { _ =>
      val store = graft.store.Versioned.tempRoot("graft_q44_")
      val data = s"$store/events_variant_by_pri"
      val manifest = s"$store/file_stats"
      Tables.events(spark, dir).selectExpr("event_id", variantParseExpr)
        .withColumn("pri", expr("variant_get(v, '$.meta.pri', 'bigint')"))
        .repartitionByRange(q44Files, col("pri"), col("event_id"))
        .select("event_id", "v")
        .write.parquet(data)
      spark.read.parquet(data)
        .selectExpr("input_file_name() AS file",
          "variant_get(v, '$.meta.pri', 'bigint') AS pri")
        .groupBy(col("file"))
        .agg(min(col("pri")).as("min_pri"), max(col("pri")).as("max_pri"),
          count(lit(1)).as("n_rows"))
        .coalesce(1).write.parquet(manifest)
      (data, manifest)
    })

  /** q44: VARIANT FILE-LEVEL SKIPPING — the at-rest seam above
    * q43's page-level pushdown: q43 proved the `variant_get`
    * predicate reaches the parquet scan (row groups and pages
    * whose stats exclude 3 are never decoded); q44 proves whole
    * FILES are skipped before any scan task is even planned — the
    * p12 zone-map audit turned from simulation into the real
    * mechanism. The reader resolves the predicate against the
    * write-time manifest (min_pri ≤ 3 ≤ max_pri — a bounded,
    * file-count-sized read), plans the scan over ONLY the
    * surviving files, and runs q43's filtered aggregate on them —
    * the in-file predicate stays textually in place, so stats
    * pruning composes with q43's pushdown (the superset
    * discipline: stats select candidate files, the pushed filter
    * selects rows). Rows are q43's exactly — the oracle is
    * [[q43Sql]] VERBATIM, the layout must be semantically
    * invisible. The spec pins the mechanism: fewer files read
    * than the store holds, and CORRUPTING a pruned file does not
    * touch the result (a skipped file is provably never opened —
    * m27's corrupt-outside-the-ranges trick at file grain).
    *
    * Scale: this is the difference between "scan 20% of pages in
    * every file of a 100 TB table" (q43) and "open 20% of the
    * FILES" — manifest-resolved planning is O(files) metadata,
    * and the clustering write is the one-time layout cost p2/p12
    * already price. */
  def q44(spark: SparkSession, dir: String): DataFrame =
    q44Agg(spark, dir, pri = 3L)

  /** The manifest-resolved scan + q43 aggregate at an arbitrary
    * predicate value — factored so the spec can drive the
    * EMPTY-PRUNE arm (a `pri` outside every file's [min, max] is a
    * legitimate input: zone-map planning degrades to the empty
    * scan — zero files opened, the schema comes from the store
    * footer (a metadata-only read) and the false filter folds to
    * an empty relation — never a crash). */
  private[graft] def q44Agg(spark: SparkSession, dir: String, pri: Long)
      : DataFrame = {
    import spark.implicits._
    val (data, manifest) = variantStatsStore(spark, dir)
    // bounded collect: ≤ q44Files manifest rows
    val hit = spark.read.parquet(manifest)
      .filter(s"min_pri <= $pri AND max_pri >= $pri")
      .select("file").collect().map(_.getString(0))
    val base =
      if (hit.isEmpty) spark.read.parquet(data).filter(lit(false))
      else spark.read.parquet(hit.toIndexedSeq: _*)
    base
      .filter(s"variant_get(v, '$$.meta.pri', 'bigint') = $pri")
      .selectExpr("variant_get(v, '$.meta.src', 'string') AS src",
        "variant_get(v, '$.payload.k', 'bigint') AS k")
      .groupBy($"src")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"))
      .transform(Tables.ordered(_, $"src"))
  }

  /** q44 oracle: q43's, verbatim — file-level skipping must be
    * semantically invisible. */
  val q44Sql: String = q43Sql
}
