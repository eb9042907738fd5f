package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.relational.Relational
import graft.operators.{AsOf, EventWindows}

class RelationalSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = SharedSpark.sf
  import spark.implicits._

  test("q1 aggregates are consistent") {
    val rows = Relational.q1(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 6)
    rows.foreach { r =>
      assert(r.getAs[Long]("sum_qty") > 0)
      assert(r.getAs[Double]("avg_disc") >= 0.0 && r.getAs[Double]("avg_disc") <= 0.2)
      assert(r.getAs[Long]("count_order") > 0)
    }
  }

  test("q7 semi+anti partitions the customer table exactly") {
    val total = Tables.customer(spark, sf).count()
    val agg = Relational.q7(spark, sf)
      .agg(sum($"n_with" + $"n_without")).as[Long].head()
    assert(agg == total)
  }

  test("q9 running totals are monotone per customer") {
    val bad = Relational.q9(spark, sf)
      .withColumn("prev", lag($"running_total", 1)
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy($"o_custkey").orderBy($"rn")))
      .filter($"prev".isNotNull && $"running_total" < $"prev")
      .count()
    assert(bad == 0)
  }

  test("q10 returns at most 3 per brand, rank-ordered by price") {
    val rows = Relational.q10(spark, sf).collect()
    val byBrand = rows.groupBy(_.getAs[String]("p_brand"))
    byBrand.values.foreach { rs =>
      assert(rs.length <= 3)
      val prices = rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("price"))
      assert(prices.sameElements(prices.sorted.reverse))
    }
  }

  test("as-of join matches brute force on sf0.001") {
    val got = AsOf.asOfJoin(spark, sf)
    // brute force: inequality join + rank
    val ev = Tables.events(spark, sf)
      .withColumn("ts2", expr("timestampadd(DAY, CAST(event_id % 2400 AS INT), TIMESTAMP '1995-01-01 00:00:00')"))
      .select($"event_id", $"user_id", $"ts2")
    val ord = Tables.orders(spark, sf).select($"o_custkey", $"o_orderdate")
    val brute = ev.join(ord, $"user_id" === $"o_custkey" && $"o_orderdate" <= $"ts2")
      .groupBy($"event_id").agg(max($"o_orderdate").as("matched"))
    assert(got.count() == brute.count())
    val joined = got.join(brute, Seq("event_id"))
      .filter(date_format($"matched", "yyyy-MM-dd") =!= $"order_day").count()
    assert(joined == 0)
  }

  test("custom Catalyst as-of operator matches the union+window composition") {
    import spark.implicits._
    val a = AsOf.asOfJoin(spark, sf)
      .select($"event_id", $"order_day").as[(Long, String)].collect().toMap
    val b = AsOf.asOfJoinCustom(spark, sf)
      .select($"event_id", $"order_day").as[(Long, String)].collect().toMap
    assert(a == b)
  }

  test("range join counts pairs within (0, 5min] exactly") {
    val got = AsOf.rangeJoin(spark, sf).agg(sum($"n_pairs")).as[Long].head()
    val ev = Tables.events(spark, sf).select($"user_id", unix_micros($"ts").as("t"))
    val brute = ev.as("a").join(ev.as("b"),
        $"a.user_id" === $"b.user_id" && $"b.t" > $"a.t" &&
          $"b.t" <= $"a.t" + 300000000L).count()
    assert(got == brute)
  }

  test("custom interval-join operator matches the bucketed range join") {
    import spark.implicits._
    val a = AsOf.rangeJoin(spark, sf)
      .as[(Long, Long)].collect().toMap
    val b = AsOf.rangeJoinCustom(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("sessionize: session counts bounded by event counts") {
    val rows = EventWindows.sessionize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sessions") >= 1L)
      assert(r.getAs[Long]("n_sessions") <= r.getAs[Long]("n_events"))
    }
  }

  test("q19: above-own-average counts stay below the order count") {
    val got = Relational.q19(spark, sf).collect()
    assert(got.nonEmpty)
    val perCust = Tables.orders(spark, sf)
      .groupBy($"o_custkey").count().as[(Long, Long)].collect().toMap
    got.foreach { r =>
      val n = r.getAs[Long]("n_above")
      assert(n >= 1 && n < perCust(r.getAs[Long]("o_custkey")))
    }
  }

  test("q20: JSON extraction covers every event and bounds hold") {
    val rows = Relational.q20(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == Tables.events(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("min_k") <= r.getAs[Long]("max_k"))
      assert(r.getAs[Long]("sum_k") >= r.getAs[Long]("n") * r.getAs[Long]("min_k"))
    }
  }

  test("q40: variant shred equals a sequential JSON recompute; typed gets and missing paths behave") {
    val rows = Relational.q40(spark, sf).collect()
      .map(r => (r.getAs[String]("src"), r.getAs[Long]("pri"),
        r.getAs[Long]("n"), r.getAs[Long]("sum_k"), r.getAs[Long]("tag_mix")))
    val ev = Tables.events(spark, sf)
      .selectExpr("event_id", "event_type",
        "CAST(get_json_object(props, '$.k') AS BIGINT) AS k")
      .as[(Long, String, Long)].collect()
    val want = ev.groupBy(e => (e._2, e._1 % 5)).toSeq.map {
      case ((src, pri), g) =>
        (src, pri, g.size.toLong, g.map(_._3).sum,
          g.map(e => (e._1 % 3) * 7 + (e._1 % 7)).sum)
    }.sortBy(t => (t._1, t._2))
    assert(rows.toSeq == want && rows.nonEmpty)
    // the intermediate genuinely is the binary VARIANT type, and a
    // missing path is NULL, not an error (schemaless-ingest contract)
    val v = spark.sql("""SELECT parse_json('{"a":1}') AS v""")
    assert(v.schema.head.dataType.typeName == "variant")
    val miss = spark.sql(
      """SELECT variant_get(parse_json('{"a":1}'), '$.b', 'bigint') AS m""")
      .collect().head
    assert(miss.isNullAt(0))
  }

  test("q41: native recursive CTE agrees with q27's pointer jumping row for row; the plan genuinely recurses") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("root"),
        r.getAs[Long]("depth"))).toSeq
    // the engine-native loop and the hand-rolled pointer-jumping
    // fixpoint are independent implementations of the same closure —
    // they must agree on every node
    val nat = rows(Relational.q41(spark, sf))
    val pj = rows(Relational.q27(spark, sf))
    assert(nat == pj && nat.nonEmpty)
    // the plan carries Spark 4's recursion operator, not an unrolled
    // approximation
    val plan = Relational.q41(spark, sf).queryExecution.optimizedPlan.toString
    assert(plan.contains("UnionLoop"), s"no UnionLoop in plan:\n$plan")
    // forest sanity: roots sit at depth 0 and only roots do
    assert(nat.forall(t => (t._1 == t._2) == (t._3 == 0L)))
  }

  test("q21: trailing-30d spend is at least the order's own price") {
    val got = Relational.q21(spark, sf)
      .join(Tables.orders(spark, sf), Seq("o_orderkey"))
      .select($"trailing_30d", $"o_totalprice").as[(Double, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (t30, p) => assert(t30 >= p - 0.01) }
  }

  test("t11: LM scores are negative log-probs over real bigram counts") {
    val rows = graft.operators.TextStats.t11(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("avg_logprob") < 0.0)
      assert(r.getAs[Long]("n_bigrams") >= 1)
    }
  }

  test("t34: fertility equals the t18-composed recompute; equity laws hold") {
    import graft.operators.TextStats
    val got = TextStats.t34(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("words"), r.getAs[Long]("tokens"),
        r.getAs[Long]("fertility_micro"), r.getAs[Long]("premium_micro"))).toSeq
    // composition mirror: t18's (verified) per-doc token counts +
    // driver-side word counts and language rollup
    val tokens = TextStats.t18(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"))).toMap
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "lang", "lower(trim(text)) AS t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val byLang = docs.groupBy(_._2).toSeq.map { case (lang, ds) =>
      val words = ds.map(_._3.split(" ", -1).length.toLong).sum
      val toks = ds.map(d => tokens(d._1)).sum
      (lang, ds.length.toLong, words, toks, toks * 1000000L / words)
    }
    val best = byLang.map(_._5).min
    val want = byLang.map(t => (t._1, t._2, t._3, t._4, t._5, t._5 - best))
      .sortBy(_._1)
    assert(got == want && got.nonEmpty)
    // laws: every word costs >= 1 token; exactly one language sits at
    // the best fertility (premium 0); premiums non-negative
    got.foreach { t => assert(t._4 >= t._3 && t._6 >= 0L) }
    assert(got.count(_._6 == 0L) >= 1)
    assert(got.exists(_._6 > 0L), "no fertility spread measured")
  }

  test("t17: merges are deterministic; learned-token packing matches the sequential fold") {
    val ts = graft.operators.TextStats
    val merges = ts.t17(spark, sf).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[Int]("rk"),
        r.getAs[String]("pair"), r.getAs[Long]("cnt")))
    // production depth: batching must yield merges >> rounds — >= 64
    // learned merges from only t17Rounds driver round-trips
    assert(merges.length >= 64,
      s"batched BPE learned only ${merges.length} merges")
    assert(merges.map(_._1).distinct.toSeq == (1 to ts.t17Rounds))
    // within a round, merges are mutually disjoint over symbols AND
    // merged outputs (the greedy filter's guarantee that batch
    // application commutes — a merged output equal to another pair's
    // symbol would cascade order-dependently); a pair may use one
    // symbol twice itself ("g g")
    merges.groupBy(_._1).values.foreach { rm =>
      val symSets = rm.map { t =>
        val Array(a, b) = t._3.split(" ", 2)
        Set(a, b, a + b)
      }.toSeq
      symSets.combinations(2).foreach { c =>
        assert((c(0) & c(1)).isEmpty,
          s"round ${rm.head._1} shares symbols across merges: ${rm.map(_._3).mkString(", ")}")
      }
    }
    // deterministic: a second learning pass yields the identical table
    val again = ts.t17(spark, sf).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[Int]("rk"),
        r.getAs[String]("pair"), r.getAs[Long]("cnt")))
    assert(merges.toSeq == again.toSeq)
    // tokenizer-grain counts: every word is >= 1 token, <= its chars
    val toks = ts.t17TokenCounts(spark, sf)
      .select($"doc_id", $"n_tokens").as[(Long, Long)].collect().toMap
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "lower(trim(text)) AS t").as[(Long, String)].collect()
    assert(toks.keySet == docs.map(_._1).toSet)
    docs.foreach { case (id, t) =>
      val words = t.split(" ")
      assert(toks(id) >= words.length, s"doc $id under word count")
      assert(toks(id) <= words.map(_.length.toLong).sum, s"doc $id over char count")
    }
    // the t9 packing variant: greedy bins over LEARNED TOKENS via the
    // hierarchical scan must equal the sequential prefix-sum fold
    val binTok = 256L
    val tokDf = ts.t17TokenCounts(spark, sf)
      .selectExpr("doc_id", "n_tokens", "doc_id div 16 AS bucket")
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy($"bucket").orderBy($"doc_id").rowsBetween(Long.MinValue, -1)
    val wBuckets = org.apache.spark.sql.expressions.Window
      .orderBy($"bucket").rowsBetween(Long.MinValue, -1)
    val offs = tokDf.groupBy($"bucket").agg(sum($"n_tokens").as("btotal"))
      .withColumn("bucket_off", coalesce(sum($"btotal").over(wBuckets), lit(0L)))
      .select($"bucket", $"bucket_off")
    val got = tokDf
      .withColumn("local_off", coalesce(sum($"n_tokens").over(wLocal), lit(0L)))
      .join(offs, Seq("bucket"))
      .selectExpr("doc_id", s"(local_off + bucket_off) div $binTok AS bin")
      .as[(Long, Long)].collect().toMap
    var acc = 0L
    val want = docs.map(_._1).sorted.map { id =>
      val bin = acc / binTok; acc += toks(id); id -> bin
    }.toMap
    assert(got == want)
  }

  test("q22: grouping sets reconcile with plain group-bys") {
    val rows = Relational.q22(spark, sf).collect()
    val detail = rows.filter(r => r.getAs[Int]("g_status") == 0 && r.getAs[Int]("g_prio") == 0)
    val byPrio = rows.filter(r => r.getAs[Int]("g_status") == 1 && r.getAs[Int]("g_prio") == 0)
    val grand = rows.filter(r => r.getAs[Int]("g_status") == 1 && r.getAs[Int]("g_prio") == 1)
    assert(grand.length == 1)
    val total = Tables.orders(spark, sf).count()
    assert(grand.head.getAs[Long]("n_orders") == total)
    assert(detail.map(_.getAs[Long]("n_orders")).sum == total)
    assert(byPrio.map(_.getAs[Long]("n_orders")).sum == total)
  }

  test("salted join equals the plain join on a skewed key") {
    import graft.operators.Skew
    val big = Tables.lineitem(spark, sf)
      .selectExpr("CASE WHEN l_orderkey % 3 = 0 THEN 1L ELSE l_orderkey END AS k", "l_quantity")
    val dim = Tables.orders(spark, sf)
      .selectExpr("o_orderkey AS k", "o_orderpriority").limit(2000)
    val plain = big.join(dim, Seq("k")).groupBy($"k").count()
    val salted = Skew.saltedJoin(big, dim, Seq("k"), buckets = 8)
      .groupBy($"k").count()
    assert(plain.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
      salted.collect().map(r => (r.getLong(0), r.getLong(1))).toMap)
  }

  test("e7: transition counts conserve events minus users") {
    val rows = EventWindows.transitions(spark, sf).collect()
    val nTransitions = rows.map(_.getAs[Long]("n")).sum
    val nEvents = Tables.events(spark, sf).count()
    val nUsers = Tables.events(spark, sf).select($"user_id").distinct().count()
    // each user's chain of k events yields k-1 transitions
    assert(nTransitions == nEvents - nUsers)
    val shares = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shares - 1.0) < 1e-3)
  }

  test("e8: EWMA stays inside each user's value envelope") {
    val got = EventWindows.ewma(spark, sf)
      .join(Tables.events(spark, sf).groupBy($"user_id")
        .agg(min($"value").as("lo"), max($"value").as("hi"), count(lit(1)).as("n")),
        Seq("user_id")).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val e = r.getAs[Double]("ewma")
      assert(e >= r.getAs[Double]("lo") - 1e-6 && e <= r.getAs[Double]("hi") + 1e-6)
      assert(r.getAs[Long]("n_events") == r.getAs[Long]("n"))
    }
  }

  test("p1 SCD2: version counts reconcile; no-op updates create no versions") {
    val rows = graft.operators.Scd.p1(spark, sf).collect()
    val total = Tables.customer(spark, sf).count()
    val changed = Tables.customer(spark, sf)
      .filter($"c_custkey" % 4 === 0 && $"c_custkey" % 8 =!= 0).count()
    assert(rows.length == total + changed)
    val open = rows.filter(_.isNullAt(3))
    assert(open.length == total) // exactly one open version per key
    rows.groupBy(_.getAs[Long]("c_custkey")).values.foreach { vs =>
      if (vs.length == 2) {
        val closed = vs.find(!_.isNullAt(3)).get
        assert(closed.getAs[Long]("valid_to") == 1L)
      }
    }
  }

  test("p6 MERGE: clause arithmetic — deletes win, updates add, inserts disjoint, rest kept") {
    val cur = Tables.customer(spark, sf)
      .selectExpr("c_custkey AS k", "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS attr")
      .as[(Long, Long)].collect().toMap
    val out = graft.operators.Scd.p6(spark, sf).collect()
      .map(r => r.getAs[Long]("k") -> (r.getAs[Long]("attr"), r.getAs[String]("action")))
      .toMap
    cur.keys.foreach { k =>
      if (k % 7 == 0) assert(!out.contains(k), s"key $k should be deleted (delete wins)")
      else if (k % 3 == 0) assert(out(k) == (cur(k) + 5000L, "updated"))
      else assert(out(k) == (cur(k), "kept"))
    }
    cur.keys.filter(_ % 11 == 0).foreach { k =>
      assert(out(k + 1000000L) == (777L, "inserted"))
    }
    // nothing beyond target ∪ inserts
    assert(out.size ==
      cur.keys.count(k => k % 7 != 0) + cur.keys.count(_ % 11 == 0))
  }

  test("q28 unpivot: melt legs reconcile with the wide aggregate") {
    val rows = Relational.q28(spark, sf).collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[String]("measure"),
        r.getAs[Long]("value")))
    val flags = rows.map(_._1).distinct
    // 3 measures per flag, every (flag, measure) exactly once
    assert(rows.length == flags.length * 3)
    assert(rows.toSet.size == rows.length)
    // each leg matches an independent direct aggregate
    val qty = Tables.lineitem(spark, sf).groupBy($"l_returnflag")
      .agg(sum(expr("CAST(floor(l_quantity + 0.5) AS BIGINT)")).as("v"))
      .as[(String, Long)].collect().toMap
    rows.filter(_._2 == "sum_qty").foreach { case (f, _, v) => assert(v == qty(f)) }
  }

  test("q29 analytic funcs: quartiles balanced, pct_rank/cume monotone in [0,1]") {
    val rows = Relational.q29(spark, sf).collect()
    rows.groupBy(_.getAs[String]("o_orderpriority")).values.foreach { g =>
      val n = g.length
      // ntile balance: bucket sizes differ by at most 1
      val sizes = g.groupBy(_.getAs[Int]("quartile")).values.map(_.size)
      assert(sizes.max - sizes.min <= 1)
      // ordered by cents: pct_rank and cume_dist are monotone, in [0,1]
      val ord = g.sortBy(r => (r.getAs[Long]("cents"), r.getAs[Long]("o_orderkey")))
      val pr = ord.map(_.getAs[Double]("pct_rank"))
      val cd = ord.map(_.getAs[Double]("cume"))
      assert(pr.head == 0.0 && pr.last == 1.0 || n == 1)
      assert(pr.zip(pr.tail).forall { case (a, b) => a <= b })
      assert(cd.zip(cd.tail).forall { case (a, b) => a <= b })
      assert(cd.last == 1.0)
      // next_gap: null only on the last row, consistent with cents deltas
      assert(ord.init.zip(ord.tail).forall { case (a, b) =>
        a.getAs[Long]("next_gap") == b.getAs[Long]("cents") - a.getAs[Long]("cents")
      })
      assert(ord.last.isNullAt(ord.last.fieldIndex("next_gap")))
    }
  }

  test("SparkEntry.entry: flagship thermal chain returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).limit(1).count() == 1L)
  }

  test("e10: native session_window equals the manual lag sessionization exactly") {
    val native = graft.operators.EventWindows.sessionNative(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val manual = graft.operators.EventWindows.sessionize(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(native == manual)
  }

  test("g1: distributed integer PageRank equals a sequential reimplementation bitwise") {
    val rows = graft.operators.Graph.g1(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("rank_mass")))
    val n = Tables.customer(spark, sf).count()
    assert(rows.length == n)
    // sequential reference: same graph, same truncating arithmetic
    val S = 1000000000000L
    val ids = (0L until n).toArray
    val edges = ids.flatMap { u =>
      Seq(u -> ((u * 31 + 7) % n), u -> ((u * 17 + 3) % n)) ++
        (if (u >= 2) Seq(u -> (u / 2)) else Nil)
    }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val base = (S * 15L / 100L) / n
    var r = ids.map(_ -> (S / n)).toMap
    (1 to 10).foreach { _ =>
      val in = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (u, v) => in(v) += ((r(u) * 85L) / 100L) / deg(u) }
      r = ids.map(id => id -> (base + in(id))).toMap
    }
    rows.foreach { case (id, m) =>
      assert(m == r(id), s"node $id: $m != ${r(id)}")
    }
    // mass sanity: truncation leaks a little, never inflates
    val total = rows.map(_._2).sum
    assert(total <= S && total >= S * 8 / 10, s"total mass $total")
  }

  test("g2: distributed integer HITS equals a sequential reimplementation bitwise") {
    val rows = graft.operators.Graph.g2(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("auth_mass"),
        r.getAs[Long]("hub_mass")))
    val n = Tables.customer(spark, sf).count()
    assert(rows.length == n)
    // sequential reference: same graph, same normalized truncating
    // mutual recursion (auth from old hub, hub from NEW auth)
    val S = 1000000000000L
    val ids = (0L until n).toArray
    val edges = ids.flatMap { u =>
      Seq(u -> ((u * 31 + 7) % n), u -> ((u * 17 + 3) % n)) ++
        (if (u >= 2) Seq(u -> (u / 2)) else Nil)
    }
    def half(score: Map[Long, Long], in: Boolean): Map[Long, Long] = {
      val raw = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (u, v) =>
        if (in) raw(v) += score(u) else raw(u) += score(v)
      }
      val q = math.max(raw.values.sum / S, 1L)
      ids.map(id => id -> raw(id) / q).toMap
    }
    var a = ids.map(_ -> (S / n)).toMap
    var h = ids.map(_ -> (S / n)).toMap
    (1 to 8).foreach { _ => a = half(h, in = true); h = half(a, in = false) }
    rows.foreach { case (id, am, hm) =>
      assert(am == a(id) && hm == h(id), s"node $id: ($am,$hm) != (${a(id)},${h(id)})")
    }
    // normalization keeps total mass in a bounded band, never explodes
    val ta = rows.map(_._2).sum; val th = rows.map(_._3).sum
    assert(ta > S / 2 && ta < 3 * S, s"auth mass $ta")
    assert(th > S / 2 && th < 3 * S, s"hub mass $th")
  }

  test("g4: components equal a sequential union-find over the same edges") {
    val rows = graft.operators.Graph.g4(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("component"),
        r.getAs[Long]("csize")))
    val n = Tables.customer(spark, sf).count()
    assert(rows.length == n)
    // sequential union-find over the identical derived edge set
    val parent = (0L until n).toArray
    def find(x: Long): Long = {
      var r = x.toInt
      while (parent(r) != r) r = parent(r).toInt
      var c = x.toInt
      while (parent(c) != c) { val nx = parent(c).toInt; parent(c) = r; c = nx }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb).toInt) = math.min(ra, rb)
    }
    (0L until n).foreach { id =>
      if (id % 5 < 2) union(id, (id * 31 + 7) % n)
      if (id % 3 == 0) union(id, (id * 17 + 3) % n)
    }
    // path-compress to the minimum root (union always roots the min)
    val lbl = (0L until n).map(find).toArray
    val sizes = lbl.groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (id, comp, cs) =>
      assert(comp == lbl(id.toInt), s"node $id: $comp != ${lbl(id.toInt)}")
      assert(cs == sizes(lbl(id.toInt)), s"size of $id")
    }
    // the derived graph must actually be interesting: many components,
    // at least one non-trivial
    assert(sizes.size > 10 && sizes.values.max > 5, s"components=${sizes.size}")
    // round-count audit: the contraction must stay within its log
    // bound (g4's bench cost is rounds x per-round fixed cost — this
    // pins the rounds half of that adjudication)
    val edges = Tables.customer(spark, sf).selectExpr("c_custkey AS id")
      .filter("id % 5 < 2").selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(Tables.customer(spark, sf).selectExpr("c_custkey AS id")
        .filter("id % 3 = 0").selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
    val (_, rounds, conv) = graft.operators.Dedup.ccStars(edges, 50)
    assert(conv && rounds <= 2 * (64 - java.lang.Long.numberOfLeadingZeros(n)),
      s"stars took $rounds rounds for n=$n")
  }

  test("q33: skyline equals brute-force dominance filtering") {
    val got = Relational.q33(spark, sf).collect()
      .map(r => (r.getAs[Long]("p_partkey"), r.getAs[Double]("p_retailprice"),
        r.getAs[Int]("p_size"))).toSet
    val all = Tables.part(spark, sf)
      .selectExpr("p_partkey", "p_retailprice", "p_size")
      .as[(Long, Double, Int)].collect()
    val want = all.filter { case (_, pa, sa) =>
      !all.exists { case (_, pb, sb) =>
        pb <= pa && sb <= sa && (pb < pa || sb < sa)
      }
    }.toSet
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(got.nonEmpty && got.size < all.length)
  }

  test("e13: conversion lags equal a sequential per-user recompute") {
    val got = EventWindows.e13(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("first_view_us"),
        r.getAs[Long]("conv_us"), r.getAs[Long]("lag_us")))
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS tus")
      .as[(Long, String, Long)].collect()
    val want = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val views = rows.filter(_._2 == "view").map(_._3)
      if (views.isEmpty) None
      else {
        val fv = views.min
        val convs = rows.filter(r => r._2 == "purchase" && r._3 >= fv).map(_._3)
        if (convs.isEmpty) None else Some((u, fv, convs.min, convs.min - fv))
      }
    }.toSet
    assert(got.toSet == want && got.nonEmpty)
    got.foreach { case (_, _, _, lag) => assert(lag >= 0) }
  }

  test("q34: every reported bucket provably brackets the true quantile") {
    val rows = Relational.q34(spark, sf).collect()
      .map(r => (r.getAs[Int]("q_permille"), r.getAs[Long]("bucket"),
        r.getAs[Long]("est_hi"), r.getAs[Long]("cum_before"),
        r.getAs[Long]("cum_incl"), r.getAs[Long]("n_rows")))
    assert(rows.map(_._1).toSeq == Seq(500, 900, 990))
    val prices = Tables.lineitem(spark, sf)
      .select($"l_extendedprice").as[Double].collect().sorted
    rows.foreach { case (q, bucket, estHi, cumBefore, cumIncl, n) =>
      assert(n == prices.length)
      // rank bracketing: the target rank falls inside the bucket
      val target = q.toLong * n
      assert(cumBefore * 1000 < target && cumIncl * 1000 >= target,
        s"q=$q rank not bracketed")
      // value bracketing: the true order statistic lies in the bucket
      val rank = math.ceil(target / 1000.0).toInt // 1-based
      val truth = prices(rank - 1)
      assert(truth >= bucket * 512.0 && truth < estHi + 512.0 &&
        math.min(255, math.floor(truth / 512).toLong) == bucket,
        s"q=$q truth=$truth bucket=$bucket")
      assert(estHi == (bucket + 1) * 512)
    }
  }

  test("p9: purge audit conserves mass and removes exactly the registry's events") {
    val rows = graft.operators.Corpus.p9(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_before"),
        r.getAs[Long]("n_removed"), r.getAs[Long]("n_after")))
    rows.foreach { case (_, b, r, a) => assert(b == r + a) }
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "event_type").as[(Long, String)].collect()
    val optout = ev.filter(_._2 == "error").groupBy(_._1)
      .collect { case (u, es) if es.length >= 18 => u }.toSet
    assert(optout.nonEmpty, "the derived registry must not be empty")
    val wantRemoved = ev.count(e => optout.contains(e._1)).toLong
    assert(rows.map(_._3).sum == wantRemoved)
    assert(rows.map(_._2).sum == ev.length.toLong)
    assert(rows.exists(_._3 > 0) && rows.exists(_._4 > 0))
  }

  test("g6: synchronous LPA equals a sequential recompute; communities coarsen") {
    val rows = graft.operators.Graph.g6(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("community"),
        r.getAs[Long]("csize")))
    val n = Tables.customer(spark, sf).count()
    assert(rows.length == n)
    // independent sequential mirror: same symmetrized edges, same
    // 6 synchronous rounds, (max count, min label) updates
    val und = (0L until n).flatMap { id =>
      Seq((id, (id * 31 + 7) % n), (id, (id * 17 + 3) % n)) ++
        (if (id >= 2) Seq((id, id / 2)) else Seq.empty)
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    var lbl = (0L until n).toArray
    (1 to 6).foreach { _ =>
      val next = lbl.clone()
      (0L until n).foreach { id =>
        adj.get(id).foreach { nbrs =>
          val votes = nbrs.groupBy(b => lbl(b.toInt)).view
            .mapValues(_.length).toSeq
          next(id.toInt) = votes.minBy { case (l, c) => (-c, l) }._1
        }
      }
      lbl = next
    }
    val sizes = lbl.groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (id, comm, cs) =>
      assert(comm == lbl(id.toInt), s"node $id: $comm != ${lbl(id.toInt)}")
      assert(cs == sizes(lbl(id.toInt)))
    }
    // propagation must actually coarsen: fewer communities than nodes,
    // some community grew past a trivial pair, and every community
    // label is a real member's id (labels only ever copy node ids)
    assert(sizes.size < n && sizes.values.max > 2)
    rows.foreach { case (_, comm, _) => assert(lbl(comm.toInt) == comm || comm < n) }
  }

  test("facade: containment and communities run on caller-supplied frames") {
    import spark.implicits._
    // containment: doc 2 is a verbatim prefix of doc 1
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d")).toDF("doc_id", "text")
    val pairs = Seq((2L, 1L)).toDF("id_a", "id_b")
    val sc = Graft.containment(pairs, corpus).collect()
    assert(sc.length == 1)
    val r = sc.head
    assert(r.getAs[Double]("containment") == 1.0 &&
      r.getAs[Long]("inter") == 2L && r.getAs[Long]("na") == 2L)
    // communities: a triangle collapses to one label (the minimum id)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val comm = Graft.communities(tri).collect()
      .map(row => (row.getAs[Long]("id"), row.getAs[Long]("community"))).toMap
    assert(comm == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("g5: modularity contributions equal a sequential recompute; Q bounded") {
    val rows = graft.operators.Graph.g5(spark, sf).collect()
      .map(r => (r.getAs[Long]("part"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("e_in"), r.getAs[Long]("deg_sum"),
        r.getAs[Double]("contribution")))
    val n = Tables.customer(spark, sf).count()
    val und = (0L until n).flatMap { u =>
      Seq((u, (u * 31 + 7) % n), (u, (u * 17 + 3) % n)) ++
        (if (u >= 2) Seq((u, u / 2)) else Nil)
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val m = und.size.toLong
    val deg = und.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = (0L until 16L).map { p =>
      val nodes = (0L until n).filter(_ % 16 == p)
      val eIn = und.count { case (a, b) => a % 16 == p && b % 16 == p }.toLong
      val ds = nodes.map(deg.getOrElse(_, 0L)).sum
      val c = eIn.toDouble / m.toDouble -
        (ds.toDouble / (2 * m).toDouble) * (ds.toDouble / (2 * m).toDouble)
      (p, nodes.size.toLong, eIn, ds, c)
    }
    assert(rows.toSeq == want)
    val q = rows.map(_._5).sum
    assert(q > -1.0 && q < 1.0, s"modularity $q out of range")
    assert(rows.map(_._3).sum <= m && rows.map(_._4).sum == 2 * m)
  }

  test("g24: one Louvain level equals a sequential recompute; Q non-decreasing per round and above LPA") {
    val rows = graft.operators.Graph.g24(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("community"),
        r.getAs[Long]("csize"), r.getAs[Long]("q_x4m2")))
    val n = Tables.customer(spark, sf).count()
    assert(rows.length == n)
    // the shared fixture graph
    val und = (0L until n).flatMap { u =>
      Seq((u, (u * 31 + 7) % n), (u, (u * 17 + 3) % n)) ++
        (if (u >= 2) Seq((u, u / 2)) else Nil)
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val m = und.size.toLong
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val deg = (0L until n).map(id =>
      id -> adj.get(id).map(_.size.toLong).getOrElse(0L)).toMap
    def qx4m2(lbl: Array[Long]): Long = {
      val eIn = und.groupBy { case (a, b) => (lbl(a.toInt), lbl(b.toInt)) }
        .collect { case ((la, lb), es) if la == lb => la -> es.size.toLong }
        .toMap
      val tot = (0L until n).groupBy(id => lbl(id.toInt)).view
        .mapValues(_.map(deg).sum).toMap
      tot.map { case (c, t) => 4 * m * eIn.getOrElse(c, 0L) - t * t }.sum
    }
    // sequential mirror of the synchronous downward-only move rule
    var lbl = (0L until n).toArray
    val qPerRound = scala.collection.mutable.ArrayBuffer(qx4m2(lbl))
    (1 to graft.operators.Graph.g24Rounds).foreach { _ =>
      val tot = (0L until n).groupBy(id => lbl(id.toInt)).view
        .mapValues(_.map(deg).sum).toMap
      val next = lbl.clone()
      (0L until n).foreach { id =>
        val own = lbl(id.toInt)
        val d = deg(id)
        val kin = adj.getOrElse(id, Seq.empty)
          .groupBy(b => lbl(b.toInt)).view.mapValues(_.size.toLong).toMap
        val cands = (kin.keySet + own).toSeq.filter(_ <= own).map { c =>
          val totAdj = tot(c) - (if (c == own) d else 0L)
          val gain = 2 * m * kin.getOrElse(c, 0L) - d * totAdj
          (c, gain, if (c == own) 0 else 1)
        }
        next(id.toInt) = cands.minBy { case (c, g, mv) => (-g, mv, c) }._1
      }
      lbl = next
      qPerRound += qx4m2(lbl)
    }
    val sizes = lbl.groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (id, comm, cs, q) =>
      assert(comm == lbl(id.toInt), s"node $id: $comm != ${lbl(id.toInt)}")
      assert(cs == sizes(lbl(id.toInt)))
      assert(q == qPerRound.last)
    }
    // the optimization claims: Q never decreases across rounds, and
    // strictly improves over the singleton start
    qPerRound.sliding(2).foreach { w =>
      assert(w(0) <= w(1), s"modularity decreased: ${qPerRound.mkString(",")}")
    }
    assert(qPerRound.last > qPerRound.head, "no modularity improvement at all")
    // and the optimizer beats (or ties) label propagation's Q on the
    // same graph — the reason curation runs Louvain, not LPA
    var lpa = (0L until n).toArray
    (1 to 6).foreach { _ =>
      val next = lpa.clone()
      (0L until n).foreach { id =>
        adj.get(id).foreach { nbrs =>
          val votes = nbrs.groupBy(b => lpa(b.toInt)).view
            .mapValues(_.length).toSeq
          next(id.toInt) = votes.minBy { case (l, c) => (-c, l) }._1
        }
      }
      lpa = next
    }
    assert(qPerRound.last >= qx4m2(lpa),
      s"Louvain Q ${qPerRound.last} below LPA's ${qx4m2(lpa)}")
    // communities genuinely formed
    assert(sizes.size < n && sizes.values.max > 2)
  }

  test("g25: aggregation level equals a sequential recompute; merges; Q(L2) > Q(L1); condensed Q == composed Q") {
    val rows = graft.operators.Graph.g25(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("l1_community"),
        r.getAs[Long]("community"), r.getAs[Long]("csize"),
        r.getAs[Long]("q_x4m2")))
    val n = Tables.customer(spark, sf).count()
    assert(rows.length == n)
    // the shared fixture graph
    val und = (0L until n).flatMap { u =>
      Seq((u, (u * 31 + 7) % n), (u, (u * 17 + 3) % n)) ++
        (if (u >= 2) Seq((u, u / 2)) else Nil)
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val m = und.size.toLong
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val deg = (0L until n).map(id =>
      id -> adj.get(id).map(_.size.toLong).getOrElse(0L)).toMap
    def qx4m2(lbl: Long => Long): Long = {
      val eIn = und.groupBy { case (a, b) => (lbl(a), lbl(b)) }
        .collect { case ((la, lb), es) if la == lb => la -> es.size.toLong }
        .toMap
      val tot = (0L until n).groupBy(lbl).view
        .mapValues(_.map(deg).sum).toMap
      tot.map { case (c, t) => 4 * m * eIn.getOrElse(c, 0L) - t * t }.sum
    }
    // level 1: g24's sequential mirror
    var lbl = (0L until n).toArray
    (1 to graft.operators.Graph.g24Rounds).foreach { _ =>
      val tot = (0L until n).groupBy(id => lbl(id.toInt)).view
        .mapValues(_.map(deg).sum).toMap
      val next = lbl.clone()
      (0L until n).foreach { id =>
        val own = lbl(id.toInt)
        val d = deg(id)
        val kin = adj.getOrElse(id, Seq.empty)
          .groupBy(b => lbl(b.toInt)).view.mapValues(_.size.toLong).toMap
        val cands = (kin.keySet + own).toSeq.filter(_ <= own).map { c =>
          val totAdj = tot(c) - (if (c == own) d else 0L)
          (c, 2 * m * kin.getOrElse(c, 0L) - d * totAdj, if (c == own) 0 else 1)
        }
        next(id.toInt) = cands.minBy { case (c, g, mv) => (-g, mv, c) }._1
      }
      lbl = next
    }
    val q1 = qx4m2(id => lbl(id.toInt))
    // AGGREGATION: condensed weighted graph — canonical cross-pair
    // weights, per-community self-loops (internal edges), strengths
    // = Σ member degrees
    val comms = lbl.distinct.sorted
    val cw = und.groupBy { case (a, b) =>
        val (ca, cb) = (lbl(a.toInt), lbl(b.toInt))
        (math.min(ca, cb), math.max(ca, cb))
      }.view.mapValues(_.size.toLong).toMap
    val selfW = comms.map(c => c -> cw.getOrElse((c, c), 0L)).toMap
    val cross = cw.collect { case ((x, y), w) if x != y => ((x, y), w) }.toSeq
    val cadj = cross.flatMap { case ((x, y), w) => Seq((x, (y, w)), (y, (x, w))) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val strength = comms.map { c =>
      c -> (0L until n).filter(id => lbl(id.toInt) == c).map(deg).sum
    }.toMap
    assert(strength.values.sum == 2 * m, "aggregation must preserve 2m")
    // level 2: the SAME move rule with weighted kin/strengths
    var l2 = comms.map(c => c -> c).toMap
    (1 to graft.operators.Graph.g25Rounds).foreach { _ =>
      val tot = comms.groupBy(l2).view
        .mapValues(_.map(strength).sum).toMap
      val next = scala.collection.mutable.Map(l2.toSeq: _*)
      comms.foreach { c =>
        val own = l2(c)
        val d = strength(c)
        val kin = cadj.getOrElse(c, Seq.empty)
          .groupBy { case (nb, _) => l2(nb) }.view
          .mapValues(_.map(_._2).sum).toMap
        val cands = (kin.keySet + own).toSeq.filter(_ <= own).map { cc =>
          val totAdj = tot(cc) - (if (cc == own) d else 0L)
          (cc, 2 * m * kin.getOrElse(cc, 0L) - d * totAdj,
            if (cc == own) 0 else 1)
        }
        next(c) = cands.minBy { case (cc, g, mv) => (-g, mv, cc) }._1
      }
      l2 = next.toMap
    }
    val composed = (0L until n).map(id => id -> l2(lbl(id.toInt))).toMap
    val q2 = qx4m2(composed)
    val sizes = composed.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    rows.foreach { case (id, c1, c2, cs, q) =>
      assert(c1 == lbl(id.toInt), s"node $id L1 label")
      assert(c2 == composed(id), s"node $id composed label")
      assert(cs == sizes(c2))
      assert(q == q2)
    }
    // the aggregation phase's claims, all ON the fixture: it MERGES
    // (strictly fewer communities than level 1), it strictly improves
    // modularity, and Blondel's §2 invariance holds EXACTLY — the
    // condensed weighted graph's Q·4m² equals the composed node
    // labeling's Q·4m² over the original graph (the identity that
    // lets the greedy recurse on ever-smaller graphs)
    assert(composed.values.toSet.size < comms.length,
      "level 2 merged nothing — aggregation dead on the fixture")
    assert(q2 > q1, s"level 2 must strictly improve Q: $q2 vs $q1")
    val qCond = {
      val byC = comms.groupBy(l2)
      byC.map { case (cc, members) =>
        val ms = members.toSet
        val eIn = members.map(selfW).sum +
          cross.collect { case ((x, y), w) if ms(x) && ms(y) => w }.sum
        val tot = members.map(strength).sum
        4 * m * eIn - tot * tot
      }.sum
    }
    assert(qCond == q2,
      s"condensed-graph Q $qCond != composed-labeling Q $q2 (invariance broken)")
  }

  test("g27: the level loop matches a sequential multi-level mirror; Q non-decreasing across levels; self-terminates below the cap") {
    val rows = graft.operators.Graph.g27(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("community"),
        r.getAs[Long]("csize"), r.getAs[Long]("q_x4m2"),
        r.getAs[Long]("levels_used")))
    val n = Tables.customer(spark, sf).count()
    assert(rows.length == n)
    // the shared fixture graph + Q audit (g25's mirror scaffolding)
    val und = (0L until n).flatMap { u =>
      Seq((u, (u * 31 + 7) % n), (u, (u * 17 + 3) % n)) ++
        (if (u >= 2) Seq((u, u / 2)) else Nil)
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val m = und.size.toLong
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val deg = (0L until n).map(id =>
      id -> adj.get(id).map(_.size.toLong).getOrElse(0L)).toMap
    def qx4m2(lbl: Long => Long): Long = {
      val eIn = und.groupBy { case (a, b) => (lbl(a), lbl(b)) }
        .collect { case ((la, lb), es) if la == lb => la -> es.size.toLong }
        .toMap
      val tot = (0L until n).groupBy(lbl).view
        .mapValues(_.map(deg).sum).toMap
      tot.map { case (c, t) => 4 * m * eIn.getOrElse(c, 0L) - t * t }.sum
    }
    // level 1: the unweighted sequential mirror at the g24Rounds grain
    var lbl = (0L until n).toArray
    (1 to graft.operators.Graph.g24Rounds).foreach { _ =>
      val tot = (0L until n).groupBy(id => lbl(id.toInt)).view
        .mapValues(_.map(deg).sum).toMap
      val next = lbl.clone()
      (0L until n).foreach { id =>
        val own = lbl(id.toInt)
        val d = deg(id)
        val kin = adj.getOrElse(id, Seq.empty)
          .groupBy(b => lbl(b.toInt)).view.mapValues(_.size.toLong).toMap
        val cands = (kin.keySet + own).toSeq.filter(_ <= own).map { c =>
          val totAdj = tot(c) - (if (c == own) d else 0L)
          (c, 2 * m * kin.getOrElse(c, 0L) - d * totAdj, if (c == own) 0 else 1)
        }
        next(id.toInt) = cands.minBy { case (c, g, mv) => (-g, mv, c) }._1
      }
      lbl = next
    }
    // the LEVEL LOOP mirror: condense by the composed labels, run the
    // weighted rounds at the g25Rounds grain, stop on a zero-move level
    var comp: Long => Long = id => lbl(id.toInt)
    var moved = (0L until n).exists(id => comp(id) != id)
    var levelsUsed = if (moved) 1L else 0L
    var qSeq = List(qx4m2(comp))
    var lvl = 2
    while (moved && lvl <= graft.operators.Graph.g27MaxLevels) {
      val comms = (0L until n).map(comp).distinct.sorted
      val cw = und.groupBy { case (a, b) =>
          val (ca, cb) = (comp(a), comp(b))
          (math.min(ca, cb), math.max(ca, cb))
        }.view.mapValues(_.size.toLong).toMap
      val cross = cw.collect { case ((x, y), w) if x != y => ((x, y), w) }.toSeq
      val cadj = cross.flatMap { case ((x, y), w) => Seq((x, (y, w)), (y, (x, w))) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val strength = comms.map { c =>
        c -> (0L until n).filter(id => comp(id) == c).map(deg).sum
      }.toMap
      assert(strength.values.sum == 2 * m, s"level $lvl must preserve 2m")
      var l2 = comms.map(c => c -> c).toMap
      (1 to graft.operators.Graph.g25Rounds).foreach { _ =>
        val tot = comms.groupBy(l2).view
          .mapValues(_.map(strength).sum).toMap
        val next = scala.collection.mutable.Map(l2.toSeq: _*)
        comms.foreach { c =>
          val own = l2(c)
          val d = strength(c)
          val kin = cadj.getOrElse(c, Seq.empty)
            .groupBy { case (nb, _) => l2(nb) }.view
            .mapValues(_.map(_._2).sum).toMap
          val cands = (kin.keySet + own).toSeq.filter(_ <= own).map { cc =>
            val totAdj = tot(cc) - (if (cc == own) d else 0L)
            (cc, 2 * m * kin.getOrElse(cc, 0L) - d * totAdj,
              if (cc == own) 0 else 1)
          }
          next(c) = cands.minBy { case (cc, g, mv) => (-g, mv, cc) }._1
        }
        l2 = next.toMap
      }
      moved = comms.exists(c => l2(c) != c)
      if (moved) levelsUsed += 1
      val prev = comp
      comp = id => l2(prev(id))
      qSeq ::= qx4m2(comp)
      lvl += 1
    }
    // the distributed run matches the mirror node-for-node
    val sizes = (0L until n).map(comp).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val qFinal = qx4m2(comp)
    rows.foreach { case (id, c, cs, q, lu) =>
      assert(c == comp(id), s"node $id composed label")
      assert(cs == sizes(c) && q == qFinal && lu == levelsUsed)
    }
    // Q never decreases across levels, and the terminal level's Q
    // equals its predecessor's (the zero-move fixed point)
    val qAsc = qSeq.reverse
    qAsc.zip(qAsc.tail).foreach { case (a, b) =>
      assert(b >= a, s"Q decreased across a level: $a -> $b")
    }
    // the loop self-terminated on a zero-move level BELOW the cap —
    // g27MaxLevels is a snapshot grain past the fixture's need, not
    // a truncation (the oracle's extra unrolled levels are no-ops)
    assert(!moved, "the fixture must self-terminate within the level cap")
    assert(levelsUsed >= 2L, "the fixture must genuinely use multiple levels")
  }

  test("g24/g25: the move loop terminates at a zero-move fixed point; Q non-decreasing; keepAll=false returns only the final frame") {
    val G = graft.operators.Graph
    val nodes = Tables.customer(spark, sf).selectExpr("c_custkey AS id").cache()
    val n = nodes.count()
    val e0 = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter("id >= 2").selectExpr("id AS src", "id div 2 AS dst"))
    val und = e0.filter("src <> dst")
      .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
      .distinct().cache()
    def labs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // LEVEL 1 under a generous cap: the loop must STOP ON ITS OWN at
    // a zero-move fixed point (measured: round 19 on this fixture at
    // sf0.01 — min-label flow walks the id-halving chain, so full
    // convergence is ~log2(n) rounds, NOT within the 5-round serving
    // cap; g24's capped run is the oracle-pinned snapshot grain, and
    // the convergence loop is what spares callers with higher caps
    // from paying dead rounds). Fixed-point purity — every
    // post-convergence round reproduces the labeling verbatim — is
    // also WHY the fixed-round oracle CTE chain matches the
    // loop-until-no-move engine wherever the loop does stop early.
    val cap = 40
    val states = G.louvainStates(nodes, und, cap, keepAll = true)
    val used = states.length - 1
    assert(used < cap,
      s"level 1 never reached its fixed point within $cap rounds")
    assert(labs(states.last) == labs(states(states.length - 2)),
      "the final round must be the zero-move fixed point")
    // Q non-decreasing through the last active round
    val qs = states.map(st =>
      G.louvainQx4m2(und, st).collect().head.getLong(0))
    qs.sliding(2).foreach {
      case Seq(a, b) => assert(b >= a, s"Q decreased across rounds: $qs")
      case _ => ()
    }
    // the capped serving run is a PREFIX of the converged evolution
    // (each round a pure function of the last — the snapshot grain;
    // min() guards the index if a future fixture converges early)
    val snap = math.min(G.g24Rounds, states.length - 1)
    assert(labs(states(snap)) ==
      labs(G.louvainStates(nodes, und, snap, keepAll = true).last))
    // LEVEL 2: the condensed weighted graph over g24's capped level-1
    // labels (g25's actual input) — measured: fixed point at round 11
    // on this fixture (191 condensed communities at sf0.01), so
    // g25Rounds = 3 is likewise the oracle-pinned snapshot grain and
    // the loop's own stop is what a convergence-seeking caller gets
    val m = und.count()
    val l1 = states(snap)
    val lc = und
      .join(l1.selectExpr("id AS a", "lbl AS ca"), Seq("a"))
      .join(l1.selectExpr("id AS b", "lbl AS cb"), Seq("b"))
      .select(col("ca"), col("cb"))
    val cund = lc.filter("ca <> cb")
      .selectExpr("least(ca, cb) AS ca", "greatest(ca, cb) AS cb")
      .groupBy("ca", "cb").agg(count(lit(1)).as("w"))
    val cedges = cund.selectExpr("ca AS src", "cb AS dst", "w")
      .unionByName(cund.selectExpr("cb AS src", "ca AS dst", "w"))
    val deg1 = und.selectExpr("a AS src", "b AS dst")
      .unionAll(und.selectExpr("b AS src", "a AS dst"))
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val sdeg = l1.join(nodes.join(deg1, Seq("id"), "left_outer")
        .selectExpr("id", "coalesce(d, CAST(0 AS BIGINT)) AS d"), Seq("id"))
      .groupBy(col("lbl").as("id")).agg(sum(col("d")).as("d"))
    val init2 = l1.selectExpr("lbl AS id").distinct()
      .selectExpr("id", "id AS lbl")
    val cap2 = 30
    val st2 = G.louvainStatesW(init2, cedges, sdeg, m, cap2, keepAll = true)
    val used2 = st2.length - 1
    assert(used2 < cap2,
      s"level 2 never reached its fixed point within $cap2 rounds")
    assert(labs(st2.last) == labs(st2(st2.length - 2)),
      "level 2's final round must be the zero-move fixed point")
    // keepAll=false (the serving path) returns ONLY the final,
    // readable frame — no freed checkpoints a caller could trip on
    val servingStates = G.louvainStates(nodes, und, cap)
    assert(servingStates.length == 1)
    assert(labs(servingStates.head) == labs(states.last))
    nodes.unpersist(); und.unpersist()
  }

  test("g26: community PageRank equals a sequential weighted recompute; mass bounded, base floor holds") {
    val rows = graft.operators.Graph.g26(spark, sf).collect()
      .map(r => (r.getAs[Long]("community"), r.getAs[Long]("csize"),
        r.getAs[Long]("rank_mass")))
    val n = Tables.customer(spark, sf).count()
    // the shared fixture graph → level-1 labels (g24's mirror)
    val und = (0L until n).flatMap { u =>
      Seq((u, (u * 31 + 7) % n), (u, (u * 17 + 3) % n)) ++
        (if (u >= 2) Seq((u, u / 2)) else Nil)
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val m = und.size.toLong
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val deg = (0L until n).map(id =>
      id -> adj.get(id).map(_.size.toLong).getOrElse(0L)).toMap
    var lbl = (0L until n).toArray
    (1 to graft.operators.Graph.g24Rounds).foreach { _ =>
      val tot = (0L until n).groupBy(id => lbl(id.toInt)).view
        .mapValues(_.map(deg).sum).toMap
      val next = lbl.clone()
      (0L until n).foreach { id =>
        val own = lbl(id.toInt)
        val d = deg(id)
        val kin = adj.getOrElse(id, Seq.empty)
          .groupBy(b => lbl(b.toInt)).view.mapValues(_.size.toLong).toMap
        val cands = (kin.keySet + own).toSeq.filter(_ <= own).map { c =>
          val totAdj = tot(c) - (if (c == own) d else 0L)
          (c, 2 * m * kin.getOrElse(c, 0L) - d * totAdj, if (c == own) 0 else 1)
        }
        next(id.toInt) = cands.minBy { case (c, g, mv) => (-g, mv, c) }._1
      }
      lbl = next
    }
    // condensed weighted edges incl. self-loops, out-weights
    val comms = lbl.distinct.sorted
    val cw = und.groupBy { case (a, b) =>
        (lbl(a.toInt), lbl(b.toInt)) match {
          case (x, y) => (math.min(x, y), math.max(x, y))
        }
      }.view.mapValues(_.size.toLong).toMap
    val edges = cw.toSeq.flatMap { case ((x, y), w) =>
      if (x == y) Seq((x, x, w)) else Seq((x, y, w), (y, x, w))
    }
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val massS = 1000000000000L
    val nc = comms.length.toLong
    val base = (massS * 15L / 100L) / nc
    var rank = comms.map(c => c -> massS / nc).toMap
    (1 to 10).foreach { _ =>
      val q = rank.collect { case (c, r) if outw.contains(c) =>
        c -> (r * 85L / 100L) / outw(c) }
      val contrib = edges.groupBy(_._2).view.mapValues(_.map { case (s, _, w) =>
        q.getOrElse(s, 0L) * w }.sum).toMap
      rank = comms.map(c => c -> (base + contrib.getOrElse(c, 0L))).toMap
    }
    val sizes = lbl.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows.length == comms.length)
    rows.foreach { case (c, cs, r) =>
      assert(r == rank(c), s"community $c: $r != ${rank(c)}")
      assert(cs == sizes(c))
    }
    // mass accounting: every community keeps at least the base
    // (dangling convention), total never exceeds the injected mass,
    // and the ranking genuinely separates communities
    assert(rows.forall(_._3 >= base))
    assert(rows.map(_._3).sum <= massS)
    assert(rows.map(_._3).max > rows.map(_._3).min)
  }

  test("e14: cohort LTV equals a sequential recompute; cumulative is monotone") {
    val rows = graft.operators.EventWindows.e14(spark, sf).collect()
      .map(r => (r.getAs[Long]("cohort"), r.getAs[Long]("offset_days"),
        r.getAs[Long]("n_purchases"), r.getAs[Long]("rev_cents"),
        r.getAs[Long]("cum_rev_cents")))
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "event_type",
        "CAST(extract(DOY FROM ts) AS BIGINT) AS day",
        "CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents")
      .as[(Long, String, Long, Long)].collect()
    val cohort = ev.map(e => (e._1, e._3)).distinct.groupBy(_._1)
      .view.mapValues(_.map(_._2).min).toMap
    val grid = ev.filter(_._2 == "purchase")
      .map(e => ((cohort(e._1), e._3 - cohort(e._1)), e._4))
      .filter(_._1._2 <= 7)
      .groupBy(_._1).view
      .mapValues(g => (g.size.toLong, g.map(_._2).sum)).toMap
    val want = grid.keys.toSeq.sorted.map { case (c, o) =>
      val (np, rev) = grid((c, o))
      val cum = grid.filter { case ((c2, o2), _) => c2 == c && o2 <= o }
        .values.map(_._2).sum
      (c, o, np, rev, cum)
    }
    assert(rows.toSeq == want && rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      sorted.zip(sorted.drop(1)).foreach { case (a, b) => assert(b._5 >= a._5) }
    }
  }

  test("t17 batching holds past 256 merges: rounds stay << merges at depth") {
    // the production-depth question the batched scheme hangs on
    // (§7.11's vocabulary pruning assumes it): push the merge budget
    // past 256 and the invariants that make batching correct must
    // still hold. The fixture corpus cannot carry this — its 31
    // distinct words / 138 chars exhaust at ~89 merges (the earlier
    // spec's depth ceiling), so the depth run uses a DETERMINISTIC
    // synthetic vocabulary of 800 words over a 30-char alphabet
    // (t17Learn is corpus-agnostic: vocab in, merge table out)
    val ts = graft.operators.TextStats
    import spark.implicits._
    def lcg(x: Long): Long = x * 6364136223846793005L + 1442695040888963407L
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123".toCharArray
    val words = (1 to 800).map { i =>
      var st = lcg(i.toLong)
      val len = 8 + (math.abs(st) % 5).toInt
      val cs = Array.fill(len) {
        st = lcg(st); alphabet((math.abs(st) % 30).toInt)
      }
      (cs.mkString(" "), 1000L + (math.abs(st) % 9000))
    }.distinct
    val vocab = words.toDF("s", "freq").cache()
    val (rules, _) = ts.t17Learn(vocab, rounds = 24, batchM = 32, candK = 512)
    vocab.unpersist()
    assert(rules.length >= 256, s"only ${rules.length} merges at depth")
    val roundsUsed = rules.map(_._1).distinct.length
    assert(roundsUsed <= 24 && rules.length / roundsUsed >= 8,
      s"batching degenerated: ${rules.length} merges over $roundsUsed rounds")
    // merges stay globally distinct, counts positive
    assert(rules.map(_._3).distinct.length == rules.length)
    assert(rules.forall(_._4 > 0))
    // the commutation invariant (disjoint symbols AND merged outputs
    // within a round) survives at depth — the correctness core of
    // applying a whole batch in one pass
    rules.groupBy(_._1).values.foreach { rm =>
      val symSets = rm.map { t =>
        val Array(a, b) = t._3.split(" ", 2)
        Set(a, b, a + b)
      }.toSeq
      symSets.combinations(2).foreach(c => assert((c(0) & c(1)).isEmpty))
    }
  }

  test("e5/e14 cohort day is monotone across a calendar-year boundary") {
    import spark.implicits._
    // DOY would read 365, 366, 1, 2 here — wrapping cohorts backwards;
    // the absolute-day convention must step 365, 366, 367, 368
    val days = Seq("2024-12-30 23:59:59", "2024-12-31 10:00:00",
        "2025-01-01 00:00:01", "2025-01-02 12:00:00")
      .zipWithIndex.map { case (s, i) => (i, s) }
      .toDF("k", "s")
      .selectExpr("k", "CAST(s AS TIMESTAMP) AS ts")
      .selectExpr("k", s"${graft.operators.EventWindows.dayExpr} AS day")
      .orderBy($"k").collect().map(_.getLong(1)).toSeq
    assert(days == Seq(365L, 366L, 367L, 368L))
  }

  test("p10: the delta slices partition the fact; incremental equals monolithic") {
    val inc = graft.operators.Incremental.p10(spark, sf).collect()
      .map(_.toSeq)
    val li = Tables.lineitem(spark, sf)
    val n = li.count()
    val nBase = li.filter($"l_orderkey" % 10 =!= 0).count()
    val nDelta = li.filter($"l_orderkey" % 10 === 0).count()
    assert(nBase + nDelta == n && nDelta > 0, "delta split must partition the fact")
    // monolithic recompute of the same view, same ordering
    val ords = Tables.orders(spark, sf)
      .selectExpr("o_orderkey AS l_orderkey",
        "date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate", "o_orderpriority")
    val whole = li
      .selectExpr("l_orderkey", "l_linenumber",
        "CAST(floor(l_extendedprice * (1 - l_discount) * 1e2 + 0.5) AS BIGINT) AS rev_cents")
      .join(ords, Seq("l_orderkey"))
      .select($"l_orderkey", $"l_linenumber", $"orderdate",
        $"o_orderpriority", $"rev_cents")
      .orderBy($"l_orderkey", $"l_linenumber")
      .collect().map(_.toSeq)
    assert(inc.toSeq == whole.toSeq)
  }

  test("t20: DSIR importance weights equal a sequential reimplementation bitwise") {
    val ts = graft.operators.TextStats
    val rows = ts.t20(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("iw9"), r.getAs[Long]("selected")))
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "source", "lower(trim(text)) AS t")
      .as[(Long, String, String)].collect()
    assert(rows.length == docs.length)
    // sequential reference: identical hashed features, Laplace logs
    // quantized with the same java.lang.Math.log Spark executes
    val md = java.security.MessageDigest.getInstance("MD5")
    def feat(w: String): Long = {
      val hex = md.digest(w.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 512
    }
    val occ = docs.flatMap { case (id, src, t) =>
      val sclass = src.substring(3).toInt % 5
      t.split(" ", -1).map(w => (id, sclass, feat(w)))
    }
    val cr = occ.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val tOcc = occ.filter(_._2 == 0)
    val ct = tOcc.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val nt = tOcc.length.toLong; val nr = occ.length.toLong
    def lp9(c: Long, tot: Long): Long =
      math.floor(math.log((c + 1).toDouble / (tot + 512).toDouble) * 1e9 + 0.5).toLong
    val lr9 = cr.keys.map(f => f -> (lp9(ct.getOrElse(f, 0L), nt) - lp9(cr(f), nr))).toMap
    val scored = occ.groupBy(_._1).view
      .mapValues(g => (g.length.toLong, g.map(o => lr9(o._3)).sum)).toMap
    val tot = scored.values.map(_._2).sum; val nd = scored.size.toLong
    rows.foreach { case (id, nw, iw, sel) =>
      val (wnw, wiw) = scored(id)
      assert(nw == wnw && iw == wiw, s"doc $id: ($nw,$iw) != ($wnw,$wiw)")
      assert(sel == (if (wiw * nd > tot) 1L else 0L), s"doc $id selected")
    }
    // the estimator must actually prefer target-class documents
    val bySel = docs.map { case (id, src, _) =>
      (src.substring(3).toInt % 5 == 0, scored(id)._2.toDouble / scored(id)._1)
    }
    val tgtMean = bySel.filter(_._1).map(_._2).sum / bySel.count(_._1)
    val restMean = bySel.filter(!_._1).map(_._2).sum / bySel.count(!_._1)
    assert(tgtMean > restMean,
      s"target-class mean per-word weight $tgtMean !> rest $restMean")
  }

  test("e11: pattern runs equal a sequential per-user rescan") {
    import graft.operators.EventWindows
    val rows = EventWindows.e11(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Long]("n_steps"), r.getAs[Long]("gain_cents")))
    assert(rows.nonEmpty)
    // sequential reference: walk each user's (tus, event_id)-ordered
    // series and cut maximal strictly-increasing runs by hand
    val evs = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS tus",
        "CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents")
      .as[(Long, Long, Long, Long)].collect()
    val want = evs.groupBy(_._1).toSeq.flatMap { case (uid, g) =>
      val s = g.sortBy(t => (t._3, t._2))
      val runs = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()
      var i = 0
      while (i < s.length) {
        var j = i
        while (j + 1 < s.length && s(j + 1)._4 > s(j)._4) j += 1
        if (j - i >= 3)
          runs += ((uid, s(i)._3, s(j)._3, (j - i).toLong, s(j)._4 - s(i)._4))
        i = j + 1
      }
      runs
    }.sortBy(t => (t._1, t._2))
    assert(rows.toSeq == want, s"got ${rows.length} runs, want ${want.length}")
  }

  test("e9: top paths equal a brute-force trigram recount") {
    val rows = graft.operators.EventWindows.paths(spark, sf).collect()
      .map(r => ((r.getAs[String]("t1"), r.getAs[String]("t2"),
        r.getAs[String]("t3")), r.getAs[Long]("n")))
    val events = Tables.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts) AS tus", "event_id", "event_type")
      .as[(Long, Long, Long, String)].collect()
    val counts = events.groupBy(_._1).values.flatMap { g =>
      val t = g.sortBy(e => (e._2, e._3)).map(_._4)
      t.sliding(3).filter(_.length == 3).map(s => (s(0), s(1), s(2)))
    }.toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val want = counts.toSeq
      .sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(10)
    assert(rows.toSeq == want)
  }

  test("q24 gaps-and-islands: streaks tile the active days, disjoint and maximal") {
    val rows = Relational.q24(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("streak_start"),
        r.getAs[Long]("streak_end"), r.getAs[Long]("days")))
    assert(rows.nonEmpty)
    rows.foreach { case (_, s, e, d) => assert(d == e - s + 1) }
    val active = Tables.events(spark, sf)
      .selectExpr("user_id", "CAST(extract(DOY FROM ts) AS BIGINT) AS day")
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // streak days reconstruct the active-day set exactly (no overlap,
    // no gap swallowed)
    val tiled = rows.flatMap { case (u, s, e, _) => (s to e).map(u -> _) }
    assert(tiled.length == tiled.distinct.length)
    assert(tiled.toSet == active)
    // maximality: no two streaks of one user touch
    rows.groupBy(_._1).values.foreach { ss =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) => assert(s2 > e1 + 1)
        case _ =>
      }
    }
  }

  test("q25: rolling 7-day distinct equals a brute-force window recount") {
    val got = Relational.q25(spark, sf).collect()
      .map(r => r.getAs[Long]("day") -> r.getAs[Long]("active_users_7d")).toMap
    val activity = Tables.events(spark, sf)
      .selectExpr("user_id", "CAST(extract(DOY FROM ts) AS BIGINT) AS day")
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val days = activity.map(_._2).distinct.sorted
    assert(got.keySet == days.toSet)
    days.foreach { d =>
      val brute = activity.filter { case (_, a) => a >= d - 6 && a <= d }
        .map(_._1).distinct.length
      assert(got(d) == brute, s"day $d: ${got(d)} vs $brute")
    }
  }

  test("q26: per-day peak concurrency equals a brute-force interval sweep") {
    val got = Relational.q26(spark, sf).collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("peak_concurrent"),
        r.getAs[Long]("n_intervals")))
    assert(got.nonEmpty)
    // rebuild the sessions independently in plain Scala
    val gap = 1800L * 1000000L
    val dayUs = 86400L * 1000000L
    val evs = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS tus").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sessions = evs.groupBy(_._1).values.flatMap { rows =>
      val sorted = rows.sortBy(r => (r._3, r._2)).map(_._3)
      val buf = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      sorted.foreach { t =>
        if (buf.nonEmpty && t - buf.last._2 <= gap)
          buf(buf.length - 1) = (buf.last._1, t)
        else buf += ((t, t))
      }
      buf
    }.toSeq
    val clipped = sessions.flatMap { case (s, e) =>
      (s / dayUs to e / dayUs).map { d =>
        (d, math.max(s, d * dayUs), math.min(e, d * dayUs + dayUs - 1))
      }
    }
    assert(got.map(_._1).toSet == clipped.map(_._1).toSet)
    got.foreach { case (day, peak, nInt) =>
      val ints = clipped.filter(_._1 == day)
      assert(nInt == ints.length, s"day $day interval count")
      // closed-interval peak is attained at some interval start
      val brute = ints.map(_._2)
        .map(t => ints.count(i => i._2 <= t && t <= i._3)).max
      assert(peak == brute, s"day $day: $peak vs $brute")
    }
  }

  test("p4: applying the change set to the old snapshot reproduces the new one") {
    import graft.operators.Cdc
    val o = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_totalprice", $"o_orderstatus").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val a = o.filter(_._1 % 10 != 3).map(t => t._1 -> ((t._2, t._3))).toMap
    val b = o.filter(_._1 % 10 != 4).map { case (k, p, s) =>
      k -> ((if (k % 7 == 0) p + 10.0 else p, if (k % 11 == 0) "R" else s))
    }.toMap
    val diff = Cdc.p4(spark, sf).collect()
    assert(diff.nonEmpty)
    val applied = scala.collection.mutable.Map(a.toSeq: _*)
    diff.foreach { r =>
      val pk = r.getAs[Long]("pk")
      r.getAs[String]("change_type") match {
        case "delete" => applied.remove(pk)
        case "insert" | "update" =>
          applied(pk) = (r.getAs[Double]("new_price"), r.getAs[String]("new_status"))
        case other => fail(s"unexpected change_type $other")
      }
    }
    assert(applied.toMap == b)
    // all three change kinds occur in the testdata
    val kinds = diff.map(_.getAs[String]("change_type")).toSet
    assert(kinds == Set("insert", "delete", "update"))
  }

  test("p3: merged partials equal the direct recompute, with a real split") {
    import graft.operators.Incremental
    val merged = Incremental.p3(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value")))
    val direct = Tables.events(spark, sf)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), graft.functions.Stable.dsum($"value", 2).as("s"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"), r.getAs[Double]("s")))
    assert(merged.sortBy(_._1).toSeq == direct.sortBy(_._1).toSeq)
    // the ingest boundary actually splits the data (both sides real)
    val halves = Tables.events(spark, sf)
      .selectExpr("CAST(extract(DOY FROM ts) AS BIGINT) >= 15 AS newer")
      .groupBy("newer").count().collect()
    assert(halves.length == 2 && halves.forall(_.getAs[Long]("count") > 0))
  }

  test("e6 anomaly: every flagged event is >2 sigma, and some exist") {
    val rows = EventWindows.anomaly(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(math.abs(r.getAs[Double]("z")) > 2.0))
    // outliers should be rare: well under 10% of events
    assert(rows.length.toDouble / Tables.events(spark, sf).count() < 0.1)
  }

  test("q30: histogram median/mode equal a full-sort recomputation per group") {
    val rows = Relational.q30(spark, sf).collect()
      .map(r => ((r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus")),
        (r.getAs[Long]("n_rows"), r.getAs[Double]("median_qty"),
          r.getAs[Double]("mode_qty"), r.getAs[Long]("mode_cnt")))).toMap
    val groups = Tables.lineitem(spark, sf)
      .selectExpr("l_returnflag", "l_linestatus", "l_quantity")
      .as[(String, String, Double)].collect()
      .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sorted).toMap
    assert(rows.keySet == groups.keySet)
    groups.foreach { case (k, qs) =>
      val n = qs.length
      // middle order statistics straight off the sorted rows
      val lo = qs((n - 1) / 2); val hi = qs(n / 2)
      val byCnt = qs.groupBy(identity).view.mapValues(_.length).toMap
      val maxC = byCnt.values.max
      val mode = byCnt.filter(_._2 == maxC).keys.min
      val (gn, med, gm, gc) = rows(k)
      assert(gn == n && med == (lo + hi) / 2.0, s"$k median: $med vs ${(lo + hi) / 2.0}")
      assert(gm == mode && gc == maxC, s"$k mode: ($gm,$gc) vs ($mode,$maxC)")
    }
  }

  test("g3: oriented triangle counts equal a brute-force enumeration") {
    val rows = graft.operators.Graph.g3(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"),
        (r.getAs[Long]("tri_cnt"), r.getAs[Long]("deg")))).toMap
    val n = Tables.customer(spark, sf).count()
    val und = (0L until n).flatMap { u =>
      val ts = Seq((u * 31 + 7) % n, (u * 17 + 3) % n) ++
        (if (u >= 2) Seq(u / 2) else Nil)
      ts.map(v => (math.min(u, v), math.max(u, v)))
    }.filter(p => p._1 != p._2).distinct.toSet
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      .withDefaultValue(Set.empty[Long])
    // brute force: for every undirected edge (u,v), common higher neighbors
    val triCnt = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    und.foreach { case (u, v) =>
      (adj(u) & adj(v)).foreach { w =>
        triCnt(u) += 1; triCnt(v) += 1; triCnt(w) += 1
      }
    }
    val deg = und.toSeq.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows.keySet == triCnt.keys.toSet, "participating node sets differ")
    rows.foreach { case (id, (tc, d)) =>
      assert(tc == triCnt(id), s"node $id: $tc != ${triCnt(id)}")
      assert(d == deg(id), s"node $id degree: $d != ${deg(id)}")
    }
    // total participation = 3x the triangle count, and some triangles exist
    assert(rows.values.map(_._1).sum % 3 == 0 && rows.nonEmpty)
  }

  test("t28: the confusion matrix separates the seeded diagonal from the raw-text collapse") {
    val got = graft.operators.TextStats.t28(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("predicted")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("class_total"), r.getAs[Long]("share_permille")))).toMap
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "lang").as[(Long, String)].collect()
    val classTotals = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val seededTotals = docs.filter(_._1 % 3 == 0).groupBy(_._2)
      .view.mapValues(_.length.toLong).toMap
    // cells re-sum to the class totals, and shares recompute exactly
    classTotals.foreach { case (l, n) =>
      val cells = got.filter(_._1._1 == l)
      assert(cells.values.map(_._1).sum == n, s"class $l mass")
      cells.foreach { case (_, (c, t, s)) =>
        assert(t == n && s == c * 1000L / n)
      }
    }
    // every seeded doc routes to its true language (the diagonal is
    // exactly the seeded third) ...
    seededTotals.foreach { case (l, n) =>
      if (l == "en") assert(got((l, l))._1 == classTotals("en"))
      else assert(got((l, l))._1 == n, s"diag $l")
    }
    // ... and every raw non-en doc collapses to 'en' — the matrix
    // exposes the marker classifier's failure mode on synthetic text
    classTotals.keys.filter(_ != "en").foreach { l =>
      assert(got((l, "en"))._1 == classTotals(l) - seededTotals(l), s"collapse $l")
      assert(got.keys.count(_._1 == l) == 2, s"unexpected cells for $l")
    }
  }

  test("t27: Zipf fit equals a sequential recompute; the synthetic corpus reads as non-natural") {
    val r = graft.operators.TextStats.t27(spark, sf).collect().head
    val counts = Tables.documents(spark, sf)
      .selectExpr("text").as[String].collect()
      .flatMap(_.trim.toLowerCase.split(" ", -1))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val ranked = counts.sortBy { case (t, c) => (-c, t) }.take(1000).zipWithIndex
      .map { case ((_, c), i) =>
        (math.floor(math.log((i + 1).toDouble) * 1e3 + 0.5).toLong,
         math.floor(math.log(c.toDouble) * 1e3 + 0.5).toLong)
      }
    val k = ranked.size.toLong
    val (sx, sy) = (ranked.map(_._1).sum, ranked.map(_._2).sum)
    val (sxy, sx2) = (ranked.map(p => p._1 * p._2).sum, ranked.map(p => p._1 * p._1).sum)
    assert(r.getAs[Long]("n_terms") == k)
    assert(r.getAs[Long]("vocab") == counts.size.toLong)
    assert(r.getAs[Long]("n_tokens") == counts.map(_._2).sum)
    assert((r.getAs[Long]("sum_x"), r.getAs[Long]("sum_y"),
      r.getAs[Long]("sum_xy"), r.getAs[Long]("sum_x2")) == ((sx, sy, sxy, sx2)))
    val want = (k * sxy - sx * sy).toDouble / (k * sx2 - sx * sx).toDouble
    assert(r.getAs[Double]("zipf_slope") == want)
    // frequencies fall with rank, so the fit must slope down — and
    // this near-uniform 31-word synthetic vocab must sit far from a
    // natural corpus' -1 (the audit's whole point: it DETECTS that)
    assert(want < 0.0 && want > -0.6)
  }

  test("t33: RAKE top phrases equal a sequential recompute; length and score laws hold") {
    val got = graft.operators.TextStats.t33(spark, sf).collect()
      .map(r => (r.getAs[String]("phrase"), r.getAs[Long]("n_occ"),
        r.getAs[Long]("score_milli"))).toSeq
    val stops = Set("the", "a", "and", "of", "to", "in", "is")
    val docs = Tables.documents(spark, sf).selectExpr("doc_id", "lower(trim(text))")
      .as[(Long, String)].collect()
    // sequential RAKE: segment, per-phrase words, corpus word stats
    val allPhrases = docs.flatMap { case (_, t) =>
      val words = t.split(" ").filter(_.nonEmpty)
      val runs = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
      var cur = Vector.empty[String]
      words.foreach { w =>
        if (stops(w)) { if (cur.nonEmpty) runs += cur; cur = Vector.empty }
        else cur :+= w
      }
      if (cur.nonEmpty) runs += cur
      runs.filter(_.size <= 4)
    }
    val occ = allPhrases.flatMap(p => p.map(w => (w, p.size.toLong)))
    val wstat = occ.groupBy(_._1).view.mapValues { os =>
      os.map(_._2).sum * 1000 / os.size
    }.toMap
    val scored = allPhrases.map(p => (p.mkString(" "), p.map(wstat).sum))
    val want = scored.groupBy(_._1).toSeq
      .map { case (ph, xs) => (ph, xs.size.toLong, xs.map(_._2).max) }
      .sortBy { case (ph, _, sc) => (-sc, ph) }
      .take(50)
    assert(got == want && got.nonEmpty)
    // RAKE's law on this corpus: the top phrase is multi-word (degree
    // rewards collocations), and no candidate exceeds the cap
    assert(got.head._1.split(" ").length > 1)
    assert(got.forall(_._1.split(" ").length <= 4))
    // scores are monotone down the list
    assert(got.sliding(2).forall { case Seq(a, b) => a._3 >= b._3 })
  }

  test("t32: code routing fires exactly on the seeded slice and recomputes sequentially") {
    val got = graft.operators.TextStats.t32(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars"), r.getAs[Long]("n_sym"),
        r.getAs[Long]("n_kw"), r.getAs[Long]("sym_permille"), r.getAs[String]("route"))).toSeq
    assert(got.nonEmpty)
    val texts = Tables.documents(spark, sf).selectExpr("doc_id", "text")
      .as[(Long, String)].collect().toMap
    got.foreach { case (id, nc, ns, nk, sp, route) =>
      val s = if (id % 7 == 3)
        texts(id) + s" def f(x) { return x + ${id % 10}; } val y = f(2); if (y > 0) { y = y * 2; }"
      else texts(id)
      // sequential feature recompute
      assert(nc == s.length.toLong)
      assert(ns == s.count("{};()=+*<>".contains(_)).toLong)
      assert(nk == "\\b(def|return|val|if)\\b".r.findAllIn(s).length.toLong)
      assert(sp == ns * 1000 / nc)
      // the gate routes the seeded slice and ONLY the seeded slice
      assert((route == "code") == (id % 7 == 3), s"doc $id misrouted: $route")
    }
    // both routes are populated — the gate genuinely swings
    assert(got.exists(_._6 == "code") && got.exists(_._6 == "prose"))
  }

  test("t26: readability counts and formulas recompute from the raw text") {
    val rows = graft.operators.TextStats.t26(spark, sf).collect()
    val raw = Tables.documents(spark, sf)
      .selectExpr("doc_id", "text").as[(Long, String)].collect().toMap
    assert(rows.length == raw.size)
    rows.foreach { r =>
      val text = raw(r.getAs[Long]("doc_id"))
      val w = text.trim.toLowerCase.split(" ", -1).length.toLong
      val s = math.max("[.!?]+".r.findAllIn(text).length.toLong, 1L)
      val y = "[aeiouy]+".r.findAllIn(text.toLowerCase).length.toLong
      assert(r.getAs[Long]("n_words") == w)
      assert(r.getAs[Long]("n_sentences") == s)
      assert(r.getAs[Long]("n_syllables") == y)
      val ease = 206.835 - 1.015 * (w.toDouble / s.toDouble) - 84.6 * (y.toDouble / w.toDouble)
      val grade = 0.39 * (w.toDouble / s.toDouble) + 11.8 * (y.toDouble / w.toDouble) - 15.59
      assert(r.getAs[Double]("flesch_ease") == ease, s"doc ${r.get(0)} ease")
      assert(r.getAs[Double]("fk_grade") == grade, s"doc ${r.get(0)} grade")
    }
    // the metric must discriminate across the corpus
    val eases = rows.map(_.getAs[Double]("flesch_ease")).distinct
    assert(eases.length > 10)
  }

  test("dq2: PSI equals a sequential recompute; the seeded cap alarms, untouched columns stay quiet") {
    val got = graft.operators.Quality.dq2(spark, sf).collect()
      .map(r => r.getAs[String]("col_name") ->
        ((r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
          r.getAs[Long]("psi_micro"), r.getAs[Long]("drifted")))).toMap
    assert(got.keySet == Set("l_quantity", "l_extendedprice", "l_discount"))
    val li = Tables.lineitem(spark, sf)
      .selectExpr("l_quantity", "l_extendedprice", "l_discount")
      .as[(Double, Double, Double)].collect()
    def psiMicro(ref: Seq[Double], cur: Seq[Double], lo: Double, w: Double): Long = {
      def bins(vs: Seq[Double]) = vs.groupBy(v =>
        math.min(9L, math.max(0L, math.floor((v - lo) / w).toLong)))
        .view.mapValues(_.size.toLong).toMap
      val (ba, bb) = (bins(ref), bins(cur))
      val (na, nb) = (ref.size.toLong, cur.size.toLong)
      val num = (ba.keySet ++ bb.keySet).toSeq.map { k =>
        val (a, b) = (ba.getOrElse(k, 0L), bb.getOrElse(k, 0L))
        val diff = BigInt((a + 1) * (nb + 10) - (b + 1) * (na + 10))
        val lnq = math.floor(math.log(((a + 1) * (nb + 10)).toDouble /
          ((b + 1) * (na + 10)).toDouble) * 1e9 + 0.5).toLong
        diff * BigInt(lnq)
      }.sum
      ((num * BigInt(1000000)) /
        (BigInt(na + 10) * BigInt(nb + 10) * BigInt(1000000000))).toLong
    }
    val q = li.map(_._1)
    assert(got("l_quantity")._3 ==
      psiMicro(q, q.map(math.min(_, 30.0)), 0.0, 5.0))
    assert(got("l_extendedprice")._3 ==
      psiMicro(li.map(_._2), li.map(_._2), 0.0, 11000.0))
    assert(got("l_discount")._3 ==
      psiMicro(li.map(_._3), li.map(_._3), 0.0, 0.011))
    // identical distributions score exactly 0; the seeded cap alarms
    assert(got("l_extendedprice")._3 == 0L && got("l_extendedprice")._4 == 0L)
    assert(got("l_discount")._3 == 0L && got("l_discount")._4 == 0L)
    assert(got("l_quantity")._3 > 200000L && got("l_quantity")._4 == 1L)
    got.values.foreach { case (nr, nc, psi, _) =>
      assert(psi >= 0L && nr == li.length.toLong && nc == li.length.toLong)
    }
  }

  test("p13: quarantine routing equals a sequential recompute; verdicts partition the batch") {
    val got = graft.operators.Corpus.p13(spark, sf).collect()
      .map(r => r.getAs[String]("verdict") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("min_key"), r.getAs[Long]("max_key")))).toMap
    val li = Tables.lineitem(spark, sf)
      .selectExpr("l_orderkey", "l_linenumber", "l_quantity", "l_discount").collect()
      .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Int]("l_linenumber"),
        r.getAs[Double]("l_quantity"), r.getAs[Double]("l_discount")))
    val orderKeys = Tables.orders(spark, sf).selectExpr("o_orderkey")
      .as[Long].collect().toSet
    val routed = li.map { case (k, ln, q, d) =>
      val bkey = if (k % 83 == 5 && ln == 1) k + 10000000L else k
      val bqty = if (k % 97 == 0 && ln == 1) -q else q
      val bdisc = if (k % 89 == 3 && ln == 1) 0.9 else d
      val verdict =
        if (bqty <= 0) "q1_quantity"
        else if (bdisc < 0 || bdisc > 0.5) "q2_discount"
        else if (!orderKeys.contains(bkey)) "q3_orphan"
        else "pass"
      (verdict, bkey)
    }
    val want = routed.groupBy(_._1).view.mapValues { rs =>
      (rs.length.toLong, rs.map(_._2).min, rs.map(_._2).max)
    }.toMap
    assert(got == want)
    // routing is a PARTITION of the batch: disjoint verdicts re-sum
    // to the full row count, and all four verdicts actually occur
    assert(got.values.map(_._1).sum == li.length.toLong)
    assert(got.keySet == Set("pass", "q1_quantity", "q2_discount", "q3_orphan"))
    assert(got("pass")._1 > li.length * 9L / 10L, "quarantine ate the batch")
  }

  test("t21: every gate flag recomputes from the raw text; keep is their product") {
    val ts = graft.operators.TextStats
    val rows = ts.t21(spark, sf).collect()
    val raw = Tables.documents(spark, sf)
      .selectExpr("doc_id", "text").as[(Long, String)].collect().toMap
    assert(rows.length == raw.size)
    val stops = Seq("the", "a", "and", "of", "to", "in", "is")
    rows.foreach { r =>
      val text = raw(r.getAs[Long]("doc_id"))
      val ws = text.trim.toLowerCase.split(" ", -1)
      val nw = ws.length.toLong
      val ncnw = text.replace(" ", "").length.toLong
      val nsym = text.count(_ == '#').toLong +
        (text.length - text.replace("...", "").length) / 3
      val nstop = stops.count(ws.contains).toLong
      val nalpha = ws.count(_.exists(c => c >= 'a' && c <= 'z')).toLong
      assert(r.getAs[Long]("n_words") == nw)
      val want = Map(
        "f_nwords" -> (nw >= 50 && nw <= 100000),
        "f_wordlen" -> (3 * nw <= ncnw && ncnw <= 10 * nw),
        "f_symbol" -> (10 * nsym <= nw),
        "f_stop" -> (nstop >= 2),
        "f_alpha" -> (5 * nalpha >= 4 * nw))
      want.foreach { case (c, b) =>
        assert(r.getAs[Long](c) == (if (b) 1L else 0L), s"doc ${r.get(0)} $c")
      }
      assert(r.getAs[Long]("keep_doc") ==
        want.values.map(b => if (b) 1L else 0L).product)
    }
    // the gate must actually split the corpus (neither degenerate)
    val kept = rows.count(_.getAs[Long]("keep_doc") == 1L)
    assert(kept > 0 && kept < rows.length, s"degenerate gate: $kept/${rows.length}")
  }

  test("e12: every purchase credits its true most recent prior touch") {
    val rows = EventWindows.e12(spark, sf).collect()
      .map(r => r.getAs[Long]("conv_id") ->
        (Option(r.getAs[java.lang.Long]("touch_id")).map(_.toLong),
          r.getAs[String]("touch_type"),
          Option(r.getAs[java.lang.Long]("lag_us")).map(_.toLong))).toMap
    val ev = Tables.events(spark, sf)
      .filter("event_type IN ('click','view','purchase')")
      .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS tus")
      .as[(Long, Long, String, Long)].collect()
    // brute force: per user, walk the ordered stream carrying the
    // last-seen touch
    val want = scala.collection.mutable.Map[Long, (Long, String, Long)]()
    ev.groupBy(_._1).foreach { case (_, g) =>
      var last: Option[(Long, String, Long)] = None
      g.sortBy(t => (t._4, t._2)).foreach { case (_, id, typ, tus) =>
        if (typ == "purchase") last.foreach { case (tid, ttyp, ttus) =>
          want(id) = (tid, ttyp, tus - ttus)
        }
        else last = Some((id, typ, tus))
      }
    }
    assert(rows.keySet == want.keySet,
      s"conversion sets differ by ${(rows.keySet diff want.keySet).size}/${(want.keySet diff rows.keySet).size}")
    val lookback = 30L * 60 * 1000000
    rows.foreach { case (cid, (tid, ttyp, lag)) =>
      val (wtid, wtyp, wlag) = want(cid)
      if (wlag <= lookback)
        assert(tid.contains(wtid) && ttyp == wtyp && lag.contains(wlag), s"conv $cid")
      else
        assert(tid.isEmpty && ttyp == "none" && lag.isEmpty, s"conv $cid not none")
    }
    // both attributed and out-of-window conversions occur
    assert(rows.values.exists(_._2 != "none") && rows.values.exists(_._2 == "none"))
  }

  test("q31: HLL estimate equals a sequential sketch replay; error within spec") {
    val r = Relational.q31(spark, sf).collect().head
    val keys = Tables.lineitem(spark, sf).select("l_orderkey")
      .as[Long].collect().distinct
    // sequential replay: same md5-prefix hash, same register math
    val md = java.security.MessageDigest.getInstance("MD5")
    val regs = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    keys.foreach { k =>
      val hex = md.digest(k.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val hv = java.lang.Long.parseLong(hex, 16)
      val reg = hv % 1024; val w = hv / 1024
      val rank = if (w == 0) 51L else 51L - (64 - java.lang.Long.numberOfLeadingZeros(w))
      regs(reg) = math.max(regs(reg), rank)
    }
    val vZero = 1024 - regs.size
    val sSum = regs.values.map(rk => 1L << (51 - rk)).sum +
      vZero.toLong * (1L << 51)
    assert(r.getAs[Long]("n_exact") == keys.length)
    assert(r.getAs[Long]("v_zero") == vZero && r.getAs[Long]("s_sum") == sSum)
    val est = (BigInt(720540) * BigInt(2).pow(71) / (BigInt(sSum) * 1000000)).toLong
    val lc = if (est * 2 <= 5 * 1024 && vZero > 0)
      (1024L * math.floor(math.log(1024.0 / vZero) * 1e9 + 0.5).toLong) / 1000000000L
    else est
    assert(r.getAs[Long]("est") == lc, s"est ${r.getAs[Long]("est")} != $lc")
    // HLL at m=1024: 1.04/sqrt(m) ~ 3.2% standard error — allow 4 sigma
    assert(r.getAs[Long]("err_permille") < 130,
      s"error ${r.getAs[Long]("err_permille")} permille out of spec")
  }

  test("q35: union registers equal the direct union sketch; inclusion-exclusion and audit hold") {
    val rows = Relational.q35(spark, sf).collect()
      .map(r => r.getAs[String]("sketch") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("est"), r.getAs[Long]("err_permille")))).toMap
    assert(rows.keySet == Set("a", "b", "union", "intersection"))
    // exact audit: recompute the three set cardinalities directly
    val li = Tables.lineitem(spark, sf)
      .selectExpr("l_orderkey", "l_quantity", "l_discount")
      .as[(Long, Double, Double)].collect()
    val a = li.filter(_._2 >= 25).map(_._1).toSet
    val b = li.filter(_._3 >= 0.05).map(_._1).toSet
    assert(rows("a")._1 == a.size && rows("b")._1 == b.size)
    assert(rows("union")._1 == (a ++ b).size)
    assert(rows("intersection")._1 == (a & b).size)
    // the MERGE property: the max-merged union registers must give
    // the same estimate as a sketch built directly from A ∪ B —
    // replay both sequentially
    val md = java.security.MessageDigest.getInstance("MD5")
    def regsOf(keys: Iterable[Long]): Map[Long, Long] = {
      val m = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      keys.foreach { k =>
        val hex = md.digest(k.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        val hv = java.lang.Long.parseLong(hex, 16)
        val reg = hv % 1024; val w = hv / 1024
        val rank = if (w == 0) 51L else 51L - (64 - java.lang.Long.numberOfLeadingZeros(w))
        m(reg) = math.max(m(reg), rank)
      }
      m.toMap
    }
    val (ra, rb) = (regsOf(a), regsOf(b))
    val merged = (ra.keySet ++ rb.keySet)
      .map(k => k -> math.max(ra.getOrElse(k, 0L), rb.getOrElse(k, 0L))).toMap
    assert(merged == regsOf(a ++ b), "max-merge != direct union sketch")
    def estOf(regs: Map[Long, Long]): Long = {
      val vZero = 1024 - regs.size
      val sSum = regs.values.map(rk => 1L << (51 - rk)).sum + vZero.toLong * (1L << 51)
      val est = (BigInt(720540) * BigInt(2).pow(71) / (BigInt(sSum) * 1000000)).toLong
      if (est * 2 <= 5 * 1024 && vZero > 0)
        (1024L * math.floor(math.log(1024.0 / vZero) * 1e9 + 0.5).toLong) / 1000000000L
      else est
    }
    assert(rows("a")._2 == estOf(ra) && rows("b")._2 == estOf(rb))
    assert(rows("union")._2 == estOf(merged))
    // inclusion-exclusion is exactly how the intersection row is built
    assert(rows("intersection")._2 ==
      rows("a")._2 + rows("b")._2 - rows("union")._2)
    // every estimate within 4 sigma of HLL's 3.2% standard error
    Seq("a", "b", "union").foreach(s =>
      assert(rows(s)._3 < 130, s"$s error ${rows(s)._3} permille out of spec"))
  }

  test("q32: CMS never undercounts; cells merge by sum; audit is exact") {
    val rows = Relational.q32(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("overcount") >= 0 &&
        r.getAs[Long]("est") >= r.getAs[Long]("n_exact"))
    }
    // the exact top-10 audit matches a direct aggregate
    val li = Tables.lineitem(spark, sf)
    val direct = li.groupBy($"l_suppkey").count().collect()
      .map(r => (r.getLong(0).toString, r.getLong(1)))
      .sortBy { case (k, n) => (-n, k) }.take(10).toSeq
    assert(rows.map(r => (r.getAs[String]("ks"), r.getAs[Long]("n_exact"))).toSeq
      == direct)
    // mergeability: per-half sketches summed cell-wise == whole-corpus sketch
    def cellMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getAs[Int]("j"), r.getAs[Long]("c")), r.getAs[Long]("cnt"))).toMap
    val whole = cellMap(graft.functions.Cms.cells(li, "l_suppkey"))
    val merged = cellMap(
      graft.functions.Cms.cells(li.filter($"l_orderkey" % 2 === 0), "l_suppkey")
        .unionAll(graft.functions.Cms.cells(li.filter($"l_orderkey" % 2 =!= 0), "l_suppkey"))
        .groupBy($"j", $"c").agg(sum($"cnt").as("cnt")))
    assert(merged == whole)
    // conservation: total sketch mass = d x input rows
    assert(whole.values.sum == graft.functions.Cms.d * li.count())
  }

  test("g7: peeling equals a sequential recompute; clique+chain reaches the true 3-core") {
    val got = graft.operators.Graph.g7(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("peel_round"),
        r.getAs[Long]("core_deg"))).toSet
    val n = Tables.customer(spark, sf).count()
    // independent sequential mirror: same chain+hub edges, 12
    // synchronous sweeps at k=2
    var und = (0L until n).flatMap { id =>
      val chain = if (id % 10 != 9 && id + 1 < n) Seq((id, id + 1)) else Seq.empty
      val hubs = if (id % 10 == 0) {
        val h1 = (id * 31 + 7) % n
        val h2 = (id * 17 + 3) % n
        Seq((id, h1 - h1 % 10), (id, h2 - h2 % 10))
      } else Seq.empty
      chain ++ hubs
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    var active = (0L until n).toSet
    val peelAt = scala.collection.mutable.Map.empty[Long, Long]
    (1 to 12).foreach { i =>
      val deg = (und.map(_._1) ++ und.map(_._2)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val gone = active.filter(id => deg.getOrElse(id, 0L) < 2L)
      gone.foreach(peelAt(_) = i.toLong)
      active = active -- gone
      und = und.filter { case (a, b) => active(a) && active(b) }
    }
    val cd = (und.map(_._1) ++ und.map(_._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val want = (0L until n).map { id =>
      (id, peelAt.getOrElse(id, 0L), if (active(id)) cd.getOrElse(id, 0L) else 0L)
    }.toSet
    assert(got == want)
    // the result must be non-trivial in both directions, and the
    // cascade must be DEEP — the chain structure peels one hop per
    // sweep, which is exactly what multi-sweep peeling is for
    assert(peelAt.nonEmpty, "nothing peeled")
    assert(active.nonEmpty, "2-core empty — peel rounds prove nothing")
    assert(peelAt.values.max >= 9L, s"cascade too shallow: ${peelAt.values.max}")
    // fixpoint within the sweep budget: nothing peeled in the final
    // sweep, so every survivor provably keeps >= k core neighbors
    assert(!peelAt.values.exists(_ == 12L), "not converged within 12 sweeps")
    active.foreach(id => assert(cd.getOrElse(id, 0L) >= 2L))
    // synthetic fixpoint: K5 clique + pendant chain — the true
    // 3-core is exactly the clique, reached well inside 8 sweeps
    val cliqueEdges = for (a <- 0L to 4L; b <- a + 1 to 4L) yield (a, b)
    val chain = Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val edf = spark.createDataFrame((cliqueEdges ++ chain)).toDF("a", "b")
    val ndf = spark.range(8).toDF("id")
    val byId = graft.operators.Graph.kcorePeel(ndf, edf, 3, 8).collect()
      .map(r => (r.getAs[Long]("id"),
        (r.getAs[Long]("peel_round"), r.getAs[Long]("core_deg")))).toMap
    (0L to 4L).foreach { id =>
      assert(byId(id) == (0L, 4L), s"clique node $id: ${byId(id)}")
    }
    (5L to 7L).foreach { id =>
      assert(byId(id)._1 > 0L && byId(id)._2 == 0L, s"chain node $id: ${byId(id)}")
    }
    assert(byId.size == 8)
  }

  test("g8: personalized ranks equal a sequential integer recompute; mass stays near seeds") {
    val got = graft.operators.Graph.g8(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("ppr_mass"),
        r.getAs[Long]("is_seed")))
    val n = Tables.customer(spark, sf).count()
    val s = 1000000000000L
    val edges = (0L until n).flatMap { id =>
      Seq((id, (id * 31 + 7) % n), (id, (id * 17 + 3) % n)) ++
        (if (id >= 2) Seq((id, id / 2)) else Seq.empty)
    }
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val seeds = (0L until n).filter(_ % 97 == 0)
    val base = (s * 15L / 100L) / seeds.size
    var r = (0L until n).map(id => if (id % 97 == 0) s / seeds.size else 0L).toArray
    (1 to 10).foreach { _ =>
      val in = Array.fill(n.toInt)(0L)
      edges.foreach { case (u, v) =>
        in(v.toInt) += ((r(u.toInt) * 85L) / 100L) / deg(u)
      }
      r = (0L until n).map(id =>
        (if (id % 97 == 0) base else 0L) + in(id.toInt)).toArray
    }
    got.foreach { case (id, mass, isSeed) =>
      assert(mass == r(id.toInt), s"node $id: $mass != ${r(id.toInt)}")
      assert(isSeed == (if (id % 97 == 0) 1L else 0L))
    }
    // personalization must bite: seeds hold far more than their
    // uniform share of the total surviving mass, and some non-seed
    // reachable from a seed has positive mass while distant nodes
    // hold zero
    val total = got.map(_._2).sum
    val seedMass = got.filter(_._3 == 1L).map(_._2).sum
    assert(seedMass * n > total * seeds.size * 5L,
      s"seeds not concentrated: $seedMass / $total")
    assert(got.exists(g => g._3 == 0L && g._2 > 0L))
    // and the non-seed mass must be strongly non-uniform: nodes near
    // a seed hold orders of magnitude more than the fringe (uniform
    // teleport — plain g1 — would keep the spread within ~one order)
    val nonSeed = got.filter(_._3 == 0L).map(_._2)
    assert(nonSeed.max > 20L * math.max(nonSeed.min, 1L),
      s"non-seed spread too flat: ${nonSeed.min}..${nonSeed.max}")
  }

  test("g9: BFS depths equal a sequential recompute and converge within budget") {
    val got = graft.operators.Graph.g9(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("depth"))).toMap
    val n = Tables.customer(spark, sf).count().toInt
    val adj = (0 until n).map { i =>
      Seq((i * 31 + 7) % n, (i * 17 + 3) % n) ++ (if (i >= 2) Seq(i / 2) else Seq.empty)
    }
    // textbook queue BFS from the seed set — a different algorithm
    // than the engine's synchronous relaxation
    val dist = Array.fill(n)(-1L)
    val q = scala.collection.mutable.Queue.empty[Int]
    (0 until n).filter(_ % 97 == 0).foreach { s => dist(s) = 0L; q.enqueue(s) }
    while (q.nonEmpty) {
      val u = q.dequeue()
      adj(u).foreach { v =>
        if (dist(v) == -1L) { dist(v) = dist(u) + 1L; q.enqueue(v) }
      }
    }
    assert(got.size == n)
    (0 until n).foreach { i =>
      assert(got(i.toLong) == dist(i), s"node $i: ${got(i.toLong)} != ${dist(i)}")
    }
    // convergence within the 10-round budget: a true BFS depth > 10
    // would make the snapshot diverge from the fixpoint — guard it
    assert(dist.max <= 10L, s"diameter outgrew the round budget: ${dist.max}")
    // the depth field must carry real signal: several distinct
    // levels, seeds at 0, and everyone reached on this graph
    assert(dist.distinct.length >= 4)
    assert(got.filter(_._1 % 97 == 0).values.forall(_ == 0L))
    assert(got.values.forall(_ >= 0L))
  }

  test("g16: the degree audit equals a sequential recompute and sees the octave hubs") {
    val got = graft.operators.Graph.g16(spark, sf).collect().head
    val n = Tables.customer(spark, sf).count().toInt
    def hp(x: Int): Int = Integer.highestOneBit(x)
    val indeg = Array.fill(n)(0L)
    (0 until n).foreach { i =>
      indeg((i * 31 + 7) % n) += 1
      indeg((i * 17 + 3) % n) += 1
      if (i >= 2) indeg(i / 2) += 1
      if (i >= 1) indeg(hp(i)) += 1
    }
    val hist = indeg.groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    val xy = hist.map(_._1).filter(_ >= 1L).map { d =>
      val nGe = hist.filter(_._1 >= d).map(_._2).sum
      (math.floor(math.log(d.toDouble) * 1e3 + 0.5).toLong,
        math.floor(math.log(nGe.toDouble) * 1e3 + 0.5).toLong)
    }
    val (np, sx, sy, sxy, sx2) = (xy.size.toLong, xy.map(_._1).sum, xy.map(_._2).sum,
      xy.map(p => p._1 * p._2).sum, xy.map(p => p._1 * p._1).sum)
    assert(got.getAs[Long]("n_points") == np)
    assert(got.getAs[Long]("max_deg") == indeg.max)
    assert(got.getAs[Long]("sum_xy") == sxy && got.getAs[Long]("sum_x2") == sx2)
    assert(got.getAs[Double]("powerlaw_slope") ==
      (np * sxy - sx * sy).toDouble / (np * sx2 - sx * sx).toDouble)
    // the octave hubs are real: the degree spectrum spans decades
    // (without the hub rule it collapses to {2,4} — 2 points)
    assert(np >= 8, s"degenerate spectrum: $np points")
    assert(indeg.max >= n / 4, s"no hub: max degree ${indeg.max}")
    // every power-of-two node is the hub of its octave
    (2 until 5).foreach { k =>
      val t = 1 << k
      assert(indeg(t) >= (1 << k), s"hub $t under-attached: ${indeg(t)}")
    }
    assert(got.getAs[Double]("powerlaw_slope") < -0.3)
  }

  test("g17: clustering coefficients equal a sequential neighbor-pair recompute") {
    val got = graft.operators.Graph.g17(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("deg"),
        r.getAs[Long]("tri_cnt"), r.getAs[Long]("lcc_micro"))).toSeq
    val n = Tables.customer(spark, sf).count().toInt
    // simple undirected adjacency
    val adj = Array.fill(n)(scala.collection.mutable.Set.empty[Int])
    def add(a: Int, b: Int): Unit = if (a != b) { adj(a) += b; adj(b) += a }
    (0 until n).foreach { i =>
      add(i, (i * 31 + 7) % n); add(i, (i * 17 + 3) % n)
      if (i >= 2) add(i, i / 2)
    }
    // direct definition: linked neighbor pairs / all neighbor pairs
    val want = (0 until n).filter(adj(_).size >= 2).map { v =>
      val nb = adj(v).toSeq.sorted
      var t = 0L
      for (i <- nb.indices; j <- (i + 1) until nb.size)
        if (adj(nb(i)).contains(nb(j))) t += 1
      val d = nb.size.toLong
      (v.toLong, d, t, t * 2000000L / (d * (d - 1)))
    }.sortBy(_._1)
    assert(got == want && got.nonEmpty)
    // laws: C in [0, 1e6]; zero-triangle nodes present (no drop bias);
    // and some genuine clustering exists
    got.foreach { g => assert(g._4 >= 0L && g._4 <= 1000000L) }
    assert(got.exists(_._3 == 0L) && got.exists(_._3 > 0L))
  }

  test("g18: SCC labels equal a sequential Tarjan recompute on the fixture") {
    val got = graft.operators.Graph.g18(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("scc"),
        r.getAs[Long]("scc_size"))).toSeq.sortBy(_._1)
    val n = Tables.customer(spark, sf).count().toInt
    val out = Array.fill(n)(List.empty[Int])
    (0 until n).foreach { i =>
      val c = i % 4; val j = i / 4; val m = (n - 1 - c) / 4 + 1
      out(i) ::= 4 * ((j * 31 + 7) % m) + c
      out(i) ::= 4 * ((j * 17 + 3) % m) + c
      if (j % 8 == 0 && c < 3 && i + 1 < n) out(i) ::= i + 1
    }
    // iterative Tarjan
    val idx = Array.fill(n)(-1); val low = new Array[Int](n)
    val onStk = Array.fill(n)(false); val comp = Array.fill(n)(-1)
    var counter = 0; var nComp = 0
    val stk = scala.collection.mutable.ArrayBuffer.empty[Int]
    (0 until n).foreach { s =>
      if (idx(s) == -1) {
        val work = scala.collection.mutable.ArrayBuffer((s, 0))
        while (work.nonEmpty) {
          val (v, pi) = work.last
          if (pi == 0) {
            idx(v) = counter; low(v) = counter; counter += 1
            stk += v; onStk(v) = true
          }
          val succ = out(v)
          var advanced = false
          var i = pi
          while (i < succ.length && !advanced) {
            val w = succ(i)
            if (idx(w) == -1) {
              work(work.length - 1) = (v, i + 1); work += ((w, 0)); advanced = true
            } else { if (onStk(w)) low(v) = math.min(low(v), idx(w)); i += 1 }
          }
          if (!advanced) {
            if (low(v) == idx(v)) {
              var w = -1
              while (w != v) {
                w = stk.remove(stk.length - 1); onStk(w) = false; comp(w) = nComp
              }
              nComp += 1
            }
            work.remove(work.length - 1)
            if (work.nonEmpty) {
              val (u, _) = work.last; low(u) = math.min(low(u), low(v))
            }
          }
        }
      }
    }
    val members = (0 until n).groupBy(comp)
    val minOf = members.map { case (c, ms) => c -> ms.min.toLong }
    val sizeOf = members.map { case (c, ms) => c -> ms.size.toLong }
    val want = (0 until n)
      .map(v => (v.toLong, minOf(comp(v)), sizeOf(comp(v)))).sortBy(_._1)
    assert(got == want && got.nonEmpty)
    // the fixture decomposes into exactly 4 quarter-size class SCCs
    // (min members 0..3 — all peel-1 pivots, so labels are true mins)
    assert(got.map(_._2).distinct.sorted == Seq(0L, 1L, 2L, 3L))
    assert(got.forall(_._3 >= n / 4 - 1))
    // snapshot converged: nothing left unassigned at the round budget
    assert(!got.exists(_._2 == -1L))
  }


  test("g23 leaves one persisted RDD behind: the checkpoint it returns") {
    val (out, left) = SharedSpark.leftPersisted {
      val g = graft.operators.Graph.g23(spark, sf)
      assert(g.count() > 0)
      g
    }
    assert(left.size == 1, s"g23 left persisted RDDs: ${left.keys}")
    graft.functions.Lineage.freeCheckpoint(out)
    assert(!spark.sparkContext.getPersistentRDDs.contains(left.keys.head))
  }

  test("g23: condensation DAG equals a sequential recompute and is a fixpoint") {
    val got = graft.operators.Graph.g23(spark, sf).collect()
      .map(r => (r.getAs[Long]("scc"), r.getAs[Long]("scc_size"),
        r.getAs[Long]("out_deg"), r.getAs[Long]("in_deg"),
        r.getAs[Long]("depth"))).toSeq.sortBy(_._1)
    // labels from the (independently Tarjan-mirrored) g18 output
    val lab = graft.operators.Graph.g18(spark, sf).collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[Long]("scc")).toMap
    val n = lab.size.toLong
    // fixture edges re-derived arithmetically (g18Fixture's formula)
    val edges = (0L until n).flatMap { i =>
      val cls = Seq((31L, 7L), (17L, 3L)).map { case (m, a) =>
        4 * (((i / 4) * m + a) % (((n - 1 - i % 4) / 4) + 1)) + i % 4
      }
      val chain = if ((i / 4) % 8 == 0 && i % 4 < 3 && i + 1 < n) Seq(i + 1) else Nil
      (cls ++ chain).map(d => (i, d))
    }
    val cel = edges.map { case (a, b) => (lab(a), lab(b)) }
      .filter(p => p._1 != p._2).distinct
    val sizes = lab.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    var depth = sizes.keys.map(_ -> 0L).toMap
    var changed = true
    while (changed) {
      changed = false
      cel.foreach { case (sa, sb) =>
        if (depth(sa) + 1 > depth(sb)) { depth += sb -> (depth(sa) + 1); changed = true }
      }
    }
    val want = sizes.keys.toSeq.sorted.map { s =>
      (s, sizes(s), cel.count(_._1 == s).toLong, cel.count(_._2 == s).toLong, depth(s))
    }
    assert(got == want && got.nonEmpty)
    // fixpoint (acyclicity made it converge): every DAG edge satisfies
    // depth(dst) >= depth(src) + 1 — one more round changes nothing
    cel.foreach { case (sa, sb) => assert(depth(sb) >= depth(sa) + 1) }
    // the fixture's condensation: a 4-SCC chain of depth 3
    assert(got.length == 4 && got.map(_._5).max == 3L)
    assert(got.count(_._4 == 0L) == 1 && got.count(_._3 == 0L) == 1,
      "chain must have exactly one source and one sink")
  }

  test("g18: known cycle + DAG tail + isolated node label correctly") {
    import spark.implicits._
    // 1→2→3→10, cycle 10→11→12→10, isolated 99
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L)
    val nodes = ids.toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 10L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("src", "dst")
    val got = graft.operators.Graph.sccLabels(nodes, edges, peels = 2,
        rounds = 6, pivots = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // chain nodes are singleton SCCs labeled themselves; the 3-cycle
    // collapses to its min member; the isolated node is its own SCC
    assert(got == Seq((1L, 1L), (2L, 2L), (3L, 3L),
      (10L, 10L), (11L, 10L), (12L, 10L), (99L, 99L)))
  }

  test("g18: more SCCs than one peel's pivot budget — peel 2 claims the rest") {
    import spark.implicits._
    // 40 isolated nodes = 40 singleton SCCs > 32 pivots/peel
    val nodes = (0L until 40L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val got = graft.operators.Graph.sccLabels(nodes, edges, peels = 2,
        rounds = 2, pivots = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == (0L until 40L).map(i => (i, i)))
    // and with ONE peel the tail stays unassigned (-1): the snapshot
    // contract, proving peel 2 is what claimed it above
    val one = graft.operators.Graph.sccLabels(nodes, edges, peels = 1,
        rounds = 2, pivots = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(one == ((0L until 32L).map(i => (i, i)) ++
      (32L until 40L).map(i => (i, -1L))))
  }

  test("g15: stress centrality equals a sequential Brandes recompute") {
    val got = graft.operators.Graph.g15(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("n_sources"),
        r.getAs[Long]("stress"))).toSeq.sortBy(_._1)
    val n = Tables.customer(spark, sf).count().toInt
    // the MULTISET adjacency (parallel edges count as distinct paths)
    val adj = (0 until n).map { i =>
      Seq((i * 31 + 7) % n, (i * 17 + 3) % n) ++ (if (i >= 2) Seq(i / 2) else Seq.empty)
    }
    val rounds = 8
    // per pivot: textbook level-synchronous BFS carrying sigma, then
    // the backward continuation recursion — independent of the
    // engine's join formulation
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    Seq(0, 1, 2, 3).foreach { s =>
      val d = Array.fill(n)(-1); val sg = Array.fill(n)(0L)
      d(s) = 0; sg(s) = 1L
      var frontier = Seq(s)
      (1 to rounds).foreach { r =>
        val next = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
        frontier.foreach(u => adj(u).foreach { v =>
          if (d(v) == -1 || d(v) == r) next(v) = next.getOrElse(v, 0L) + sg(u)
        })
        next.keys.foreach(v => d(v) = r)
        next.foreach { case (v, x) => sg(v) = x }
        frontier = next.keys.toSeq
      }
      val p = Array.fill(n)(0L)
      (rounds - 1 to 0 by -1).foreach { k =>
        (0 until n).filter(d(_) == k).foreach { v =>
          p(v) = adj(v).filter(w => d(w) == k + 1).map(w => 1L + p(w)).sum
        }
      }
      (0 until n).filter(v => d(v) > 0).foreach { v =>
        val (c, st) = acc.getOrElse(v.toLong, (0L, 0L))
        acc(v.toLong) = (c + 1L, st + sg(v) * p(v))
      }
    }
    val want = acc.toSeq.map { case (id, (c, st)) => (id, c, st) }.sortBy(_._1)
    assert(got == want && got.nonEmpty)
    // real signal: multiple sources converge on hub nodes and path
    // counts genuinely multiply (some sigma·P product exceeds any
    // single path count)
    assert(got.exists(_._2 >= 2L))
    assert(got.exists(_._3 > 100L))
  }

  test("g19: hash-pivot stress equals the sequential mirror; draws correlate") {
    val got = graft.operators.Graph.g19(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("n_sources"),
        r.getAs[Long]("stress"))).toSeq.sortBy(_._1)
    val n = Tables.customer(spark, sf).count().toInt
    // the hash draw mirrored: bottom-4 ids by 60-bit md5-prefix rank
    def hv(i: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(i.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val pivots = (0 until n).sortBy(i => (hv(i), i)).take(4)
    assert(pivots != Seq(0, 1, 2, 3), "hash draw must differ from the id draw")
    val adj = (0 until n).map { i =>
      Seq((i * 31 + 7) % n, (i * 17 + 3) % n) ++ (if (i >= 2) Seq(i / 2) else Seq.empty)
    }
    val rounds = 8
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    pivots.foreach { s =>
      val d = Array.fill(n)(-1); val sg = Array.fill(n)(0L)
      d(s) = 0; sg(s) = 1L
      var frontier = Seq(s)
      (1 to rounds).foreach { r =>
        val next = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
        frontier.foreach(u => adj(u).foreach { v =>
          if (d(v) == -1 || d(v) == r) next(v) = next.getOrElse(v, 0L) + sg(u)
        })
        next.keys.foreach(v => d(v) = r)
        next.foreach { case (v, x) => sg(v) = x }
        frontier = next.keys.toSeq
      }
      val p = Array.fill(n)(0L)
      (rounds - 1 to 0 by -1).foreach { k =>
        (0 until n).filter(d(_) == k).foreach { v =>
          p(v) = adj(v).filter(w => d(w) == k + 1).map(w => 1L + p(w)).sum
        }
      }
      (0 until n).filter(v => d(v) > 0).foreach { v =>
        val (c, st) = acc.getOrElse(v.toLong, (0L, 0L))
        acc(v.toLong) = (c + 1L, st + sg(v) * p(v))
      }
    }
    val want = acc.toSeq.map { case (id, (c, st)) => (id, c, st) }.sortBy(_._1)
    assert(got == want && got.nonEmpty)
    // draw-stability, measured honestly: the id draw (g15) and the
    // hash draw estimate with POSITIVE rank correlation, but the
    // top-10 sets are pivot-local at the bounded radius (see the
    // g19 Scaladoc) — both facts pinned so a regression in either
    // direction is visible
    val g15m = graft.operators.Graph.g15(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("stress"))).toMap
    val g19m = got.map(t => (t._1, t._3)).toMap
    val common = g15m.keySet.intersect(g19m.keySet).toSeq
    def rankOf(m: Map[Long, Long]) = common
      .sortBy(v => (-m(v), v)).zipWithIndex.toMap
    val (ra, rb) = (rankOf(g15m), rankOf(g19m))
    val nn = common.size.toDouble
    val rho = 1.0 - 6.0 * common.map(v => math.pow(ra(v) - rb(v), 2)).sum /
      (nn * (nn * nn - 1.0))
    assert(rho > 0.25, s"draws should correlate positively, rho=$rho")
    val topA = common.sortBy(v => (-g15m(v), v)).take(10).toSet
    val topB = common.sortBy(v => (-g19m(v), v)).take(10).toSet
    assert(topA.intersect(topB).size < 5,
      "top-10 agreement appeared - radius-truncation locality changed, update the Scaladoc")
  }

  test("g21: motif counts equal a brute-force directed-triangle census") {
    val got = graft.operators.Graph.g21(spark, sf).collect()
      .map(r => (r.getAs[String]("motif"), r.getAs[Long]("n"),
        r.getAs[Long]("paths"), r.getAs[Long]("closure_micro"))).toSeq
    val n = Tables.customer(spark, sf).count().toInt
    val e = (0 until n).flatMap { i =>
      Seq((i, (i * 31 + 7) % n), (i, (i * 17 + 3) % n)) ++
        (if (i >= 2) Seq((i, i / 2)) else Seq.empty)
    }.filter { case (a, b) => a != b }.distinct.toSet
    val out = e.groupBy(_._1).map { case (a, es) => a -> es.map(_._2).toSeq }
    var ffl = 0L; var cycOrdered = 0L; var paths = 0L
    for (a <- out.keys; b <- out.getOrElse(a, Seq.empty);
         c <- out.getOrElse(b, Seq.empty) if c != a && c != b && a != b) {
      paths += 1
      if (e((a, c))) ffl += 1
      if (e((c, a))) cycOrdered += 1
    }
    // every 3-cycle is seen once per rotation: exact divisibility
    assert(cycOrdered % 3 == 0L, s"rotation count not divisible by 3: $cycOrdered")
    val want = Seq(
      ("cycle", cycOrdered / 3, paths, (cycOrdered / 3) * 1000000L / paths),
      ("ffl", ffl, paths, ffl * 1000000L / paths))
    assert(got == want && got.nonEmpty)
    // both motif classes genuinely occur in the fixture
    assert(got.forall(_._2 > 0L))
  }

  test("g22: the 4-truss equals a sequential peel and recovers the planted cliques") {
    val got = graft.operators.Graph.g22(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("support"), r.getAs[Long]("in_truss"))).toSeq.sortBy(t => (t._1, t._2))
    val n = Tables.customer(spark, sf).count().toInt
    var e0 = scala.collection.mutable.Set.empty[(Long, Long)]
    (0 until n).foreach { i =>
      Seq((i * 31 + 7) % n, (i * 17 + 3) % n)
        .++(if (i >= 2) Seq(i / 2) else Seq.empty)
        .filter(_ != i)
        .foreach(d => e0 += ((math.min(i, d).toLong, math.max(i, d).toLong)))
    }
    val cliqueEdges = (0 until n / 8).filter(_ % 4 == 0).flatMap { blk =>
      val mem = (0 until 8).map(blk * 8 + _).filter(_ < n)
      for (x <- mem.indices; y <- (x + 1) until mem.size)
        yield (mem(x).toLong, mem(y).toLong)
    }.toSet
    e0 ++= cliqueEdges
    def supports(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
      es.foreach { case (a, b) => adj(a) = adj(a) + b; adj(b) = adj(b) + a }
      es.map(e => e -> (adj(e._1) & adj(e._2)).size.toLong).toMap
    }
    var cur = e0.toSet
    (1 to 4).foreach { _ =>
      val sup = supports(cur)
      cur = cur.filter(e => sup(e) >= 2L)
    }
    val fsup = supports(cur)
    val want = e0.toSeq.sorted.map { e =>
      if (cur(e)) (e._1, e._2, fsup(e), 1L) else (e._1, e._2, -1L, 0L)
    }
    assert(got == want && got.nonEmpty)
    // every planted clique edge survives (8-cliques give each edge
    // support 6 within the clique alone — well above k-2 = 2)
    cliqueEdges.foreach(e => assert(cur(e), s"clique edge $e peeled"))
    // fixpoint at the round budget: one more peel removes nothing
    assert(cur.forall(e => fsup(e) >= 2L), "snapshot not converged")
    // and peeling genuinely removed organic edges
    assert(got.exists(_._4 == 0L))
  }

  test("g20: bow-tie buckets equal a sequential BFS recompute on the fixture") {
    val got = graft.operators.Graph.g20(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[String]("part"),
        r.getAs[Long]("part_size"))).toSeq.sortBy(_._1)
    val n = Tables.customer(spark, sf).count().toInt
    val out = Array.fill(n)(List.empty[Int]); val rin = Array.fill(n)(List.empty[Int])
    (0 until n).foreach { i =>
      val c = i % 4; val j = i / 4; val m = (n - 1 - c) / 4 + 1
      Seq(4 * ((j * 31 + 7) % m) + c, 4 * ((j * 17 + 3) % m) + c)
        .foreach { d => out(i) ::= d; rin(d) ::= i }
      if (j % 8 == 0 && c < 3 && i + 1 < n) { out(i) ::= i + 1; rin(i + 1) ::= i }
    }
    def reach(adj: Array[List[Int]], s: Int): Set[Int] = {
      val seen = scala.collection.mutable.Set(s)
      val q = scala.collection.mutable.Queue(s)
      while (q.nonEmpty) {
        val v = q.dequeue()
        adj(v).foreach(w => if (!seen(w)) { seen += w; q += w })
      }
      seen.toSet
    }
    val f = reach(out, 2); val b = reach(rin, 2)
    val parts = (0 until n).map { v =>
      v.toLong -> (if (f(v) && b(v)) "scc" else if (b(v)) "in"
        else if (f(v)) "out" else "other")
    }.toMap
    val sizes = parts.values.groupBy(identity).map { case (p, vs) => p -> vs.size.toLong }
    val want = (0 until n).map(v => (v.toLong, parts(v.toLong), sizes(parts(v.toLong))))
    assert(got == want && got.nonEmpty)
    // the fixture's condensation chain 0→1→2→3 seeded at class 2:
    // in = classes 0+1, scc = class 2, out = class 3
    assert(got.forall { case (id, p, _) =>
      p == (if (id % 4 == 2) "scc" else if (id % 4 < 2) "in" else "out")
    })
  }

  test("g20: hand graph covers every bucket including tendrils") {
    import spark.implicits._
    // in-chain 1→10, core cycle 10→11→12→10, out-chain 12→20→21,
    // tendril 1→30 (hangs off IN, never reaches the core),
    // disconnected 99
    val ids = Seq(1L, 10L, 11L, 12L, 20L, 21L, 30L, 99L)
    val nodes = ids.toDF("id")
    val edges = Seq((1L, 10L), (10L, 11L), (11L, 12L), (12L, 10L),
      (12L, 20L), (20L, 21L), (1L, 30L)).toDF("src", "dst")
    val got = graft.operators.Graph.bowtieParts(nodes, edges, seed = 10L,
        rounds = 6)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "in"), (10L, "scc"), (11L, "scc"), (12L, "scc"),
      (20L, "out"), (21L, "out"), (30L, "other"), (99L, "other")))
  }

  test("g11: assortativity sums equal a sequential recompute") {
    val r = graft.operators.Graph.g11(spark, sf).collect().head
    val n = Tables.customer(spark, sf).count()
    val und = (0L until n).flatMap { id =>
      Seq((id, (id * 31 + 7) % n), (id, (id * 17 + 3) % n)) ++
        (if (id >= 2) Seq((id, id / 2)) else Seq.empty)
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val deg = (und.map(_._1) ++ und.map(_._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val ends = und ++ und.map(_.swap)
    val sx = ends.map(e => deg(e._1)).sum
    val sxy = ends.map(e => deg(e._1) * deg(e._2)).sum
    val sx2 = ends.map(e => deg(e._1) * deg(e._1)).sum
    assert(r.getAs[Long]("n_ends") == ends.size.toLong)
    assert(r.getAs[Long]("sum_x") == sx)
    assert(r.getAs[Long]("sum_xy") == sxy)
    assert(r.getAs[Long]("sum_x2") == sx2)
    val want = (ends.size * sxy - sx * sx).toDouble / (ends.size * sx2 - sx * sx)
    assert(r.getAs[Double]("assortativity") == want)
    // a near-random arithmetic graph must sit close to neutral
    // mixing — a strongly assortative answer would be a degree-join
    // bug, not a property of this graph
    assert(math.abs(want) < 0.5)
    assert(ends.size * sx2 - sx * sx > 0L, "degenerate degree variance")
  }

  test("g13: reciprocity equals a sequential recompute over the directed edge set") {
    val r = graft.operators.Graph.g13(spark, sf).collect().head
    val n = Tables.customer(spark, sf).count()
    val d = (0L until n).flatMap { id =>
      Seq((id, (id * 31 + 7) % n), (id, (id * 17 + 3) % n)) ++
        (if (id >= 2) Seq((id, id / 2)) else Seq.empty)
    }.filter { case (a, b) => a != b }.distinct
    val dset = d.toSet
    val recip = d.count { case (a, b) => dset.contains((b, a)) }
    assert(r.getAs[Long]("n_edges") == d.size.toLong)
    assert(r.getAs[Long]("n_reciprocated") == recip.toLong)
    assert(r.getAs[Double]("reciprocity") == recip.toDouble / d.size.toDouble)
    // an arithmetic near-random digraph sits far below full mutuality
    assert(r.getAs[Double]("reciprocity") >= 0.0 && r.getAs[Double]("reciprocity") < 0.5)
  }

  test("g12: link-prediction top-100 equals a sequential recompute; no candidate is an edge") {
    val got = graft.operators.Graph.g12(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("cn"),
        r.getAs[Long]("pa"), r.getAs[Long]("union_sz"), r.getAs[Double]("jaccard")))
    val n = Tables.customer(spark, sf).count()
    val und = (0L until n).flatMap { id =>
      Seq((id, (id * 31 + 7) % n), (id, (id * 17 + 3) % n)) ++
        (if (id >= 2) Seq((id, id / 2)) else Seq.empty)
    }.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val edgeSet = und.toSet
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.take(32)).toMap
    val deg = (und.map(_._1) ++ und.map(_._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val cn = scala.collection.mutable.Map.empty[(Long, Long), Long]
    nbrs.values.foreach { vs =>
      for (i <- vs.indices; j <- (i + 1) until vs.size)
        cn((vs(i), vs(j))) = cn.getOrElse((vs(i), vs(j)), 0L) + 1L
    }
    val want = cn.toSeq
      .filterNot { case (p, _) => edgeSet.contains(p) }
      .map { case ((a, b), c) =>
        val u = deg(a) + deg(b) - c
        (a, b, c, deg(a) * deg(b), u, c.toDouble / u.toDouble)
      }
      .sortBy { case (a, b, c, pa, _, _) => (-c, -pa, a, b) }
      .take(100)
    assert(got.toSeq == want)
    // predicted pairs must never be existing edges
    assert(got.forall { case (a, b, _, _, _, _) => !edgeSet.contains((a, b)) })
  }

  test("e16: dispersion equals a sequential gap recompute; constant streams score 0") {
    val got = graft.operators.EventWindows.e16(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"),
        (r.getAs[Long]("n_gaps"), r.getAs[Long]("sum_gap"),
         r.getAs[Long]("sum_gap2"), r.getAs[Double]("dispersion")))).toMap
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "unix_micros(ts) div 1000000 AS s")
      .as[(Long, Long, Long)].collect()
    val want = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val ss = rows.sortBy(r => (r._3, r._2)).map(_._3)
      val gaps = ss.sliding(2).collect { case Array(a, b) => b - a }.toSeq
      val (n, sg, sg2) = (gaps.size.toLong, gaps.sum, gaps.map(g => g * g).sum)
      if (n >= 5 && sg > 0)
        Some(u -> ((n, sg, sg2, (n * sg2 - sg * sg).toDouble / (n * sg).toDouble)))
      else None
    }
    assert(got == want)
    assert(got.nonEmpty)
    // the index of dispersion is non-negative (n·Σg² ≥ (Σg)² by
    // Cauchy-Schwarz) and a perfectly regular stream scores exactly 0
    got.values.foreach { case (_, _, _, d) => assert(d >= 0.0) }
    // the metric discriminates across users
    assert(got.values.map(_._4).toSeq.distinct.size > 10)
  }

  test("e17: seasonality indexes equal a sequential recompute; shares sum to the whole") {
    val got = graft.operators.EventWindows.e17(spark, sf).collect()
      .map(r => (r.getAs[Long]("hod"), r.getAs[Long]("n_events"), r.getAs[Long]("cents"),
        r.getAs[Long]("traffic_index_micro"), r.getAs[Long]("value_index_micro")))
    val ev = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts) AS tus", "value").collect()
      .map(r => ((r.getAs[Long]("tus") / 3600000000L) % 24,
        math.floor(r.getAs[Double]("value") * 1e2 + 0.5).toLong))
    val byH = ev.groupBy(_._1).view.mapValues(rs => (rs.length.toLong, rs.map(_._2).sum)).toMap
    val (totN, totC) = (ev.length.toLong, ev.map(_._2).sum)
    val want = byH.toSeq.sortBy(_._1).map { case (h, (n, c)) =>
      (h, n, c, n * 24 * 1000000L / totN, c * 24 * 1000000L / totC)
    }
    assert(got.toSeq == want)
    // conservation: hourly masses add back to the corpus totals, and
    // the traffic index averages to ~1e6 (each hour's share vs 1/24)
    assert(got.map(_._2).sum == totN && got.map(_._3).sum == totC)
    val meanIdx = got.map(_._4).sum / got.length
    assert(math.abs(meanIdx - 1000000L) < 1000, s"mean index $meanIdx")
  }

  test("e15: RFM sketch scores equal a sequential recompute and honor the rank guarantee") {
    val got = EventWindows.e15(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("recency_days"),
        r.getAs[Long]("freq"), r.getAs[Long]("cents"),
        r.getAs[Long]("r_score"), r.getAs[Long]("f_score"),
        r.getAs[Long]("m_score"), r.getAs[String]("segment")))
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "event_type",
        "CAST(datediff(CAST(ts AS DATE), DATE '2023-12-31') AS BIGINT) AS day",
        "CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents")
      .as[(Long, String, Long, Long)].collect()
    val maxDay = ev.map(_._3).max
    val users = ev.filter(_._2 == "purchase").groupBy(_._1).map { case (u, rows) =>
      (u, maxDay - rows.map(_._3).max, rows.size.toLong, rows.map(_._4).sum)
    }.toSeq
    // the sketch construction, sequentially: 256-cell equi-width
    // buckets, permille threshold buckets, strict-exceed scoring
    def width(mx: Long): Long = math.max(0L, mx) / 256 + 1
    def bucket(v: Long, w: Long): Long = math.min(255L, math.max(0L, v) / w)
    def thresholds(bs: Seq[Long]): Seq[Long] = {
      val hist = bs.groupBy(identity).view.mapValues(_.size.toLong)
        .toSeq.sortBy(_._1)
      val tot = bs.size.toLong
      Seq(200L, 400L, 600L, 800L).map { q =>
        var cum = 0L
        hist.find { case (_, c) => cum += c; cum * 1000 >= q * tot }.get._1
      }
    }
    val (wr, wf, wm) = (width(users.map(_._2).max),
      width(users.map(_._3).max), width(users.map(_._4).max))
    val (rB, fB, mB) = (users.map(u => bucket(u._2, wr)),
      users.map(u => bucket(u._3, wf)), users.map(u => bucket(u._4, wm)))
    val (rT, fT, mT) = (thresholds(rB), thresholds(fB), thresholds(mB))
    val want = users.map { case (u, r, f, m) =>
      val rs = 5L - rT.count(bucket(r, wr) > _)
      val fs = 1L + fT.count(bucket(f, wf) > _)
      val ms = 1L + mT.count(bucket(m, wm) > _)
      val seg =
        if (rs >= 4 && fs >= 4 && ms >= 4) "champion"
        else if (fs >= 4) "loyal"
        else if (ms >= 4) "big_spender"
        else if (rs <= 2 && fs >= 3) "at_risk"
        else if (rs == 1 && fs <= 2) "lost"
        else "other"
      (u, r, f, m, rs, fs, ms, seg)
    }.sortBy(_._1)
    assert(got.toSeq == want)
    // one-bucket rank guarantee (HistQ's contract): at least q
    // permille of users sit at or below the level the q threshold
    // defines, on every axis (recency inverted: fresh users score high)
    val n = got.length.toLong
    for (i <- 0 until 4) {
      val q = 200L * (i + 1)
      assert(got.count(_._6 <= i + 1) * 1000L >= q * n, s"f axis q=$q")
      assert(got.count(_._7 <= i + 1) * 1000L >= q * n, s"m axis q=$q")
      assert(got.count(_._5 >= 5 - i) * 1000L >= q * n, s"r axis q=$q")
    }
    // scores stay in [1, 5] and are monotone in the underlying metric
    Seq(got.map(_._5), got.map(_._6), got.map(_._7)).foreach { scores =>
      assert(scores.forall(s => s >= 1 && s <= 5))
    }
    val byFreq = got.sortBy(_._3).map(_._6)
    assert(byFreq.zip(byFreq.tail).forall { case (a, b) => a <= b },
      "f_score must be monotone in freq")
    assert(got.map(_._8).distinct.length >= 2, "segmentation degenerate")
  }

  test("g10: HyperBall equals a sequential register recompute; estimates track true balls") {
    val got = graft.operators.Graph.g10(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"),
        (r.getAs[Long]("b1"), r.getAs[Long]("b2"), r.getAs[Long]("b3"),
          r.getAs[Long]("harmonic_micro")))).toMap
    val n = Tables.customer(spark, sf).count().toInt
    val edges = (0 until n).flatMap { i =>
      Seq((i, (i * 31 + 7) % n), (i, (i * 17 + 3) % n)) ++
        (if (i >= 2) Seq((i, i / 2)) else Seq.empty)
    }.distinct
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val m = 64; val maxRank = 55
    def hv(id: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15), 16)
    }
    def est(regs: Map[Int, Int]): Long = {
      val vz = m - regs.size
      val sSum = regs.values.map(r => 1L << (maxRank - r)).sum +
        vz.toLong * (1L << maxRank)
      val raw = ((BigInt(709000) * BigInt(2).pow(67)) /
        (BigInt(sSum) * 1000000)).toLong
      if (raw * 2 <= 5L * m && vz > 0)
        (m * math.floor(math.log(m.toDouble / vz) * 1e9 + 0.5).toLong) / 1000000000L
      else raw
    }
    var st = (0 until n).map { i =>
      val h = hv(i); val w = h / m
      Map((h % m).toInt ->
        (if (w == 0) maxRank else maxRank - java.lang.Long.toBinaryString(w).length))
    }.toArray
    var ball = (0 until n).map(Set(_)).toArray
    val ests = scala.collection.mutable.ArrayBuffer(Array.fill(n)(1L))
    val balls = scala.collection.mutable.ArrayBuffer(ball.map(_.size))
    (1 to 3).foreach { _ =>
      val nst = st.map(identity)
      val nb = ball.map(identity)
      (0 until n).foreach { v =>
        out.getOrElse(v, Seq.empty).foreach { w =>
          nst(v) = (nst(v).keySet ++ st(w).keySet).map { k =>
            k -> math.max(nst(v).getOrElse(k, 0), st(w).getOrElse(k, 0))
          }.toMap
          nb(v) = nb(v) ++ ball(w)
        }
      }
      st = nst; ball = nb
      ests += st.map(est)
      balls += ball.map(_.size)
    }
    (0 until n).foreach { i =>
      val harm = (1 to 3).map(r =>
        (math.max(ests(r)(i) - ests(r - 1)(i), 0L) * 1000000L) / r).sum
      assert(got(i.toLong) == ((ests(1)(i), ests(2)(i), ests(3)(i), harm)),
        s"node $i: ${got(i.toLong)}")
    }
    // the sketch must TRACK the truth: mean |est-true| within the
    // m=64 error regime, and the max excursion bounded
    val errs = (0 until n).map(i =>
      math.abs(ests(3)(i) - balls(3)(i)) * 1000 / math.max(balls(3)(i), 1))
    assert(errs.sum / n <= 150, s"mean err ${errs.sum / n} permille")
    assert(errs.max <= 450, s"max err ${errs.max} permille")
    // registers only grow: b is non-decreasing per node pre-clamp in
    // the raw branch; post-correction the harmonic clamp guards it —
    // assert the emitted harmonic is non-negative and positive overall
    assert(got.values.forall(_._4 >= 0L) && got.values.exists(_._4 > 0L))
  }

  test("t29: trigram NB language ID equals a sequential recompute; unseen test words route correctly") {
    import graft.operators.TextStats
    val got = TextStats.t29(spark, sf).collect()
      .map(r => ((r.getAs[String]("lang"), r.getAs[String]("predicted")),
        (r.getAs[Long]("n_docs"), r.getAs[Long]("class_total"),
          r.getAs[Long]("share_permille")))).toMap
    val train = TextStats.t29TrainWords.toMap
    val test = TextStats.t29TestWords.toMap
    // the generalization premise: NO eval word was seen in training,
    // so marker lookup scores the eval third zero by construction
    train.foreach { case (l, ws) =>
      assert(ws.toSet.intersect(test(l).toSet).isEmpty, s"$l leaks")
    }
    val langs = Seq("en", "de", "es", "fr", "zh")
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "lang", "text")
      .as[(Long, String, String)].collect()
    def seeded(id: Long, lang: String, text: String): String =
      if (id % 3 == 1) text + " " + Seq.fill(TextStats.t29Reps)(train(lang)).flatten.mkString(" ")
      else if (id % 3 == 0) text + " " + Seq.fill(TextStats.t29Reps)(test(lang)).flatten.mkString(" ")
      else text
    def tris(text: String): Seq[String] =
      text.trim.toLowerCase.split(" ").toSeq.filter(_.nonEmpty).flatMap { w =>
        val p = "_" + w + "_"
        (0 to p.length - 3).map(i => p.substring(i, i + 3))
      }
    // profiles train on the DISTINCT per-class seed supervision
    // (see t29TrainSeedExpr / the NB balance-correction note)
    val trainTris = docs.filter(_._1 % 3 == 1).map(_._2).distinct
      .flatMap { l =>
        tris(Seq.fill(TextStats.t29Reps)(train(l)).flatten.mkString(" ")).map(g => (l, g)) }
    val cnt = trainTris.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tot = trainTris.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val v = trainTris.map(_._2).distinct.size.toDouble
    def lp9(l: String, g: String): Long =
      math.floor(math.log((cnt.getOrElse((l, g), 0L) + 1).toDouble /
        (tot(l) + v)) * 1e9 + 0.5).toLong
    val preds = docs.map { case (id, l, t) =>
      val c = tris(seeded(id, l, t)).groupBy(identity).view.mapValues(_.size.toLong)
      val scores = langs.map(lg => lg -> c.map { case (g, n) => n * lp9(lg, g) }.sum)
      (id, l, scores.maxBy(_._2)._1) // maxBy keeps the FIRST max = the argmax ladder
    }
    val cells = preds.groupBy(p => (p._2, p._3)).view.mapValues(_.size.toLong).toMap
    val classTot = preds.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val want = cells.map { case ((l, p), n) =>
      ((l, p), (n, classTot(l), n * 1000 / classTot(l)))
    }
    assert(got == want.toMap && got.nonEmpty)
    // generalization proved: in the eval third every language's docs
    // majority-route to their true label through trigrams of words
    // the classifier never saw
    langs.foreach { lg =>
      val ev = preds.filter(p => p._1 % 3 == 0 && p._2 == lg)
      val hit = ev.count(_._3 == lg)
      assert(ev.isEmpty || hit * 2 > ev.length, s"$lg eval: $hit/${ev.length}")
    }
  }

  test("dq3: Benford audit equals a sequential recompute and flags the synthetic amounts") {
    import graft.operators.Quality
    val got = Quality.dq3(spark, sf).collect()
      .map(r => ((r.getAs[String]("col_name"), r.getAs[Long]("digit")),
        (r.getAs[Long]("n"), r.getAs[Long]("share_micro"),
          r.getAs[Long]("benford_micro"), r.getAs[Long]("dev_micro")))).toMap
    val benford = (1 to 9).map(d =>
      d.toLong -> math.floor(math.log10(1.0 + 1.0 / d) * 1e6).toLong).toMap
    // Benford shares are a probability distribution (floor slack < 9 micro)
    assert(math.abs(benford.values.sum - 1000000L) < 9L)
    def digits(vals: Seq[Double]): Map[Long, Long] =
      vals.filter(_ > 0)
        .map(v => math.floor(v * 100 + 0.5).toLong.toString.head.toString.toLong)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val li = Tables.lineitem(spark, sf)
      .selectExpr("l_extendedprice", "CAST(l_quantity AS DOUBLE) AS q")
      .as[(Double, Double)].collect()
    val ord = Tables.orders(spark, sf).selectExpr("o_totalprice")
      .as[Double].collect()
    val cols = Seq(
      "l_extendedprice" -> digits(li.map(_._1).toSeq),
      "l_quantity" -> digits(li.map(_._2).toSeq),
      "o_totalprice" -> digits(ord.toSeq))
    val want = cols.flatMap { case (cn, dm) =>
      val tot = dm.values.sum
      dm.toSeq.map { case (d, n) =>
        val share = n * 1000000L / tot
        val b = benford.getOrElse(d, 0L)
        ((cn, d), (n, share, b, math.abs(share - b)))
      }
    }.toMap
    assert(got == want && got.nonEmpty)
    // the detection: every synthetic amount column deviates far
    // beyond the natural-data band (~2pp) - the audit correctly
    // flags the fixture as machine-generated amounts
    cols.foreach { case (cn, _) =>
      val maxDev = got.collect { case ((c, _), v) if c == cn => v._4 }.max
      assert(maxDev > 20000L, s"$cn looks Benford - fixture changed?")
    }
  }

  test("g14: the neighborhood function is exactly the aggregate of g10's balls") {
    val balls = graft.operators.Graph.g10(spark, sf).collect()
      .map(r => (r.getAs[Long]("b1"), r.getAs[Long]("b2"), r.getAs[Long]("b3")))
    val n = balls.length.toLong
    val (s1, s2, s3) = (balls.map(_._1).sum, balls.map(_._2).sum, balls.map(_._3).sum)
    val want = Seq(
      (0L, n, n, n * 1000 / (n * n)),
      (1L, s1, s1 - n, s1 * 1000 / (n * n)),
      (2L, s2, s2 - s1, s2 * 1000 / (n * n)),
      (3L, s3, s3 - s2, s3 * 1000 / (n * n)))
    val got = graft.operators.Graph.g14(spark, sf).collect()
      .map(r => (r.getAs[Long]("r"), r.getAs[Long]("nf"),
        r.getAs[Long]("growth"), r.getAs[Long]("coverage_permille"))).toSeq
    assert(got == want)
    // the curve is a distance profile: monotone, anchored at the
    // self-balls, still growing at the horizon (the fixture graph's
    // effective diameter exceeds 3 rounds)
    assert(got.head._2 == n)
    assert(got.sliding(2).forall { case Seq(a, b) => b._2 >= a._2 })
    assert(got.last._3 > 0, "balls saturated - fixture graph changed?")
  }

  test("t30: perplexity tiers equal a sequential recompute and honor the rank guarantee") {
    import graft.operators.TextStats
    val got = TextStats.t30(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("nll9"), r.getAs[String]("tier")))
    // sequential mirror: corpus bigram LM, add-one lp9, exact nll,
    // 256-cell histogram, 333/667-permille thresholds, tier ladder
    val docs = Tables.documents(spark, sf).selectExpr("doc_id", "lower(trim(text)) AS t")
      .as[(Long, String)].collect()
    val bigrams = docs.flatMap { case (id, t) =>
      val ws = t.split(" ").toSeq
      if (ws.length >= 2) ws.sliding(2).map(p => (id, p.head, p.last)).toSeq else Seq.empty
    }
    val c12 = bigrams.groupBy(b => (b._2, b._3)).view.mapValues(_.size.toLong).toMap
    val c1 = bigrams.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val v = (bigrams.map(_._2) ++ bigrams.map(_._3)).distinct.size.toDouble
    def lp9(w1: String, w2: String): Long =
      math.floor(math.log((c12((w1, w2)) + 1).toDouble / (c1(w1) + v)) * 1e9 + 0.5).toLong
    val nll = bigrams.groupBy(_._1).map { case (id, bs) =>
      val s = bs.map(b => lp9(b._2, b._3)).sum
      (id, bs.size.toLong, (-s) / bs.size)
    }.toSeq
    val w = math.max(0L, nll.map(_._3).max) / 256 + 1
    def bkt(x: Long): Long = math.min(255L, x / w)
    val hist = nll.map(n => bkt(n._3)).groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    val tot = nll.size.toLong
    val ths = Seq(333L, 667L).map { q =>
      var cum = 0L
      hist.find { case (_, c) => cum += c; cum * 1000 >= q * tot }.get._1
    }
    val want = nll.map { case (id, n, x) =>
      val tier = 1 + ths.count(bkt(x) > _) match {
        case 1 => "head"; case 2 => "middle"; case _ => "tail"
      }
      (id, n, x, tier)
    }.sortBy(_._1)
    assert(got.toSeq == want && got.nonEmpty)
    // HistQ's one-sided rank guarantee: at least 333 permille of docs
    // are head, at least 667 permille head-or-middle
    assert(got.count(_._4 == "head") * 1000L >= 333L * tot)
    assert(got.count(_._4 != "tail") * 1000L >= 667L * tot)
    // tiers are monotone in nll: no head doc is less fluent than a tail doc
    val maxHead = got.filter(_._4 == "head").map(_._3).max
    val minTail = got.filter(_._4 == "tail").map(_._3).min
    assert(maxHead <= minTail)
  }

  test("dq8: merkle-bucket reconciliation localizes exactly the planted divergence; a clean pair reconciles empty") {
    val Q = graft.operators.Quality
    val rows = Q.dq8(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_primary"),
        r.getAs[Long]("n_replica"), r.getAs[Long]("n_missing"),
        r.getAs[Long]("n_extra"), r.getAs[Long]("n_corrupt")))
    assert(rows.nonEmpty)
    // class totals equal the planted arithmetic exactly (key 0 is
    // missing-first: a dropped row can't also be corrupt)
    val keys = Tables.orders(spark, sf).selectExpr("o_orderkey")
      .collect().map(_.getLong(0))
    assert(rows.map(_._4).sum == keys.count(_ % 997 == 0), "missing")
    assert(rows.map(_._6).sum ==
      keys.count(k => k % 1009 == 0 && k % 997 != 0), "corrupt")
    assert(rows.map(_._5).sum == keys.count(_ % 1013 == 0), "extra")
    // every mismatched bucket's count delta reconciles with its
    // classes, and no bucket surfaces without a real defect
    rows.foreach { case (_, np, nr, m, e, c) =>
      assert(nr - np == e - m)
      assert(m + e + c > 0)
    }
    // localization: the divergence is permille-scale, so only a
    // small fraction of buckets drill — the merkle claim itself
    assert(rows.length.toLong < Q.dq8Buckets / 4,
      s"${rows.length} of ${Q.dq8Buckets} buckets mismatched — digests not localizing")
    // a CLEAN pair reconciles to an EMPTY report (two scans, a
    // 4096-row digest compare, zero row-grain work)
    val p = Tables.orders(spark, sf).selectExpr("o_orderkey",
      "o_custkey", "o_orderstatus", "o_orderpriority")
    assert(Q.reconcile(p, p).isEmpty, "clean replica pair must reconcile empty")
  }

  test("dq9: repair emits exactly the planted corrections, the applied repair digests clean, and a clean pair needs none") {
    val Q = graft.operators.Quality
    val rows = Q.dq9(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("k"),
        r.getAs[String]("action"), r.getAs[Long]("residual_buckets")))
    assert(rows.nonEmpty)
    // the action sets are exactly the planted arithmetic (key 0
    // missing-first — a dropped row can't also be corrupt)
    val keys = Tables.orders(spark, sf).selectExpr("o_orderkey")
      .collect().map(_.getLong(0)).toSet
    val expMissing = keys.filter(_ % 997 == 0)
    val expCorrupt = keys.filter(k => k % 1009 == 0 && k % 997 != 0)
    val expExtra = keys.filter(_ % 1013 == 0).map(_ + 100000000L)
    def of(a: String) = rows.filter(_._3 == a).map(_._2).toSet
    assert(of("insert_missing") == expMissing)
    assert(of("overwrite_corrupt") == expCorrupt)
    assert(of("delete_extra") == expExtra)
    assert(rows.map(_._3).toSet ==
      Set("insert_missing", "overwrite_corrupt", "delete_extra"))
    // every correction's bucket is its key's bucket, and the PROOF
    // column reads 0 on every row: the applied repair's digests
    // match the primary's in every bucket, computed not asserted
    rows.foreach { case (b, k, _, resid) =>
      assert(b == k % Q.dq8Buckets)
      assert(resid == 0L, "post-repair digests must match everywhere")
    }
    // a clean pair needs no corrections (and trivially digests clean)
    val p = Tables.orders(spark, sf).selectExpr("o_orderkey",
      "o_custkey", "o_orderstatus", "o_orderpriority")
    assert(Q.reconcile(p, p).isEmpty)
  }

  test("dq10: write-back heals the persisted store — corrections match dq9, both proofs read 0, the rewrite is partition-scoped, a second pass is a no-op, a torn publish never serves") {
    val Q = graft.operators.Quality
    // the query's own contract: dq9's corrections with both
    // persisted-state proofs at 0
    val rows = Q.dq10(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("k"),
        r.getAs[String]("action"), r.getAs[Long]("residual_buckets"),
        r.getAs[Long]("rerun_corrections")))
    assert(rows.nonEmpty)
    val dq9 = Q.dq9(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("k"),
        r.getAs[String]("action")))
    assert(rows.map(t => (t._1, t._2, t._3)).toSeq.sorted ==
      dq9.toSeq.sorted, "write-back corrections must be dq9's")
    assert(rows.forall(t => t._4 == 0L && t._5 == 0L),
      "both persisted-state proofs must read 0")
    // drive the store kernels directly for the structural pins
    val p = Tables.orders(spark, sf).selectExpr("o_orderkey",
      "o_custkey", "o_orderstatus", "o_orderpriority")
    val rootF = new java.io.File(graft.store.Versioned.tempRoot("graft_dq10spec_"))
    val root = rootF.getAbsolutePath
    Q.seedReplicaStore(p, root)
    val n1 = Q.repairPass(spark, root, p)
    assert(n1 == dq9.length.toLong, "pass 1 must heal every correction")
    assert(Q.latestStoreVersion(root).contains(2))
    // WRITE AMPLIFICATION: v2 rewrote exactly the damaged partition
    // groups — strictly fewer than the store's partitions — and the
    // manifest re-points only those
    val damaged = dq9.map(t => t._1 % Q.dq10Parts).toSet
    val v2pgs = Option(new java.io.File(root, "v2/data").listFiles())
      .toSeq.flatten.filter(_.getName.startsWith("pg="))
      .map(_.getName.drop(3).toLong).toSet
    assert(v2pgs == damaged, "v2 must hold exactly the damaged partitions")
    assert(damaged.size < Q.dq10Parts,
      "fixture must leave untouched partitions (write-amp pin)")
    val (_, map2) = Q.readStoreManifest(root)
    assert(map2.filter(_._2 == 2).keySet == damaged &&
      map2.filter(_._2 == 1).keySet == ((0L until Q.dq10Parts).toSet -- damaged),
      "manifest must re-point damaged partitions and only those")
    // the HEALED STORE equals the primary, row for row, read from disk
    val healed = Q.readReplicaStore(spark, root).drop("pg").collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(healed.toSeq == p.collect().map(_.toSeq).sortBy(_.toString).toSeq,
      "healed store must equal the primary")
    // IDEMPOTENCE: a second pass derives zero corrections and
    // publishes NOTHING (the store is untouched)
    assert(Q.repairPass(spark, root, p) == 0L)
    assert(Q.latestStoreVersion(root).contains(2),
      "a clean pass must not publish")
    // TORN-WRITE REFUSAL: data landed without a manifest is
    // invisible — the reader keeps serving v2
    p.limit(3).selectExpr("*", "CAST(0 AS BIGINT) AS pg")
      .write.parquet(s"$root/v3/data")
    assert(Q.latestStoreVersion(root).contains(2))
    assert(Q.readReplicaStore(spark, root).drop("pg").count() == p.count(),
      "a torn publish must never serve")
    // A REPAIR THAT EMPTIES A PARTITION is a legal store state: the
    // replica's only divergence is an extra row in a bucket the
    // primary never populates — the heal deletes it, the published
    // version's data directory holds NO files, and the
    // schema-explicit reader must keep serving (regression: schema
    // inference on the fileless version used to throw)
    import spark.implicits._
    val p0 = Seq((5L, 10L, "O", "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    val extra = p0.unionByName(Seq((7L, 11L, "F", "2-HIGH"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    val root2F = new java.io.File(graft.store.Versioned.tempRoot("graft_dq10spec2_"))
    val root2 = root2F.getAbsolutePath
    Q.seedStoreFrom(extra, root2)
    assert(Q.repairPass(spark, root2, p0) == 1L)
    val healed2 = Q.readReplicaStore(spark, root2).drop("pg").collect()
      .map(_.toSeq).toSeq
    assert(healed2 == p0.collect().map(_.toSeq).toSeq,
      "the emptied-partition store must keep serving the healed rows")
    assert(Q.repairPass(spark, root2, p0) == 0L, "and stay idempotent")
  }

  test("dq11: quorum vote repairs each minority replica from the majority, never the primary except on a planted tie; residual reads 0") {
    val Q = graft.operators.Quality
    val rows = Q.dq11(spark, sf).collect()
      .map(r => (r.getAs[String]("replica"), r.getAs[Long]("bucket"),
        r.getAs[Long]("k"), r.getAs[String]("action"),
        r.getAs[String]("source"), r.getAs[Long]("residual_buckets")))
    assert(rows.nonEmpty)
    // every replica's planted defect class surfaces, keyed exactly
    val keys = Tables.orders(spark, sf).selectExpr("o_orderkey")
      .collect().map(_.getLong(0)).toSet
    def of(rep: String, a: String) =
      rows.filter(t => t._1 == rep && t._4 == a).map(_._3).toSet
    assert(of("r1", "insert_missing") == keys.filter(_ % 997 == 0))
    assert(of("r2", "overwrite_corrupt") == keys.filter(_ % 1009 == 0))
    assert(of("r3", "delete_extra") ==
      keys.filter(_ % 1013 == 0).map(_ + 100000000L))
    // majority sourcing: r1 heals from r2, r2/r3 from r1 — the
    // primary appears only where defect classes collide in a bucket
    // (the tie); and in the tie bucket EVERY diverging replica is
    // primary-sourced
    val tied = rows.filter(_._5 == "primary").map(_._2).toSet
    rows.foreach { t =>
      if (tied.contains(t._2)) assert(t._5 == "primary")
      else t._1 match {
        case "r1" => assert(t._5 == "r2")
        case "r2" | "r3" => assert(t._5 == "r1")
      }
    }
    // the proof column reads 0 everywhere: every repaired replica's
    // digests match the voted reference's
    assert(rows.forall(_._6 == 0L))
    // the tie arm, pinned on a synthetic fixture: bucket 1 holds a
    // missing key in ra, a corrupt key in rb, an extra key in rc —
    // all three digests differ, no majority, primary arbitrates
    import spark.implicits._
    val base = Seq((1L, 10L, "O", "1-URGENT"), (4097L, 11L, "F", "2-HIGH"),
      (8193L, 12L, "P", "3-MEDIUM"), (2L, 13L, "O", "4-NOT SPECIFIED"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    val ra = base.filter("o_orderkey <> 1")                 // missing k=1
    val rb = base.selectExpr("o_orderkey", "o_custkey",
      "CASE WHEN o_orderkey = 4097 THEN 'X' ELSE o_orderstatus END AS o_orderstatus",
      "o_orderpriority")                                    // corrupt k=4097
    val rc = base.unionByName(Seq((12289L, 14L, "O", "5-LOW"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    val got = Q.quorumRepair(base, Seq("r1" -> ra, "r2" -> rb, "r3" -> rc))
      .collect().map(r => (r.getAs[String]("replica"), r.getAs[Long]("k"),
        r.getAs[String]("action"), r.getAs[String]("source"),
        r.getAs[Long]("residual_buckets")))
    assert(got.toSet == Set(
      ("r1", 1L, "insert_missing", "primary", 0L),
      ("r2", 4097L, "overwrite_corrupt", "primary", 0L),
      ("r3", 12289L, "delete_extra", "primary", 0L)),
      s"tie bucket must be primary-arbitrated, got ${got.toSet}")
  }

  test("dq12: quorum write-back heals all three stores from the majority, proofs read from disk, a second pass publishes nothing") {
    val Q = graft.operators.Quality
    val rows = Q.dq12(spark, sf).collect()
      .map(r => (r.getAs[String]("replica"), r.getAs[Long]("bucket"),
        r.getAs[Long]("k"), r.getAs[String]("action"),
        r.getAs[String]("source"), r.getAs[Long]("residual_buckets"),
        r.getAs[Long]("rerun_corrections")))
    assert(rows.nonEmpty)
    // the persisted logs carry exactly dq11's corrections, and both
    // persisted-state proofs read 0
    val dq11 = Q.dq11(spark, sf).collect()
      .map(r => (r.getAs[String]("replica"), r.getAs[Long]("bucket"),
        r.getAs[Long]("k"), r.getAs[String]("action"),
        r.getAs[String]("source")))
    assert(rows.map(t => (t._1, t._2, t._3, t._4, t._5)).toSeq.sorted ==
      dq11.toSeq.sorted, "write-back logs must be dq11's corrections")
    assert(rows.forall(t => t._6 == 0L && t._7 == 0L))
    // kernel drive for the structural pins
    val p = Tables.orders(spark, sf).selectExpr("o_orderkey",
      "o_custkey", "o_orderstatus", "o_orderpriority")
    val base = new java.io.File(graft.store.Versioned.tempRoot("graft_dq12spec_"))
    val roots = Seq("r1", "r2", "r3").map(nm =>
      new java.io.File(base, nm).getAbsolutePath)
    Q.dq11Replicas(p).zip(roots).foreach { case ((_, r), root) =>
      Q.seedStoreFrom(r, root)
    }
    val audit = new java.io.File(base, "audit").getAbsolutePath
    val n1 = Q.quorumPass(spark, roots, p, audit)
    assert(n1 == dq11.length.toLong)
    // every store healed on disk: all three end row-identical to
    // the primary (the fixture's majority == primary everywhere)
    val want = p.collect().map(_.toSeq).sortBy(_.toString).toSeq
    roots.foreach { root =>
      assert(Q.latestStoreVersion(root).contains(2),
        "each defective store must publish exactly one heal")
      val healed = Q.readReplicaStore(spark, root).drop("pg")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(healed == want, s"store $root not healed")
    }
    // the vote record persisted as the audit artifact
    assert(new java.io.File(audit, "vote_ref").exists())
    // idempotence: pass 2 finds unanimity, publishes nothing
    assert(Q.quorumPass(spark, roots, p, audit) == 0L)
    roots.foreach(root =>
      assert(Q.latestStoreVersion(root).contains(2)))
    // majority sourcing on disk: each store's log names a REPLICA
    // source except in tie buckets (primary never consulted for a
    // clean majority — the quorum property, read from the audit)
    val tied = rows.filter(_._5 == "primary").map(_._2).toSet
    rows.foreach { t =>
      if (!tied.contains(t._2))
        assert(t._5 == (if (t._1 == "r1") "r2" else "r1"))
    }
    // a NEVER-CONVICTED root has no repairlog under its serving
    // version — the log read must skip it, not throw (advice
    // regression: only one replica defective, two agree)
    val base2 = new java.io.File(graft.store.Versioned.tempRoot("graft_dq12one_"))
    val roots2 = Seq("r1", "r2", "r3").map(nm =>
      new java.io.File(base2, nm).getAbsolutePath)
    Q.seedStoreFrom(Q.dq11Replicas(p).head._2, roots2(0)) // defective
    Q.seedStoreFrom(p, roots2(1)) // agrees with the majority
    Q.seedStoreFrom(p, roots2(2))
    val audit2 = new java.io.File(base2, "audit").getAbsolutePath
    assert(Q.quorumPass(spark, roots2, p, audit2) > 0L)
    val logs2 = Q.readRepairLogs(spark, roots2).collect()
      .map(r => r.getAs[String]("replica"))
    assert(logs2.nonEmpty && logs2.forall(_ == "r1"),
      "only the convicted root carries a repairlog — and reading " +
        "the agreeing roots must not throw")
    // the healed minority equals the primary on disk
    assert(Q.readReplicaStore(spark, roots2(0)).drop("pg").collect()
      .map(_.toSeq).sortBy(_.toString).toSeq == want)
  }

  test("dq13: additive evolution — evolved values land only on corrected rows, time travel serves v1's shape, a removed column refuses, a fileless oldest version serves") {
    val Q = graft.operators.Quality
    import spark.implicits._
    val rows = Q.dq13(spark, sf).collect()
      .map(r => (r.getAs[Long]("pg"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_evolved")))
    assert(rows.nonEmpty)
    // the resolved evolved store holds the primary's row count, and
    // evolved values sit on EXACTLY the shipped corrections
    // (insert_missing + overwrite_corrupt — a delete ships no row),
    // in exactly their partition groups; everything else defaulted
    val dq9 = Q.dq9(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[String]("action")))
    val nOrders = Tables.orders(spark, sf).count()
    assert(rows.map(_._2).sum == nOrders)
    assert(rows.map(_._3).sum ==
      dq9.count(_._2 != "delete_extra").toLong,
      "evolved values must be exactly the shipped corrections")
    val evolvedPgs = dq9.filter(_._2 != "delete_extra")
      .map(_._1 % Q.dq10Parts).toSet
    rows.foreach { case (pg, _, nEv) =>
      assert((nEv > 0L) == evolvedPgs.contains(pg),
        s"pg $pg: evolved-count $nEv vs shipped set $evolvedPgs")
    }
    // kernel pins on a private store
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority")
    val p = Tables.orders(spark, sf).selectExpr(cols: _*)
    val p2 = Tables.orders(spark, sf).selectExpr(
      (cols :+ "CAST(floor(o_totalprice) AS BIGINT) AS o_price_floor"): _*)
    val rootF = new java.io.File(graft.store.Versioned.tempRoot("graft_dq13spec_"))
    val root = rootF.getAbsolutePath
    Q.seedReplicaStore(p, root)
    assert(Q.repairPass(spark, root, p2) > 0L)
    // the resolved read serves the UNION shape; TIME TRAVEL to v1
    // still serves v1's pre-evolution shape (additive evolution
    // never rewrites history)
    val res = Q.readReplicaStore(spark, root)
    assert(res.columns.contains("o_price_floor"))
    val v1cols = Q.readReplicaStoreAt(spark, root, 1).columns.toSeq
    assert(!v1cols.contains("o_price_floor") &&
      v1cols == Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "pg"),
      s"v1 must serve its own shape, got $v1cols")
    // the 4-column content is the healed store regardless of shape
    assert(res.selectExpr(cols: _*).collect().map(_.toSeq)
      .sortBy(_.toString).toSeq ==
      p.collect().map(_.toSeq).sortBy(_.toString).toSeq)
    // a REMOVED column refuses loudly: hand-publish a v3 serving one
    // partition group with a narrower schema — silent data drop is
    // the one thing the evolving reader must never do
    val narrow = Q.withPg(p).filter("pg = 0").drop("o_orderpriority")
    narrow.write.partitionBy("pg").parquet(s"$root/v3/data")
    Q.writeStoreSchema(root, 3, narrow.schema)
    val (_, mapNow) = Q.readStoreManifest(root)
    Q.writeStoreManifest(root, 3, mapNow + (0L -> 3))
    val ex = intercept[IllegalStateException] {
      Q.readReplicaStore(spark, root)
    }
    assert(ex.getMessage.contains("o_orderpriority"))
    // ADVICE regression: the OLDEST serving version may legally be a
    // fileless data directory once repairs rotate the seed out of
    // the manifest — the per-version _SCHEMA keeps it servable
    // (schema inference on the fileless version used to throw)
    val root2F = new java.io.File(graft.store.Versioned.tempRoot("graft_dq13spec2_"))
    val root2 = root2F.getAbsolutePath
    Q.seedStoreFrom(p.limit(5), root2)
    val sch = Q.readStoreSchema(spark, root2, 1)
    assert(new java.io.File(root2, "v2/data").mkdirs())
    Q.writeStoreSchema(root2, 2, sch)
    Q.writeStoreManifest(root2, 2,
      (0L until Q.dq10Parts).map(_ -> 2).toMap)
    val emptied = Q.readReplicaStore(spark, root2)
    assert(emptied.count() == 0L &&
      emptied.columns.toSeq == sch.fieldNames.toSeq,
      "a fileless oldest serving version must serve its empty state")
  }

  test("dq7: FD audit equals a sequential recompute; both arms and the support arithmetic hold") {
    val rows = graft.operators.Quality.dq7(spark, sf).collect()
      .map(r => (r.getAs[String]("fd"), r.getAs[Long]("n_groups"),
        r.getAs[Long]("n_violating"), r.getAs[Long]("max_rhs"),
        r.getAs[Boolean]("holds"), r.getAs[Long]("support_permille")))
    assert(rows.length == 5)
    // sequential recompute of the worst-broken candidate
    val li = Tables.lineitem(spark, sf)
      .selectExpr("l_orderkey", "l_suppkey").as[(Long, Long)].collect()
    val byOk = li.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val ng = byOk.size.toLong
    val nv = byOk.values.count(_ > 1).toLong
    val got = rows.find(_._1 == "lineitem.l_orderkey->l_suppkey").get
    assert(got._2 == ng && got._3 == nv)
    assert(got._4 == byOk.values.max.toLong)
    assert(got._6 == (ng - nv) * 1000L / ng)
    // every row's internal consistency + both audit arms on the data
    rows.foreach { case (_, g, v, mx, holds, sp) =>
      assert(holds == (v == 0L))
      assert(if (holds) mx == 1L && sp == 1000L else mx > 1L && sp < 1000L)
      assert(v <= g && sp == (g - v) * 1000L / g)
    }
    assert(rows.exists(_._5) && rows.exists(!_._5))
    // the discovered-key case: n_name determines region though it is
    // not the declared key
    assert(rows.find(_._1 == "nation.n_name->n_regionkey").get._5)
  }

  test("dq6: MAD outliers equal a sequential recompute; every seeded spike flags") {
    val got = graft.operators.Quality.dq6(spark, sf).collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("n_events"),
        r.getAs[Long]("m"), r.getAs[Long]("med2"), r.getAs[Long]("dev2"),
        r.getAs[Long]("mad4"), r.getAs[Long]("is_outlier"))).toSeq
    val counts = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts) div 86400000000 AS day").collect()
      .map(_.getLong(0)).groupBy(identity).map { case (d, xs) => d -> xs.length.toLong }
    def med2Of(xs: Seq[Long]): Long = {
      val s = xs.sorted; val n = s.length
      s((n + 1) / 2 - 1) + s((n + 2) / 2 - 1)
    }
    val ms = counts.toSeq.map { case (d, n) => (d, n, if (d % 11 == 3) n * 4 else n) }
    val med2 = med2Of(ms.map(_._3))
    val mad4 = med2Of(ms.map(t => math.abs(2 * t._3 - med2)))
    val want = ms.map { case (d, n, m) =>
      val dev2 = math.abs(2 * m - med2)
      (d, n, m, med2, dev2, mad4, if (2 * dev2 > 3 * mad4) 1L else 0L)
    }.sortBy(_._1)
    assert(got == want && got.nonEmpty)
    // detection: every seeded ×4 spike day flags (the 50% breakdown
    // point — 3 of 30 spikes cannot drag the median toward them);
    // precision stays bounded (at sf0.001's ~33-events/day noise a
    // clean day can legitimately sit beyond 3 MADs, so the law is
    // all-spikes-caught + few flags, not exact set equality)
    val flagged = got.filter(_._7 == 1L).map(_._1).toSet
    assert(got.map(_._1).filter(_ % 11 == 3).forall(flagged.contains))
    assert(flagged.size <= got.length / 3)
    assert(got.exists(_._7 == 0L))
  }

  test("dq5: column entropies equal a sequential recompute and the closed forms") {
    val got = graft.operators.Quality.dq5(spark, sf).collect()
      .map(r => (r.getAs[String]("col_name"), r.getAs[Long]("n_rows"), r.getAs[Long]("ndv"),
        r.getAs[Long]("entropy_nano"), r.getAs[Long]("uniq_permille"),
        r.getAs[Long]("is_key"))).toSeq
    assert(got.length == 4)
    def ln9(x: Long): Long = math.floor(math.log(x.toDouble) * 1e9 + 0.5).toLong
    // sequential mirror per column
    Seq("l_returnflag", "l_quantity", "l_shipdate", "l_orderkey").foreach { c =>
      val cnts = Tables.lineitem(spark, sf).groupBy(col(c)).count()
        .select("count").as[Long].collect()
      val n = cnts.sum
      val want = (c, n, cnts.length.toLong,
        ln9(n) - cnts.map(k => k * ln9(k)).sum / n,
        cnts.length.toLong * 1000 / n,
        if (cnts.length.toLong == n) 1L else 0L)
      assert(got.find(_._1 == c).get == want, s"$c mismatch")
    }
    // closed forms: a uniform k-class column has entropy ln k
    val flag = got.find(_._1 == "l_returnflag").get
    assert(math.abs(flag._4 - math.log(3.0) * 1e9) < 1e6, s"flag entropy ${flag._4}")
    // entropy never exceeds ln(ndv)
    got.foreach(g => assert(g._4 <= ln9(g._3) + 1, s"${g._1} exceeds ln(ndv)"))
    // the profile separates grades (orderkey/shipdate order is
    // scale-dependent; both dominate the bounded-domain columns)
    def e(c: String) = got.find(_._1 == c).get._4
    assert(e("l_orderkey") > e("l_quantity") && e("l_shipdate") > e("l_quantity")
      && e("l_quantity") > e("l_returnflag"))
  }

  test("dq4: p-chart equals a sequential recompute; limits match the float 3sigma rule") {
    val got = graft.operators.Quality.dq4(spark, sf).collect()
      .map(r => (r.getAs[String]("day"), r.getAs[Long]("n_rows"), r.getAs[Long]("n_flag"),
        r.getAs[Long]("rate_permille"), r.getAs[Long]("out_of_control"))).toSeq
    val rows = Tables.lineitem(spark, sf)
      .selectExpr("date_format(l_shipdate, 'yyyy-MM-dd') AS day",
        "CASE WHEN l_quantity >= 45 THEN 1L ELSE 0L END AS f")
      .as[(String, Long)].collect()
    val byDay = rows.groupBy(_._1).view
      .mapValues(v => (v.size.toLong, v.map(_._2).sum)).toMap
    val totN = rows.length.toLong
    val totF = rows.map(_._2).sum
    val want = byDay.toSeq.sortBy(_._1).map { case (d, (n, x)) =>
      // the exact integer inequality vs the textbook float p-chart
      val diff = BigInt(x) * totN - BigInt(n) * totF
      val oc = if (diff * diff > BigInt(9) * totF * (totN - totF) * n) 1L else 0L
      val p = totF.toDouble / totN
      val sigma = math.sqrt(p * (1 - p) / n)
      val ocFloat = math.abs(x.toDouble / n - p) > 3 * sigma
      assert(oc == (if (ocFloat) 1L else 0L), s"integer/float limit disagree on $d")
      (d, n, x, x * 1000 / n, oc)
    }
    assert(got == want && got.nonEmpty)
    // the chart genuinely swings both ways on this corpus
    assert(got.exists(_._5 == 1L) && got.exists(_._5 == 0L))
  }

  test("e18: hazard curve equals a sequential life-table recompute") {
    val got = EventWindows.e18(spark, sf).collect()
      .map(r => (r.getAs[Long]("gap_day"), r.getAs[Long]("n_events"),
        r.getAs[Long]("n_at_risk"), r.getAs[Long]("hazard_permille"))).toSeq
    val days = Tables.events(spark, sf)
      .filter("event_type = 'purchase'")
      .selectExpr("user_id",
        "CAST(datediff(CAST(ts AS DATE), DATE '2023-12-31') AS BIGINT) AS day")
      .as[(Long, Long)].collect().distinct
    val gaps = days.groupBy(_._1).values.flatMap { ds =>
      val s = ds.map(_._2).sorted
      s.zip(s.tail).map { case (a, b) => b - a }
    }.toSeq
    val byGap = gaps.groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    val want = byGap.map { case (g, n) =>
      val atRisk = gaps.count(_ >= g).toLong
      (g, n, atRisk, n * 1000 / atRisk)
    }
    assert(got == want && got.nonEmpty)
    // life-table invariants: the first at-risk pool is every interval,
    // at-risk never grows with gap length, events exhaust the pool
    assert(got.head._3 == gaps.length.toLong)
    assert(got.sliding(2).forall { case Seq(a, b) => b._3 <= a._3 })
    assert(got.map(_._2).sum == gaps.length.toLong)
  }


  test("e23: DAU/WAU stickiness equals a sequential recompute; the explode window is exact") {
    val got = EventWindows.e23(spark, sf).collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("dau"),
        r.getAs[Long]("wau"), r.getAs[Long]("stickiness_permille"))).toSeq
    assert(got.nonEmpty)
    // sequential mirror: per reportable day, DAU and the true
    // trailing-7-day distinct count — the explode construction must
    // equal the DEFINITION (distinct users with day in [d-6, d])
    val act = Tables.events(spark, sf)
      .selectExpr("user_id",
        "CAST(datediff(CAST(ts AS DATE), DATE '2023-12-31') AS BIGINT) AS day")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = got.map(_._1).map { d =>
      val dau = act.collect { case (u, dd) if dd == d => u }.size.toLong
      val wau = act.collect {
        case (u, dd) if dd >= d - 6 && dd <= d => u }.size.toLong
      (d, dau, wau, dau * 1000 / wau)
    }
    assert(got == want)
    // invariants: WAU dominates DAU, ratio bounded, every activity
    // day reported exactly once, and the window genuinely widens the
    // pool somewhere (otherwise the fixture never tests the explode)
    assert(got.forall(t => t._3 >= t._2 && t._4 <= 1000L))
    assert(got.map(_._1).distinct.size == got.size)
    assert(got.exists(t => t._3 > t._2))
  }

  test("e22: Kaplan-Meier equals a sequential recompute; censoring raises survival") {
    val got = EventWindows.e22(spark, sf).collect()
      .map(r => (r.getAs[Long]("gap_day"), r.getAs[Long]("n_events"),
        r.getAs[Long]("n_at_risk"), r.getAs[Long]("surv_micro"))).toSeq
    val days = Tables.events(spark, sf)
      .filter("event_type = 'purchase'")
      .selectExpr("user_id",
        "CAST(datediff(CAST(ts AS DATE), DATE '2023-12-31') AS BIGINT) AS day")
      .as[(Long, Long)].collect().distinct
    val byUser = days.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val gaps = byUser.values.flatMap(s => s.zip(s.tail).map(p => p._2 - p._1)).toSeq
    val horizon = days.map(_._2).max
    val cens = byUser.values.map(horizon - _.max).toSeq
    val steps = gaps.groupBy(identity).toSeq.sortBy(_._1).map { case (t, xs) =>
      (t, xs.size.toLong,
        gaps.count(_ >= t).toLong + cens.count(_ >= t).toLong)
    }
    var s = 1000000L
    val want = steps.map { case (t, d, n) => s = s * (n - d) / n; (t, d, n, s) }
    assert(got == want && got.nonEmpty)
    // survival is non-increasing; the censored tails must RAISE it
    // versus the completed-only naive product (the whole point of KM)
    assert(got.sliding(2).forall { case Seq(a, b) => b._4 <= a._4 })
    var naive = 1000000L
    val naiveAt = gaps.groupBy(identity).toSeq.sortBy(_._1).map { case (t, xs) =>
      val d = xs.size.toLong; val n = gaps.count(_ >= t).toLong
      naive = naive * (n - d) / n; (t, naive)
    }.toMap
    assert(cens.exists(_ > 0), "no censored intervals - fixture vacuous")
    // pointwise domination (each KM factor (n+c-d)/(n+c) >= (n-d)/n),
    // strictly above somewhere before the curve is exhausted
    assert(got.forall { case (t, _, _, sv) => sv >= naiveAt(t) })
    assert(got.exists { case (t, _, _, sv) => sv > naiveAt(t) },
      "censoring never moved the curve")
  }

  test("e21: GSP support equals a brute-force subsequence recompute") {
    val got = EventWindows.e21(spark, sf).collect()
      .map(r => (r.getAs[Long]("plen"), r.getAs[String]("p1"),
        r.getAs[String]("p2"), r.getAs[String]("p3"),
        r.getAs[Long]("support"), r.getAs[Long]("sup_permille"),
        r.getAs[Long]("frequent"))).toSeq
    // brute force: each user's first-8 prefix, literal subsequence test
    val seqs = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS tus")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .groupBy(_._1)
      .map { case (u, es) =>
        u -> es.sortBy(e => (e._4, e._2)).map(_._3).take(8).toSeq
      }
    def supports(s: Seq[String], pat: Seq[String]): Boolean = {
      var i = 0
      s.foreach { t => if (i < pat.length && t == pat(i)) i += 1 }
      i == pat.length
    }
    val types = seqs.values.flatten.toSeq.distinct.sorted
    val nU = seqs.size.toLong
    def row(pat: Seq[String]): (Long, String, String, String, Long, Long, Long) = {
      val sup = seqs.values.count(supports(_, pat)).toLong
      val perm = sup * 1000L / nU
      (pat.length.toLong, pat.head, pat(1), if (pat.length == 3) pat(2) else "",
        sup, perm, if (perm >= 500L) 1L else 0L)
    }
    val want = (for (a <- types; b <- types) yield row(Seq(a, b))) ++
      (for (a <- types; b <- types; c <- types) yield row(Seq(a, b, c)))
    assert(got == want.sortBy(t => (t._1, t._2, t._3, t._4)) && got.nonEmpty)
    // the support spectrum discriminates (not the degenerate all-1000
    // the full-stream formulation measured) and both verdicts appear
    assert(got.map(_._6).distinct.size > 10)
    assert(got.exists(_._7 == 1L) && got.exists(_._7 == 0L))
    // monotonicity law: extending a pattern never gains support
    val s2m = got.filter(_._1 == 2L).map(t => (t._2, t._3) -> t._5).toMap
    got.filter(_._1 == 3L).foreach { t =>
      assert(t._5 <= s2m((t._2, t._3)), s"support grew on extension: $t")
    }
  }

  test("e20: removal-effect attribution equals a sequential absorbing-chain recompute") {
    val got = EventWindows.e20(spark, sf).collect()
      .map(r => (r.getAs[String]("channel"), r.getAs[Long]("p_full_micro"),
        r.getAs[Long]("p_removed_micro"), r.getAs[Long]("re_micro"),
        r.getAs[Long]("attr_permille"))).toSeq
    // sequential mirror: journeys truncated at first purchase,
    // START/NULL framing, per-scenario integer absorbing iteration
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS tus")
      .as[(Long, Long, String, Long)].collect()
    val journeys = ev.groupBy(_._1).values.map { es =>
      val types = es.sortBy(e => (e._4, e._2)).map(_._3).toVector
      val p = types.indexOf("purchase")
      if (p >= 0) types.take(p + 1) else types
    }.toSeq
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    def bump(s: String, t: String): Unit =
      counts((s, t)) = counts.getOrElse((s, t), 0L) + 1L
    journeys.foreach { j =>
      bump("START", j.head)
      j.sliding(2).foreach { case Seq(a, b) => bump(a, b); case _ => }
      if (j.last != "purchase") bump(j.last, "NULL")
    }
    def solve(removed: Option[String]): Long = {
      val m = counts.toSeq.map { case ((s, t), n) =>
        (s, if (removed.contains(t)) "NULL" else t, n)
      }.groupBy(p => (p._1, p._2)).view.mapValues(_.map(_._3).sum).toSeq
        .map { case ((s, t), n) => (s, t, n) }
      val rowsum = m.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val states = m.map(_._1).distinct
      var x = states.map(_ -> 0L).toMap
      (1 to 24).foreach { _ =>
        val withAbs = x ++ Map("purchase" -> 1000000L) - "NULL"
        x = states.map { s =>
          s -> m.filter(_._1 == s).map { case (_, t, n) =>
            withAbs.getOrElse(t, 0L) * n / rowsum(s)
          }.sum
        }.toMap
      }
      x("START")
    }
    val pFull = solve(None)
    val want0 = Seq("click", "error", "signup", "view").map { c =>
      val pr = solve(Some(c))
      (c, pFull, pr, math.max(0L, 1000000L - pr * 1000000L / pFull))
    }
    val reTot = want0.map(_._4).sum
    val want = want0.map { case (c, pf, pr, re) => (c, pf, pr, re, re * 1000 / reTot) }
    assert(got == want && got.nonEmpty)
    // sanity laws: removal never helps; shares ~ sum to 1000
    got.foreach { g => assert(g._3 <= g._2 && g._4 >= 0L) }
    val shareSum = got.map(_._5).sum
    assert(shareSum >= 996L && shareSum <= 1000L, s"shares sum to $shareSum")
  }

  test("q37: TWAP equals a sequential hold-weighted recompute") {
    val got = Relational.q37(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_holds"),
        r.getAs[Long]("span_s"), r.getAs[Long]("wsum_cents_s"),
        r.getAs[Double]("twap_cents"))).toSeq
    val want = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS tus",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).toSeq.flatMap { case (uid, es) =>
        val s = es.sortBy(e => (e._3, e._2))
        val holds = s.zip(s.tail).map { case (a, b) => ((b._3 - a._3) / 1000000L, a._4) }
        val span = holds.map(_._1).sum
        val wsum = holds.map { case (d, c) => d * c }.sum
        if (holds.nonEmpty && span > 0)
          Some((uid, holds.size.toLong, span, wsum, wsum.toDouble / span.toDouble))
        else None
      }.sortBy(_._1)
    assert(got == want && got.nonEmpty)
    // the weighting is real: some user's TWAP differs from their
    // unweighted mean by a visible margin
    val plain = Tables.events(spark, sf)
      .selectExpr("user_id", "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(v => v.map(_._2).sum.toDouble / v.size).toMap
    assert(got.exists(g => math.abs(g._5 - plain(g._1)) > 1.0),
      "TWAP never deviates from the plain mean - weighting inert")
  }

  test("e19: stationary masses equal a sequential power iteration and have converged") {
    val got = EventWindows.e19(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("pi_micro"),
        r.getAs[Long]("n_out"))).toSeq
    // sequential mirror: rebuild the chain and iterate with the same
    // integral-division mass moves
    val pairs = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS tus")
      .as[(Long, Long, String, Long)].collect()
      .groupBy(_._1).values.flatMap { es =>
        val s = es.sortBy(e => (e._4, e._2)).map(_._3)
        s.zip(s.tail)
      }.toSeq
    val m = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rowsum = m.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val states = rowsum.keys.toSeq.sorted
    var pi = states.map(s => s -> 1000000L / states.size).toMap
    var prev = pi
    (1 to 12).foreach { r =>
      prev = pi
      pi = states.map { j =>
        j -> states.map(i => pi.getOrElse(i, 0L) * m.getOrElse((i, j), 0L) / rowsum(i)).sum
      }.toMap
    }
    val want = states.map(s => (s, pi(s),
      m.keys.count(_._1 == s).toLong)).sortBy(_._1)
    assert(got == want && got.nonEmpty)
    // converged within budget: the last round moved each state by no
    // more than the per-round truncation drain (masses keep shrinking
    // by a few micro per round, so exact fixpoint equality never
    // happens — the DISTRIBUTION is what has converged)
    val maxMove = states.map(s => math.abs(pi(s) - prev(s))).max
    assert(maxMove <= states.size.toLong * states.size,
      s"not converged: max per-state move $maxMove: $prev -> $pi")
    // bounded truncation drain: total mass within states^2/2 * rounds
    val drain = 1000000L - pi.values.sum
    assert(drain >= 0 && drain <= states.size.toLong * states.size * 12 / 2 + states.size)
  }

  test("q36: nearest as-of equals a sequential recompute and genuinely beats backward-only") {
    import graft.operators.AsOf
    val got = AsOf.asOfNearest(spark, sf).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[String]("event_day"), r.getAs[String]("order_day"),
        r.getAs[Long]("dist_days"))).toSeq
    val ev = Tables.events(spark, sf)
      .selectExpr("event_id", "user_id",
        "CAST(timestampadd(DAY, CAST(event_id % 2400 AS INT), TIMESTAMP '1995-01-01 00:00:00') AS DATE) AS d")
      .as[(Long, Long, java.sql.Date)].collect()
    val ords = Tables.orders(spark, sf)
      .selectExpr("o_custkey", "CAST(o_orderdate AS DATE) AS d")
      .as[(Long, java.sql.Date)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2.toLocalDate.toEpochDay).sorted).toMap
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    val want = ev.flatMap { case (eid, uid, d) =>
      val t = d.toLocalDate.toEpochDay
      ords.get(uid).filter(_.nonEmpty).map { os =>
        val prev = os.filter(_ <= t).lastOption
        val next = os.find(_ >= t)
        val m = (prev, next) match {
          case (Some(p), Some(n)) => if (t - p <= n - t) p else n
          case (Some(p), None) => p
          case (None, Some(n)) => n
          case _ => sys.error("unreachable")
        }
        (eid, uid, java.time.LocalDate.ofEpochDay(t).format(fmt),
          java.time.LocalDate.ofEpochDay(m).format(fmt), math.abs(m - t))
      }
    }.sortBy(_._1).toSeq
    assert(got == want && got.nonEmpty)
    // the forward arm does real work: some events match a FUTURE order
    assert(got.exists(r => r._4 > r._3), "nearest degenerated to backward as-of")
    // and the backward-only variant (q11) covers fewer events
    val backRows = AsOf.asOfJoin(spark, sf).collect().length
    assert(got.length > backRows, "nearest should cover events q11 cannot")
  }
}
