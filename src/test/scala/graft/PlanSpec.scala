package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, sum}
import graft.relational.Relational
import graft.operators.Weather

/** Plan-shape assertions: the scale-design claims of SURVEY.md §5,
  * checked against the actual physical plans (not just trusted).
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = SharedSpark.sf

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // let AQE finalize
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q6: all three predicates reach the parquet scan") {
    val p = plan(Relational.q6(spark, sf))
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("LessThan(l_quantity"))
    assert(p.contains("GreaterThanOrEqual(l_discount"))
  }

  test("q5: every dimension joins as a broadcast hash join (no shuffle joins)") {
    val p = plan(Relational.q5(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q1: scan reads only the referenced columns") {
    val p = plan(Relational.q1(spark, sf))
    val schema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(schema.contains("l_returnflag") && schema.contains("l_quantity"))
    assert(!schema.contains("l_partkey") && !schema.contains("l_suppkey"))
  }

  test("q40: the variant shred prunes the scan to the three referenced columns") {
    val p = plan(Relational.q40(spark, sf))
    val schema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(schema.contains("event_id") && schema.contains("event_type") &&
      schema.contains("props"))
    assert(!schema.contains("user_id") && !schema.contains("value"),
      s"scan reads unreferenced columns: $schema")
  }

  test("q42: the at-rest plan serves typed paths off the stored column — parse_json appears nowhere") {
    val p = plan(Relational.q42(spark, sf))
    assert(!p.contains("parse_json"),
      "the at-rest plan re-parses JSON — the ingest-once contract is broken")
    val schema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(schema.contains("v:"),
      s"the scan must serve the stored variant column: $schema")
    // typed access served straight off the scan: either variant_get
    // over the stored binary, or — better — the shredded-read
    // rewrite Spark 4.1 actually emits (the variant column lands in
    // parquet SHREDDED into typed subcolumns and every
    // variant_get($.path) collapses to a plain struct field access,
    // e.g. `v#N.0 AS src` — the paid-once-at-ingest contract in its
    // strongest form)
    assert(p.contains("variant_get") ||
        """v#\d+\.0""".r.findFirstIn(p).isDefined,
      "typed path access missing from the at-rest plan")
  }

  test("q43: the variant_get predicate pushes into the shredded parquet scan") {
    val p = plan(Relational.q43(spark, sf))
    assert(!p.contains("parse_json"),
      "the at-rest filter path re-parses JSON — the ingest-once contract is broken")
    // the shredded-read rewrite turns variant_get($.meta.pri) into a
    // struct-field read, and the equality then reaches the scan as a
    // pushed filter on the shredded subcolumn (observed:
    // `PushedFilters: [IsNotNull(v), EqualTo(v.`2`,3)]`) — the
    // row-group/page pruning seam at 100 TB
    assert(p.contains("PushedFilters") &&
        """EqualTo\(v\.`?\d+`?,3\)""".r.findFirstIn(p).isDefined,
      "the typed-path equality must push into the shredded scan")
    val schema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(schema.contains("v:struct<"),
      s"the scan must read shredded typed subcolumns, not the variant binary: $schema")
  }

  test("q44: file-level skipping — fewer files planned than stored, a corrupted pruned file is provably never opened, rows equal q43") {
    // the manifest prunes at FILE grain: the store holds q44Files-ish
    // files, the pri=3 predicate survives in strictly fewer
    val (data, manifest) = Relational.variantStatsStore(spark, sf)
    val stats = spark.read.parquet(manifest).collect()
      .map(r => (r.getAs[String]("file"), r.getAs[Long]("min_pri"),
        r.getAs[Long]("max_pri")))
    val hit = stats.filter(t => t._2 <= 3L && t._3 >= 3L)
    assert(stats.length > 1 && hit.nonEmpty && hit.length < stats.length,
      s"fixture must exercise the skip: ${hit.length} of ${stats.length} files hit")
    // the clustering is real: per-file pri ranges are narrow
    assert(stats.forall(t => t._3 - t._2 <= 1L),
      "repartitionByRange must cluster pri into narrow per-file ranges")
    // rows equal q43 (the oracle contract, pinned Spark-vs-Spark too)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("src"), r.getAs[Long]("n"),
        r.getAs[Long]("sum_k"))).toSeq
    val viaSkip = rows(Relational.q44(spark, sf))
    assert(viaSkip == rows(Relational.q43(spark, sf)) && viaSkip.nonEmpty)
    // the kill shot: OVERWRITE a pruned file with garbage — a reader
    // that opened it would throw; the manifest-planned scan cannot
    // even see it (m27's corrupt-outside-the-ranges trick, file grain)
    val pruned = stats.map(_._1).toSet -- hit.map(_._1).toSet
    val victim = new java.io.File(new java.net.URI(pruned.head))
    val orig = java.nio.file.Files.readAllBytes(victim.toPath)
    try {
      java.nio.file.Files.write(victim.toPath,
        "NOT A PARQUET FILE".getBytes("UTF-8"))
      assert(rows(Relational.q44(spark, sf)) == viaSkip,
        "q44 opened a file its manifest had pruned")
      // and the un-pruned full read DOES see the damage — the
      // counterfactual that proves the skip is doing the work
      intercept[Throwable] {
        spark.read.parquet(data)
          .selectExpr("variant_get(v, '$.meta.pri', 'bigint')")
          .collect()
      }
    } finally java.nio.file.Files.write(victim.toPath, orig)
  }

  test("q44: a predicate outside every file's range degrades to the empty scan, not a crash") {
    // a zone-map planner's all-pruned outcome is a LEGITIMATE input
    // (the advice regression: require(hit.nonEmpty) used to throw):
    // the manifest prunes every file, zero files open, and the
    // aggregate is empty with q44's exact output shape
    val (_, manifest) = Relational.variantStatsStore(spark, sf)
    val maxPri = spark.read.parquet(manifest)
      .agg(org.apache.spark.sql.functions.max("max_pri"))
      .collect()(0).getLong(0)
    val out = Relational.q44Agg(spark, sf, pri = maxPri + 1000L)
    assert(out.columns.toSeq == Seq("src", "n", "sum_k"))
    assert(out.count() == 0L,
      "an all-pruned predicate must serve the empty aggregate")
  }

  test("dq10: store reads prune at the partition-directory level and the damaged-partition scan is partition-filtered") {
    val Q = graft.operators.Quality
    // seed a store through the kernels, then pin that the resolved
    // read's pg predicate lands as a PartitionFilter — directory
    // pruning, the claim that makes partition-grain copy-on-write
    // pay at 100 TB (a pruned read opens the damaged directories,
    // not the table)
    val p = Tables.orders(spark, sf).selectExpr("o_orderkey",
      "o_custkey", "o_orderstatus", "o_orderpriority")
    val rootF = java.nio.file.Files
      .createTempDirectory("graft_dq10plan_").toFile
    graft.operators.Incremental.cleanupOnExit(rootF)
    val root = rootF.getAbsolutePath
    Q.seedStoreFrom(Q.dq8Replica(p), root)
    Q.repairPass(spark, root, p)
    // the post-heal resolved view reads v1 (untouched pgs) + v2
    // (damaged pgs), each scan partition-filtered on pg
    val pl = plan(Q.readReplicaStore(spark, root))
    val pf = pl.linesIterator.filter(_.contains("PartitionFilters"))
      .toSeq
    assert(pf.size >= 2, s"expected 2 partition-filtered scans:\n$pf")
    assert(pf.forall(_.contains("pg")),
      s"pg predicate must prune at the directory level:\n$pf")
    assert(!pl.contains("PartitionFilters: []"),
      "a store scan read every partition directory")
  }

  test("dq8: digest aggregates are map-side partial and the drill is broadcast-semi-scoped") {
    val p = plan(graft.operators.Quality.dq8(spark, sf))
    assert(p.contains("partial_bit_xor"),
      "bucket digests must combine map-side (partial bit_xor)")
    val semis = "BroadcastHashJoin .*LeftSemi".r.findAllIn(p).length
    assert(semis >= 2,
      s"row-grain drill must be semi-joined on the bad-bucket broadcast (both sides); got $semis")
  }

  test("m23/m26/m27: the container walks are one scan with no shuffle before presentation") {
    Seq(graft.operators.Media.m23(spark, sf),
        graft.operators.Media.m26(spark, sf),
        graft.operators.Media.m27(spark, sf)).foreach { df =>
      val p = plan(df).split("== Initial Plan ==")(0)
      assert("Scan parquet".r.findAllIn(p).length == 1, "one scan only")
      // render+walk fused narrow: only the presentation sort exchanges
      val exchanges = "ShuffleQueryStage".r.findAllIn(p).length
      assert(exchanges <= 1, s"walk should not shuffle; got $exchanges")
    }
  }

  test("w10: the near-land mask is a broadcast semi join") {
    val p = plan(Weather.w10(spark, sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"))
  }

  test("w6: the thermal chain is a single scan with no shuffle before aggregation") {
    // only the final (AQE) section — explain repeats the initial plan
    val p = plan(Weather.w6(spark, sf)).split("== Initial Plan ==")(0)
    // narrow map: only the presentation sort may exchange
    val exchanges = "ShuffleQueryStage".r.findAllIn(p).length
    assert(exchanges <= 1, s"chain should not shuffle; got $exchanges exchanges\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1)
  }

  test("bucketed tables join co-located: sort-merge with zero exchanges") {
    import org.apache.spark.sql.functions.col
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables.lineitem(spark, sf).write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
      Tables.orders(spark, sf).write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_b")
      val j = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).count()
      val p = plan(j).split("== Initial Plan ==")(0)
      assert(p.contains("SortMergeJoin"))
      // co-located read: the join itself needs no shuffle; only the
      // final aggregation exchanges
      val shuffles = "ShuffleQueryStage".r.findAllIn(p).length +
        "Exchange hashpartitioning".r.findAllIn(p).length
      assert(shuffles <= 1, s"bucketed join should not shuffle:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("t9: packing prefix sum has no single-partition window exchange") {
    // tiny widths force the multi-bucket path even on small testdata
    spark.conf.set("graft.pack.bucketDocs", "64")
    spark.conf.set("graft.pack.superFactor", "4")
    try {
      val p = plan(graft.operators.TextStats.t9(spark, sf))
      assert(p.contains("Window"), "expected the bounded windows in the plan")
      // the only allowed single-partition exchange is the explicit
      // presentation repartition(1) of the ~5-row bin summary
      // (REPARTITION_BY_NUM); a window that forced one would appear
      // as ENSURE_REQUIREMENTS
      val offending = p.linesIterator.filter(_.contains("SinglePartition"))
        .filterNot(_.contains("REPARTITION_BY_NUM")).toSeq
      assert(offending.isEmpty,
        s"prefix sum must never collapse to one partition: $offending\n$p")
    } finally {
      spark.conf.unset("graft.pack.bucketDocs")
      spark.conf.unset("graft.pack.superFactor")
    }
  }

  test("e15: no unpartitioned window anywhere — user grain never crosses SinglePartition") {
    val df = graft.operators.EventWindows.e15(spark, sf)
    // logical pin: every Window node carries a partition key (the
    // axis-partitioned cumulative sums over the ≤768-row histogram);
    // round-9's three global ntile windows are gone
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty, "expected the axis-partitioned cumulative windows")
    val global = wins.filter(_.partitionSpec.isEmpty)
    assert(global.isEmpty, s"unpartitioned window leaked: $global")
    // physical pin: ntile is gone, and every physical Window sorts on
    // (axis, bucket) — i.e. operates on the histogram metadata grain,
    // not on a user-grain column
    val p = plan(df)
    assert(!p.contains("ntile"), "ntile must not reappear")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(l =>
      l.contains("axis") && l.contains("bucket")),
      s"window must ride the (axis, bucket) histogram grain: $winLines")
  }

  test("v21: beam-search hops are equality joins on node ids — vectors never shuffle") {
    // one unfragmented hop (checkpoints hide the hop joins from
    // explain; a single hop is representative of every hop)
    spark.conf.set("graft.v21.hops", "1")
    spark.conf.set("graft.v21.checkpoint", "false")
    try {
      val df = graft.operators.Knn.v21(spark, sf)
      val p = plan(df)
      // no all-pairs anywhere; with IVF-seeded entries every seed
      // attach is an EQUALITY join (probes ⋈ reps on cid, seeds ⋈
      // vectors on node) — any nested-loop join that still appears
      // must be a broadcast Cross of bounded sides, never a
      // large-large join
      assert(!p.contains("CartesianProduct"), "all-pairs leaked")
      val bnlTree = p.linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin"))
        .filter(_.contains("Build")).toSeq
      assert(bnlTree.forall(_.contains("Cross")),
        s"non-broadcast-cross nested loop leaked: $bnlTree")
      // frontier expansion rides the graph by equality on node ids
      assert(p.contains("src_id"), "expected the frontier-graph equality join")
      // every window is per-query (qid-partitioned) — never global
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
        "window must partition by qid")
    } finally {
      spark.conf.unset("graft.v21.hops")
      spark.conf.unset("graft.v21.checkpoint")
    }
  }

  test("q39: the runtime bloom filter lands in the plan; shared session untouched") {
    val before = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.getOption(k))
    val df = graft.relational.Relational.q39(spark, sf)
    // the physical plan was forced under the runtime-filter confs:
    // the fact-side scan carries a bloom probe fed by a
    // bloom_filter_agg subquery over the filtered dimension keys
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("bloom"),
      s"runtime bloom filter did not inject:\n${p.take(4000)}")
    // the overrides live in q39's child session — the shared Verify
    // session is never mutated, not even transiently
    before.foreach { case (k, v) =>
      assert(spark.conf.getOption(k) == v, s"conf $k leaked")
    }
    // semantics: the rewrite is invisible (equals the plain join)
    import org.apache.spark.sql.functions.{count => cnt, lit => l, sum => sm}
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val o = graft.Tables.orders(spark, sf)
      .filter("o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND " +
        "o_orderdate < TIMESTAMP '1995-04-01 00:00:00'")
    val want = graft.Tables.lineitem(spark, sf)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(cnt(l(1)).as("n"), sm(col("l_quantity").cast("long")).as("s"))
      .orderBy(col("l_returnflag"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("q36: both nearest-as-of window passes share ONE key exchange") {
    val p = plan(graft.operators.AsOf.asOfNearest(spark, sf))
      .split("== Initial Plan ==")(0)
    // two Sort+Window stages (backward carry / forward carry) must
    // reuse ONE key exchange; the only other shuffle is the
    // presentation orderBy. A third exchange would mean the forward
    // pass re-shuffled the union.
    val exchanges = "ShuffleQueryStage".r.findAllIn(p).length
    val windows = p.linesIterator.count(_.matches(".*\\bWindow \\(\\d+\\).*"))
    assert(windows == 2, s"expected two window passes, got $windows\n$p")
    assert(exchanges <= 2,
      s"expected one shared key exchange + presentation sort, got $exchanges\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q38: the band-join rule fires — RangeJoinExec replaces hash-join+filter") {
    val p = plan(graft.operators.AsOf.bandRewrite(spark, sf))
    assert(p.contains("RangeJoin"), s"band rewrite did not fire:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
      s"a generic join survived where the custom operator should run:\n$p")
  }

  test("BandJoinRewrite trigger is conservative: non-matching joins are untouched") {
    import org.apache.spark.sql.functions._
    graft.plans.BandJoinRewrite.install(spark)
    val ev = graft.Tables.events(spark, sf)
    val a = ev.select(col("user_id").as("ua"), expr("unix_micros(ts)").as("ta"))
    val b = ev.select(col("user_id").as("ub"), expr("unix_micros(ts)").as("tb"))
    def optimized(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.toString
    // inclusive LOWER bound (>=) is NOT the exec's semantics — no rewrite
    val incLow = a.join(b, a("ua") === b("ub") && b("tb") >= a("ta") &&
      b("tb") <= a("ta") + 1000000L)
    assert(!optimized(incLow).contains("RangeJoinPlan"), optimized(incLow))
    // a fourth TWO-SIDED conjunct stays in the join — no rewrite
    // (a single-sided extra like b.ub > 5 gets pushed below the join
    // by Catalyst first, after which the remaining band DOES rewrite —
    // that composition is the point of running as an optimizer rule)
    val extra = a.join(b, a("ua") === b("ub") && b("tb") > a("ta") &&
      b("tb") <= a("ta") + 1000000L && (a("ta") + b("tb")) % 2L === 0L)
    assert(!optimized(extra).contains("RangeJoinPlan"), optimized(extra))
    val pushed = a.join(b, a("ua") === b("ub") && b("tb") > a("ta") &&
      b("tb") <= a("ta") + 1000000L && b("ub") > 5L)
    assert(optimized(pushed).contains("RangeJoinPlan"), optimized(pushed))
    // empty band (lo >= hi) — no rewrite
    val empty = a.join(b, a("ua") === b("ub") && b("tb") > a("ta") + 2000000L &&
      b("tb") <= a("ta") + 1000000L)
    assert(!optimized(empty).contains("RangeJoinPlan"), optimized(empty))
    // and the canonical shape DOES rewrite
    val good = a.join(b, a("ua") === b("ub") && b("tb") > a("ta") &&
      b("tb") <= a("ta") + 300000000L)
    assert(optimized(good).contains("RangeJoinPlan"), optimized(good))
    // NULLABLE key/time: the rewrite must still fire but wrap both
    // children in IsNotNull filters — the exec reads NULL as 0 and
    // sorts NULLS FIRST, so an unguarded NULL key would spuriously
    // match key 0 / other NULLs and break the monotone-key merge.
    val an = a.select(when(col("ua") % 7L === 0L, lit(null)).otherwise(col("ua"))
      .cast("long").as("ua"), col("ta"))
    val bn = b.select(when(col("ub") % 5L === 0L, lit(null)).otherwise(col("ub"))
      .cast("long").as("ub"), col("tb"))
    val nullable = an.join(bn, an("ua") === bn("ub") && bn("tb") > an("ta") &&
      bn("tb") <= an("ta") + 300000000L)
    val nOpt = optimized(nullable)
    assert(nOpt.contains("RangeJoinPlan"), nOpt)
    assert("isnotnull".r.findAllIn(nOpt.toLowerCase).length >= 2,
      s"nullable children must be wrapped in IsNotNull filters:\n$nOpt")
    // semantics attested against a driver-side recompute (no join engine)
    val gotN = nullable.groupBy(an("ua")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val aRows = an.collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1)))
    val bRows = bn.collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1)))
    val wantN = aRows.flatMap { case (k, ta) =>
      if (k.isEmpty) Nil
      else {
        val n = bRows.count { case (k2, tb) => k2 == k && tb > ta && tb <= ta + 300000000L }
        if (n > 0) Some((k.get, n.toLong)) else None
      }
    }.groupBy(_._1).map { case (k, v) => (k, v.map(_._2).sum) }.toSeq.sortBy(_._1)
    assert(gotN == wantN && gotN.nonEmpty,
      s"null-key band join mismatch: got ${gotN.take(5)} want ${wantN.take(5)}")
    // semantics attested: rewritten result equals the composed q12-style
    // bucket join on the same band
    val got = good.groupBy(col("ua")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val want = a.join(b, a("ua") === b("ub"))
      .filter(b("tb") > a("ta") && b("tb") <= a("ta") + 300000000L)
      .groupBy(col("ua")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("grid written clustered by cell: w12/w13-shaped agg+join needs zero exchanges") {
    import org.apache.spark.sql.functions._
    // SURVEY §9 row 1: write the thermal grid hive-partitioned by
    // (lat-band, day) and bucketed by the grid cell so every
    // downstream per-cell operator starts pre-clustered. The whole
    // agg + join pipeline below then plans with NO exchange at all:
    // the bucketed scan supplies the cell hash distribution to the
    // w13-shaped aggregate, which passes it through to the w12-shaped
    // join back. The bucket keys are INTEGRAL (half-degree indices),
    // not the double lat/lon: join keys on doubles get wrapped in
    // normalizenanandzero, whose distribution a bucketed scan cannot
    // provide — float bucket columns silently re-shuffle (§8.16).
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.functions.ThermalChain.df(spark, sf, graft.functions.ThermalChain.full)
        .selectExpr("CAST(lat * 2 AS BIGINT) AS lat_k",
          "CAST(lon * 2 AS BIGINT) AS lon_k", "aoff", "utci_c",
          "CAST(floor(lat / 20.0) AS INT) AS lat_band",
          "CAST(floor(CAST(aoff AS DOUBLE) / 24.0) AS BIGINT) AS day")
        .write.mode("overwrite")
        .partitionBy("lat_band", "day")
        .bucketBy(8, "lat_k", "lon_k").sortBy("lat_k", "lon_k")
        .saveAsTable("grid_b")
      val t = spark.table("grid_b")
      val perCell = t.groupBy(col("lat_k"), col("lon_k"))
        .agg(max(col("utci_c")).as("hi"), count(lit(1)).as("n"))
      val j = t.join(perCell, Seq("lat_k", "lon_k"))
        .groupBy(col("lat_k"), col("lon_k"))
        .agg(max(col("hi") - col("utci_c")).as("spread"))
      val p = plan(j).split("== Initial Plan ==")(0)
      val shuffles = "ShuffleQueryStage".r.findAllIn(p).length +
        "Exchange hashpartitioning".r.findAllIn(p).length
      assert(shuffles == 0, s"pre-clustered grid pipeline must not shuffle:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sql("DROP TABLE IF EXISTS grid_b")
    }
  }

  test("v7: range search shuffles only for the presentation sort") {
    val p = plan(graft.operators.Knn.v7(spark, sf)).split("== Initial Plan ==")(0)
    val exchanges = "ShuffleQueryStage".r.findAllIn(p).length
    assert(exchanges <= 1, s"scan+filter path should not shuffle; got $exchanges\n$p")
    assert(!p.contains("Window"), "no top-k window on the range path")
  }

  test("d10: eval bands broadcast; no shuffle join or nested-loop for candidates") {
    val p = plan(graft.operators.Dedup.d10(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("t15: mixture resampling is narrow — zero data shuffles") {
    val p = plan(graft.operators.TextStats.t15(spark, sf)).split("== Initial Plan ==")(0)
    val exchanges = "ShuffleQueryStage".r.findAllIn(p).length
    assert(exchanges <= 1, s"narrow map + explode should not shuffle; got $exchanges\n$p")
  }

  test("q24: distinct, island window and streak aggregate share one data shuffle") {
    val p = plan(Relational.q24(spark, sf)).split("== Initial Plan ==")(0)
    val exchanges = "ShuffleQueryStage".r.findAllIn(p).length
    // one hash(user_id) exchange + the presentation sort
    assert(exchanges <= 2, s"expected one data shuffle; got $exchanges\n$p")
  }

  test("q26: both sweep windows are key-partitioned; no single-partition exchange") {
    val p = plan(Relational.q26(spark, sf))
    assert(p.contains("Window"))
    val offending = p.linesIterator.filter(_.contains("SinglePartition"))
      .filterNot(_.contains("REPARTITION_BY_NUM")).toSeq
    assert(offending.isEmpty,
      s"interval sweep must never collapse to one partition: $offending")
  }

  test("q26: point-level running sum is sub-day partitioned (t9 hierarchy)") {
    // the scale guard: no unbounded-preceding window over the boundary
    // POINTS may be partitioned by day alone — the point-level scan
    // must carry the hour-bucket key; day-alone windows are allowed
    // only over the per-bucket summary (the `btotal` offset carry).
    val analyzed = Relational.q26(spark, sf).queryExecution.analyzed.toString
    val dayOnlyPointWindows = analyzed.linesIterator.filter { l =>
      l.contains("windowspecdefinition(day") && !l.contains("hb") &&
        !l.contains("btotal")
    }.toSeq
    assert(dayOnlyPointWindows.isEmpty,
      s"found a day-global window over boundary points: $dayOnlyPointWindows")
  }

  test("p4: snapshot diff is one join — no extra exchanges beyond the outer join") {
    val p = plan(graft.operators.Cdc.p4(spark, sf)).split("== Initial Plan ==")(0)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // two snapshot sides hash to the pk + the presentation repartition
    val exchanges = "ShuffleQueryStage".r.findAllIn(p).length
    assert(exchanges <= 3, s"expected at most the pk co-partitioning; got $exchanges\n$p")
  }

  test("m6/d11/v10: candidate generation never plans a nested-loop or cartesian join") {
    val pm = plan(graft.operators.Media.m6(spark, sf))
    assert(!pm.contains("BroadcastNestedLoopJoin") && !pm.contains("CartesianProduct"))
    val pd = plan(graft.operators.Dedup.d11(spark, sf))
    assert(!pd.contains("BroadcastNestedLoopJoin") && !pd.contains("CartesianProduct"))
    // v10's arms and fusion are equality joins throughout (the only
    // crossJoin is BM25's broadcast of a 1-row stats aggregate)
    val pv = plan(graft.operators.Knn.v10(spark, sf))
    assert(!pv.contains("CartesianProduct"))
  }

  test("q27: each jump round is an equality join — no nested-loop, no cartesian") {
    import spark.implicits._
    // one round of the pointer-jump self-join, planned in isolation
    val init = graft.Tables.customer(spark, sf)
      .selectExpr("c_custkey AS id",
        "CASE WHEN c_custkey % 97 = 0 OR c_custkey = 1 THEN c_custkey ELSE c_custkey div 2 END AS ptr",
        "CAST(1 AS BIGINT) AS dist")
    val hops = init.select($"id".as("jid"), $"ptr".as("jptr"), $"dist".as("jdist"))
    val round = init.join(hops, $"ptr" === $"jid")
      .select($"id", $"jptr".as("ptr"), ($"dist" + $"jdist").as("dist"))
    val p = plan(round)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("Join") || p.contains("HashJoin"), s"expected an equality join:\n$p")
  }

  test("d12: gram aggregate keys on the digest; gram strings die pre-shuffle") {
    val p = graft.operators.Dedup.d12(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("fnv64"), s"expected digest keys in plan:\n$p")
    // no Aggregate or Join may operate on the gram string — only on gh
    val onGram = p.linesIterator
      .filter(l => l.contains("Aggregate [gram") || l.contains("Join") && l.contains("gram#"))
      .toSeq
    assert(onGram.isEmpty, s"gram strings must not ride exchanges: $onGram")
    val phys = plan(graft.operators.Dedup.d12(spark, sf))
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"))
  }

  test("d11: dup-count aggregate and dup join key on the 8-byte line digest") {
    // only fnv64 digests may ride the dup-detection exchanges; the
    // raw line string shuffles once, for the per-doc reassembly
    val analyzed = graft.operators.Dedup.d11(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(analyzed.contains("fnv64"), s"expected digest keys in plan:\n$analyzed")
    val aggOnLine = analyzed.linesIterator
      .filter(l => l.contains("count(distinct doc_id") || l.contains("Aggregate"))
      .filter(l => l.contains("[line"))
      .toSeq
    assert(aggOnLine.isEmpty,
      s"dup aggregate must group on the digest, not the line string: $aggOnLine")
  }

  test("e9: global top-10 plans as TakeOrdered, never a full sort") {
    val p = plan(graft.operators.EventWindows.paths(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$p")
  }

  test("q29: all four analytic functions share ONE window exchange") {
    val p = plan(Relational.q29(spark, sf))
    // exactly two exchanges in the final plan: ONE hash shuffle into
    // the window (shared by all four functions) + the presentation
    // range sort — a per-function shuffle would show as more
    val ex = "Exchange \\(".r
      .findAllIn(p.split("== Initial Plan ==")(0)).length
    assert(ex == 2, s"expected window + output-sort exchanges only, got $ex:\n$p")
    val windows = "\\bWindow\\b".r.findAllIn(p).length
    assert(windows >= 1)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q28: unpivot is an Expand — no exchange beyond the aggregate + output sort") {
    val p = plan(Relational.q28(spark, sf))
    assert(p.contains("Expand"))
    // the melt itself adds NO exchange: the final plan holds only the
    // wide aggregate's shuffle + the presentation sort
    val ex = "Exchange \\(".r
      .findAllIn(p.split("== Initial Plan ==")(0)).length
    assert(ex == 2, s"expected aggregate + output-sort exchanges only, got $ex:\n$p")
  }

  test("p6: MERGE is one full-outer pk join, no nested-loop anywhere") {
    val p = plan(graft.operators.Scd.p6(spark, sf))
    assert(p.contains("FullOuter"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("v9: encoded corpus scores through narrow maps — no join in the scoring path") {
    val p = plan(graft.operators.Knn.v9(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // probe/ADC tables ride broadcast variables, not joins: the only
    // plan nodes between the scan and the rank are object maps
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"v9 must not join for scoring:\n$p")
  }

  test("q12: range join plans as an equality hash join, not nested-loop") {
    val p = plan(graft.operators.AsOf.rangeJoin(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("runtime bloom filter from a selective dim prunes the fact scan") {
    // the 100 TB shuffle-join companion to static pushdown: a bloom
    // of the filtered creation side's join keys is injected into the
    // fact side BEFORE the shuffle, so non-matching fact rows drop at
    // the scan instead of riding the exchange. Thresholds are sized
    // for clusters — force-enable in a child session to pin the plan.
    val ns = spark.newSession()
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // shuffle join
    ns.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    ns.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    ns.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    val li = Tables.lineitem(ns, sf).select(col("l_orderkey"), col("l_quantity"))
    val ord = Tables.orders(ns, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .agg(sum(col("l_quantity")))
    val p = plan(j)
    assert(p.contains("might_contain"), s"no runtime bloom filter in plan:\n$p")
  }

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // 90% of the fact rides one key: a single reduce partition would
      // carry ~14 MB against a 16 KB advisory size
      val fact = spark.range(0, 200000).select(
        expr("CASE WHEN id % 10 < 9 THEN 0L ELSE id END").as("k"),
        expr("repeat('x', 64)").as("pad"))
      val dim = spark.range(0, 200000).select(col("id").as("k"),
        expr("repeat('y', 8)").as("d"))
      // global aggregate: partial agg imposes no distribution on the
      // join output, so AQE is free to split the skewed partition
      val j = fact.join(dim, Seq("k")).agg(sum(length(col("pad"))).as("s"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"expected a skew-split join:\n${p.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("p7: the plan costs one inventory shuffle — window and aggregate share it") {
    val p = plan(graft.operators.Layout.p7(spark, sf)).split("== Initial Plan ==")(0)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // source-hash exchange (window + same-keyed agg reuse it) + the
    // presentation sort — never a single-partition global window
    assert(!p.contains("SinglePartition"), s"global window leaked:\n$p")
    val exchanges = "ShuffleQueryStage".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected window+agg to share the source shuffle; got $exchanges\n$p")
  }

  test("t20: feature tables broadcast — corpus never shuffle-joins") {
    val p = plan(graft.operators.TextStats.t20(spark, sf)).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"))
    // the occurrence⋈feature scoring join rides a broadcast; a
    // sort-merge join would mean the corpus shuffled on the feature
    // key. The only nested-loop joins are the Cross-build broadcasts
    // of 1-row totals (nt/nr/threshold) — assert nothing else
    // nested-loops
    assert(!p.contains("SortMergeJoin"), s"corpus shuffle-joined:\n$p")
    assert(p.contains("BroadcastHashJoin"))
    val bnlj = "BroadcastNestedLoopJoin ([a-zA-Z]+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(bnlj.forall(_ == "Cross"), s"non-cross nested-loop: $bnlj")
    assert(bnlj.length <= 5, s"more 1-row broadcasts than the totals need: $bnlj")
  }

  test("p8: all four columns' stats ride ONE lineitem scan, level 1 in codegen") {
    val p = plan(graft.operators.Layout.p8(spark, sf)).split("== Initial Plan ==")(0)
    // one scan + the pair explode — not a rescan per column
    assert("Scan parquet".r.findAllIn(p).length == 1, s"per-column rescan:\n$p")
    assert(p.contains("Generate"), s"pair explode missing:\n$p")
    // the DATA-SIZED aggregate — (col_name, v) counts — must stay a
    // codegen HashAggregate: its count-only buffer is fixed-size.
    // (The 4-row level 2 may SortAggregate; its string min/max
    // buffers are var-length and its input is Σndv rows — §8.32.)
    // Structurally: the tree prints root-down, so every level-2
    // SortAggregate line must sit ABOVE the codegen HashAggregates,
    // which in turn sit above the Generate they consume.
    val lines = p.linesIterator.toSeq
    val firstHash = lines.indexWhere(_.contains("* HashAggregate"))
    val lastHash = lines.lastIndexWhere(_.contains("* HashAggregate"))
    val gen = lines.indexWhere(_.contains("Generate"))
    assert(firstHash >= 0 && gen > lastHash,
      s"pair counts not a codegen HashAggregate over the explode:\n$p")
    val badSort = lines.zipWithIndex.exists { case (l, i) =>
      (l.contains("SortAggregate") || l.contains("ObjectHashAggregate")) && i > firstHash
    }
    assert(!badSort, s"non-codegen aggregate at/below the data-sized level:\n$p")
  }

  test("q30: order statistics run over the value histogram, not raw rows") {
    val p = plan(Relational.q30(spark, sf)).split("== Initial Plan ==")(0)
    // histogram aggregate + final per-group aggregate surround the
    // window; a raw-row formulation would have a Window directly
    // over the scan with no aggregate below it
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"no histogram stage:\n$p")
    assert(p.contains("Window"))
    assert("Scan parquet".r.findAllIn(p).length == 1)
  }

  test("g3/v14: wedge closing and refine are equality joins — no cartesian") {
    Seq(graft.operators.Graph.g3(spark, sf),
        graft.operators.Knn.v14(spark, sf)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"non-equality join:\n$p")
    }
  }

  test("q32/t23: audit top-k is TakeOrderedAndProject, never a global sort") {
    // orderBy.limit must compile to per-partition bounded heaps + a
    // k-row merge; a Sort feeding the limit would sort the corpus
    Seq(plan(Relational.q32(spark, sf)),
        plan(graft.operators.Sampling.t23(spark, sf))).foreach { p0 =>
      val p = p0.split("== Initial Plan ==")(0)
      assert(p.contains("TakeOrderedAndProject"), s"no bounded top-k:\n$p")
    }
  }

  test("t22: stratified sample windows are salt-bounded, one scan") {
    val p = plan(graft.operators.Sampling.t22(spark, sf))
      .split("== Initial Plan ==")(0)
    // two window passes (level 0 salted, level 1 over survivors) —
    // never a single stratum-wide ranking of the full corpus
    assert("Window \\(".r.findAllIn(p).length == 2, s"two-level rank missing:\n$p")
    // and Spark's rank-limit pushdown guards each: rows beyond k die
    // in WindowGroupLimit BEFORE the sort/shuffle, map-side
    assert(p.contains("WindowGroupLimit"), s"rank pushdown missing:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1)
  }

  test("g4/m9: component and landmark joins are equality joins — no cartesian") {
    Seq(graft.operators.Graph.g4(spark, sf),
        graft.operators.Media.m9(spark, sf)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"non-equality join:\n$p")
    }
  }

  test("g7/g8/g9/g10/g18/g22: iterative graph rounds are equality joins over checkpointed state — no cartesian, no window") {
    Seq(graft.operators.Graph.g7(spark, sf),
        graft.operators.Graph.g8(spark, sf),
        graft.operators.Graph.g9(spark, sf),
        graft.operators.Graph.g10(spark, sf),
        graft.operators.Graph.g18(spark, sf),
        graft.operators.Graph.g22(spark, sf)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"non-equality join:\n$p")
      // the loop state enters the final round as a checkpointed RDD
      // scan, not a re-derived lineage (the g1/q27 iterative contract)
      assert(p.contains("Scan ExistingRDD"), s"no checkpointed state leaf:\n$p")
      // per-node results come from joins and aggregates only — a
      // node-grain window would serialize on the single node key
      assert(!p.contains("Window ("), s"unexpected window:\n$p")
    }
  }

  test("q33: the only single-partition work rides the bucket/presentation grain") {
    val p = plan(Relational.q33(spark, sf)).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // in-bucket prefix window (partitioned by pb) + bucket-grain carry
    // window — the carry and the presentation sort are the only
    // SinglePartition exchanges, and both ride aggregate-reduced rows
    assert("Window \\(".r.findAllIn(p).length == 2, s"two-level prefix min missing:\n$p")
    val single = "Exchange SinglePartition".r.findAllIn(p).length
    assert(single <= 2, s"corpus-sized single-partition exchange:\n$p")
    // the carry window's input is the bucket aggregate, never a scan:
    // every SinglePartition exchange line sits above (consumes) a
    // HashAggregate line in the root-down printout
    val lines = p.linesIterator.toSeq
    val firstSingle = lines.indexWhere(_.contains("Exchange SinglePartition"))
    val lastAgg = lines.lastIndexWhere(_.contains("HashAggregate"))
    assert(firstSingle < 0 || lastAgg > firstSingle,
      s"single-partition exchange not over an aggregate grain:\n$p")
  }

  test("e13: both conversion windows and the aggregate share one user exchange") {
    val p = plan(graft.operators.EventWindows.e13(spark, sf))
      .split("== Initial Plan ==")(0)
    assert("Window \\(".r.findAllIn(p).length == 2, s"two windows expected:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1)
    // one user_id hash exchange + the presentation repartition(1)
    val exchanges = "ShuffleQueryStage".r.findAllIn(p).length
    assert(exchanges <= 2, s"windows/aggregate re-shuffled:\n$p")
  }

  test("v15: hamming scan stays in codegen; only 1-row/query broadcasts nest") {
    val pFull = plan(graft.operators.Knn.v15(spark, sf))
    val p = pFull.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"))
    // the query-signature fan-out is the one Cross broadcast; the
    // shortlist id join and rerank must be hash joins
    val bnlj = "BroadcastNestedLoopJoin ([a-zA-Z]+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(bnlj.forall(_ == "Cross") && bnlj.length <= 1, s"non-cross nested-loop: $bnlj")
    // xor+popcount evaluated as a plain codegen projection (expression
    // details live in the full formatted dump), and the shortlist cut
    // guarded by the rank pushdown
    assert(pFull.contains("bit_count"), s"hamming not in the plan:\n$pFull")
    assert(p.contains("WindowGroupLimit"), s"shortlist rank pushdown missing:\n$p")
  }

  test("t31: NFC normalization is one codegen projection, zero data exchanges") {
    val pFull = plan(graft.operators.TextStats.t31(spark, sf))
    val p = pFull.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(p).length == 1)
    // the native expression appears in the projection and never
    // falls out of whole-stage codegen (no UDF eval nodes)
    assert(pFull.contains("nfcnormalize"), s"native expression missing:\n$pFull")
    assert(!p.contains("BatchEvalPython") && !p.contains("MapElements"))
    // row-local audit: the only shuffle is the presentation sort
    val exchanges = "ShuffleQueryStage".r.findAllIn(p).length
    assert(exchanges <= 1, s"normalization path shuffled:\n$p")
  }

  test("t24: hashed features cost one scan, one explode, one shuffle") {
    val p = plan(graft.operators.TextStats.t24(spark, sf)).split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(p).length == 1)
    assert(p.contains("Generate"), s"word explode missing:\n$p")
    // (doc_id, dim) aggregate exchange + presentation repartition(1)
    val exchanges = "ShuffleQueryStage".r.findAllIn(p).length
    assert(exchanges <= 2, s"extra shuffle in the hashing path:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("SortMergeJoin"))
  }

  test("d16: the dedup exchange is keyed on the 8-byte digest") {
    val pFull = plan(graft.operators.Dedup.d16(spark, sf))
    // the group-by exchange hashes on the fnv64 digest column k —
    // canonical strings ride only as map-side-combined representatives
    assert(pFull.contains("hashpartitioning(k#"), s"digest-keyed exchange missing:\n$pFull")
    assert("Scan parquet".r.findAllIn(pFull.split("== Initial Plan ==")(0)).length == 1)
  }

  test("q34: the sketch is one scan + a 256-row histogram — no join-back rescan") {
    val p = plan(Relational.q34(spark, sf)).split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(p).length == 1, s"histogram rescanned:\n$p")
    // histogram aggregate below the window; quantile location joins
    // nothing corpus-sized (the q values are a Cross broadcast)
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"no histogram stage:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("g5/e14: audit queries stay on equality joins; 1-row totals broadcast") {
    val pg = plan(graft.operators.Graph.g5(spark, sf)).split("== Initial Plan ==")(0)
    assert(!pg.contains("CartesianProduct"))
    val bnlj = "BroadcastNestedLoopJoin ([a-zA-Z]+)".r.findAllMatchIn(pg).map(_.group(1)).toSeq
    assert(bnlj.forall(_ == "Cross") && bnlj.length <= 1, s"non-cross nested-loop: $bnlj")
    val peFull = plan(graft.operators.EventWindows.e14(spark, sf))
    val pe = peFull.split("== Initial Plan ==")(0)
    assert(!pe.contains("CartesianProduct") && !pe.contains("BroadcastNestedLoopJoin"))
    // the LTV cumulative rides the cohort-partitioned window, never a
    // corpus-global one
    assert(peFull.contains("windowspecdefinition(cohort"),
      s"cumulative window not cohort-partitioned:\n$peFull")
  }

  test("t25: pair generation is a narrow map — two corpus scans, no positional self-join") {
    val p = plan(graft.operators.TextStats.t25(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop is the 1-row N broadcast
    val bnlj = "BroadcastNestedLoopJoin ([a-zA-Z]+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(bnlj.forall(_ == "Cross") && bnlj.length <= 1, s"non-cross nested-loop: $bnlj")
    // in-window pairs come from the array transform, never a
    // positional token self-join: documents is scanned exactly twice
    // (pair arm + unigram arm; N derives from the unigram table)
    assert("Scan parquet".r.findAllIn(p).length == 2, s"scan count:\n$p")
    assert(!p.contains("Window ("), s"unexpected window:\n$p")
  }

  test("v16: the kNN-graph self-join stays on equality joins — no cartesian") {
    val p = plan(graft.operators.Knn.v16(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equality join:\n$p")
    // candidate dedup + per-source rank both present: the self-join
    // output passes through a distinct aggregate before scoring, and
    // the two-level rank's pushdown guards the top-k
    assert(p.contains("WindowGroupLimit"), s"rank pushdown missing:\n$p")
  }

  test("p10: refresh reads the stored view — one delta join, no base recompute") {
    val pFull = plan(graft.operators.Incremental.p10(spark, sf))
    val p = pFull.split("== Initial Plan ==")(0)
    // exactly ONE join in the whole refresh plan — the Δfact ⋈ dim
    // leg; a second join would mean the base view was recomputed
    // from the fact table instead of read from the store
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(p).length
    assert(joins == 1, s"expected exactly 1 join (delta leg only):\n$p")
    // the base side IS a scan of the materialized store (the
    // temp-dir naming is part of p10's contract with this spec)
    assert(pFull.contains("graft_p10_store_"), s"stored-view scan missing:\n$pFull")
    // and the fact table feeds ONLY the delta leg: of the three
    // parquet scans (store, lineitem-delta, orders), lineitem's
    // location appears once
    val liScans = pFull.linesIterator.count(l =>
      l.contains("Location") && l.contains("lineitem"))
    assert(liScans == 1, s"fact table scanned more than once:\n$pFull")
  }

  test("g12: candidates come from the capped wedge join; top-100 is a bounded take, not a global sort") {
    val p = plan(graft.operators.Graph.g12(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equality join:\n$p")
    // the final LIMIT 100 must be TakeOrderedAndProject (bounded
    // per-partition top-k + driver merge), never a full global sort
    assert(p.contains("TakeOrderedAndProject"), s"global sort instead of bounded take:\n$p")
    // the per-center cap is a guarded rank: pushdown kills rows > cap
    // before the wedge join's shuffle
    assert(p.contains("WindowGroupLimit"), s"cap rank pushdown missing:\n$p")
  }

  test("w25: blob components enter as precomputed state; the only nested-loop joins are the dense-grid broadcasts") {
    val pFull = plan(graft.operators.Weather.w25(spark, sf))
    val p = pFull.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // w12's dense grid expands via exactly two bounded broadcasts
    // (the 30-day and 24-hour tables, condition-free BNLJ); every
    // other join must be an equality join
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 2, s"nested-loop beyond the two dense-grid broadcasts ($bnlj):\n$p")
    // ccStars labels arrive as PRECOMPUTED state, never re-derived
    // inline — shape-aware since the round-18 bounded-local path:
    // a blob graph over Bounded.smallBudget enters as a checkpointed
    // RDD leaf (distributed star loop); one at or under the gate
    // (this SF) enters as the local label relation broadcast into
    // the left join. The grid tables come from parquet scans, so
    // the LocalTableScan leaf is unambiguously the label relation.
    assert(pFull.contains("Scan ExistingRDD") ||
        pFull.contains("LocalTableScan"),
      s"no precomputed component state (checkpointed RDD or local label relation):\n$pFull")
  }

  test("e16: lag window and moment aggregate share one user exchange") {
    val p = plan(graft.operators.EventWindows.e16(spark, sf))
      .split("== Initial Plan ==")(0)
    assert("Window \\(".r.findAllIn(p).length == 1, s"one lag window expected:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1)
    // one user_id hash exchange + the presentation repartition(1)
    val exchanges = "ShuffleQueryStage".r.findAllIn(p).length
    assert(exchanges <= 2, s"window/aggregate re-shuffled:\n$p")
  }

  test("p12: the audit is scans + aggregates only — no join, no window") {
    val p = plan(graft.operators.Layout.p12(spark, sf))
      .split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(p).length == 2, s"one scan per layout:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(!p.contains("Window ("), s"unexpected window:\n$p")
  }

  test("p9: the purge flag is a broadcast join — the corpus never shuffles by user") {
    val pFull = plan(graft.operators.Corpus.p9(spark, sf))
    val p = pFull.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), s"registry not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled on user_id:\n$p")
    // registry derivation pushes the type filter into its scan
    assert(pFull.contains("EqualTo(event_type,error)"), s"registry filter not pushed:\n$pFull")
  }
}
