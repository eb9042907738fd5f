package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Bounded

/** Graph centrality for crawl curation (SURVEY.md §2 g1): large-scale
  * corpus pipelines rank hosts/pages by link centrality to prioritize
  * what gets crawled and kept (CommonCrawl publishes harmonic
  * centrality + PageRank host rankings for exactly this use). The
  * iterative shape here — score join edges, re-aggregate on dst,
  * lineage cut per round — is the template every power-method
  * centrality shares.
  */
object Graph {

  /** Total rank mass, fixed-point. Integer mass makes every iteration
    * EXACT: float PageRank drifts across engines (order-dependent
    * sums), while integer shares with truncating division reproduce
    * bitwise anywhere. The tiny mass lost to truncation each round is
    * deterministic and identical in both engines — a documented
    * property of the fixed-point formulation, not noise.
    */
  private val massS = 1000000000000L // 1e12
  private val g1Rounds = 10

  /** g1: PageRank (Page et al. 1999) over a derived link graph, the
    * power method run [[g1Rounds]] rounds with damping 85/100.
    *
    * Graph: every customer key (0-based, 0..N−1) links to two
    * arithmetic neighbors ((id·31+7) % N, (id·17+3) % N) and its
    * parent (id div 2, for id ≥ 2) — deterministic, 2-3 out-links
    * per node, every target a REAL node (no phantom mass sink), so
    * both engines build the identical edge multiset (self-loops and
    * duplicate targets are legitimate edges and count in deg).
    *
    * Iteration (all BIGINT): share(u) = ((r(u)·85) div 100) div
    * deg(u) per out-edge; next(v) = base + Σ in-shares with base =
    * (S·15/100) div N. Scale shape: one edges⋈rank equality join +
    * one dst aggregate per round (map-side partial), rank state
    * localCheckpoint'd per round and freed via
    * [[graft.functions.Lineage.freeCheckpoint]] — the q27/d6
    * iterative contract. At 100 TB, edges co-partition by src across
    * rounds so the join reuses one partitioning; the dst aggregate
    * is the only other exchange.
    */
  def g1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val edges = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
    // out-degree is loop-invariant: fold it into the CACHED edge
    // table ONCE — left lazy outside the loop, the deg aggregate
    // (a full-edge-set shuffle) would re-execute in all 10 rounds
    val linked = edges
      .join(edges.groupBy($"src").agg(count(lit(1)).as("deg")), Seq("src"))
      .cache()
    val base = (massS * 15L / 100L) / n
    var rank = nodes.withColumn("r", lit(massS / n)).localCheckpoint()
    (1 to g1Rounds).foreach { _ =>
      val contrib = linked
        .join(rank.withColumnRenamed("id", "src"), Seq("src"))
        .selectExpr("dst", "((r * 85) div 100) div deg AS share")
        .groupBy($"dst").agg(sum($"share").as("m"))
      val next = nodes
        .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
        .selectExpr("id", s"CAST($base AS BIGINT) + coalesce(m, CAST(0 AS BIGINT)) AS r")
        .localCheckpoint()
      graft.functions.Lineage.freeCheckpoint(rank)
      rank = next
    }
    linked.unpersist(blocking = false)
    rank.select($"id".as("c_custkey"), $"r".as("rank_mass"))
      .transform(graft.Tables.ordered(_, $"c_custkey"))
  }

  private val g2Rounds = 8

  /** g2: HITS hubs & authorities (Kleinberg 1999, JACM 46(5)) over
    * g1's derived link graph — the second classic crawl-ranking
    * signal: authorities are what you KEEP, hubs are where you CRAWL
    * NEXT. Mutual recursion per round: auth(v) = Σ_{u→v} hub(u),
    * then hub(u) = Σ_{u→v} auth(v) using the NEW auth (the standard
    * update order).
    *
    * Integerization: HITS needs a norm each round or scores explode.
    * The float L2 norm is order-dependent across engines, so instead
    * each half-step rescales integer mass: x'(v) = xraw(v) div
    * max(total div S, 1) with S = [[massS]]. All values stay
    * positive BIGINTs (per-node raw ≤ total ≈ 3S — no overflow, and
    * no BIGINT·BIGINT product anywhere, which DuckDB would reject);
    * total mass stays in [S, 2S); truncation loss is deterministic
    * and identical in both engines (g1's fixed-point argument). The
    * 1-row total rides a broadcast cross join INSIDE each round's
    * checkpointed plan — no driver collect.
    *
    * Scale shape per half-step: one edges⋈state equality join + one
    * dst (resp. src) partial aggregate + a 1-row total broadcast;
    * state localCheckpoint'd per round and freed
    * ([[graft.functions.Lineage.freeCheckpoint]]) — the q27/d6/g1
    * iterative contract. Edges co-partition by the join side across
    * rounds, so a cluster reuses one exchange per direction.
    */
  def g2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val edges = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
      .cache()
    // one normalized half-step: raw = Σ over edges of the other
    // score, then rescale to ~S total via the integer quotient
    def halfStep(state: DataFrame, scoreCol: String, keyIn: String,
                 keyOut: String, outCol: String): DataFrame = {
      val raw = edges
        .join(state.withColumnRenamed("id", keyIn), Seq(keyIn))
        .groupBy(col(keyOut).as("id"))
        .agg(sum(col(scoreCol)).as("raw"))
      val total = raw.agg(expr(s"greatest(sum(raw) div $massS, CAST(1 AS BIGINT)) AS q"))
      nodes.join(raw, Seq("id"), "left_outer")
        .crossJoin(broadcast(total))
        .selectExpr("id", s"coalesce(raw, CAST(0 AS BIGINT)) div q AS $outCol")
    }
    var auth = nodes.withColumn("a", lit(massS / n)).localCheckpoint()
    var hub = nodes.withColumn("h", lit(massS / n)).localCheckpoint()
    (1 to g2Rounds).foreach { _ =>
      val nextAuth = halfStep(hub, "h", "src", "dst", "a").localCheckpoint()
      graft.functions.Lineage.freeCheckpoint(auth)
      auth = nextAuth
      val nextHub = halfStep(auth, "a", "dst", "src", "h").localCheckpoint()
      graft.functions.Lineage.freeCheckpoint(hub)
      hub = nextHub
    }
    auth.join(hub, Seq("id"))
      .select($"id".as("c_custkey"), $"a".as("auth_mass"), $"h".as("hub_mass"))
      .transform(graft.Tables.ordered(_, $"c_custkey"))
  }

  /** g2 oracle: the identical normalized integer mutual recursion
    * unrolled — an (araw, a, hraw, h) CTE quad per round; `//` equals
    * Spark's `div` on these all-positive values; BIGINT sums cast
    * back from DuckDB's HUGEINT.
    */
  val g2Sql: String = {
    val rounds = (1 to g2Rounds).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT e.dst AS id, CAST(sum(h.h) AS BIGINT) AS raw
         |         FROM e JOIN h${i - 1} h ON h.id = e.src GROUP BY e.dst),
         |a$i AS MATERIALIZED (SELECT nd.id,
         |          coalesce(r.raw, 0) // (SELECT greatest(CAST(sum(raw) AS BIGINT) // $massS, 1) FROM ar$i) AS a
         |        FROM nodes nd LEFT JOIN ar$i r ON r.id = nd.id),
         |hr$i AS MATERIALIZED (SELECT e.src AS id, CAST(sum(a.a) AS BIGINT) AS raw
         |         FROM e JOIN a$i a ON a.id = e.dst GROUP BY e.src),
         |h$i AS MATERIALIZED (SELECT nd.id,
         |          coalesce(r.raw, 0) // (SELECT greatest(CAST(sum(raw) AS BIGINT) // $massS, 1) FROM hr$i) AS h
         |        FROM nodes nd LEFT JOIN hr$i r ON r.id = nd.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |e AS MATERIALIZED (SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn
      |      UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |      UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2),
      |a0 AS (SELECT id, CAST($massS // nn.n AS BIGINT) AS a FROM nodes, nn),
      |h0 AS (SELECT id, CAST($massS // nn.n AS BIGINT) AS h FROM nodes, nn),
      |$rounds
      |SELECT a.id AS c_custkey, CAST(a.a AS BIGINT) AS auth_mass,
      |       CAST(h.h AS BIGINT) AS hub_mass
      |FROM a$g2Rounds a JOIN h$g2Rounds h ON h.id = a.id
      |ORDER BY c_custkey""".stripMargin
  }

  /** g1 oracle: the identical integer power method unrolled — one
    * (contrib, rank) CTE pair per round over the same arithmetic
    * edge multiset; `//` (floor) equals Spark's `div` on these
    * all-positive values.
    */
  val g1Sql: String = {
    val rounds = (1 to g1Rounds).map { i =>
      s"""c$i AS (SELECT e.dst, ((r.r * 85) // 100) // d.deg AS share
         |        FROM e JOIN r${i - 1} r ON r.id = e.src JOIN deg d ON d.src = e.src),
         |r$i AS (SELECT nd.id, b.base + coalesce(s.m, 0) AS r
         |        FROM nodes nd
         |        LEFT JOIN (SELECT dst, CAST(sum(share) AS BIGINT) AS m FROM c$i GROUP BY dst) s
         |          ON s.dst = nd.id
         |        CROSS JOIN bs b)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |e AS (SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn
      |      UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |      UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      |bs AS (SELECT CAST(($massS * 15 / 100) // n AS BIGINT) AS base FROM nn),
      |r0 AS (SELECT id, CAST($massS // nn.n AS BIGINT) AS r FROM nodes, nn),
      |$rounds
      |SELECT id AS c_custkey, CAST(r AS BIGINT) AS rank_mass
      |FROM r$g1Rounds
      |ORDER BY c_custkey""".stripMargin
  }

  /** g3: triangle counting with DEGREE-ORDERED edge orientation
    * (Suri & Vassilvitskii 2011, WWW — the MapReduce/Spark-standard
    * scheme) over g1's derived link graph, plus each node's degree:
    * the local-clustering / community-density signal next to g1's
    * centrality and g2's hub-authority scores (dense triangle
    * neighborhoods = topically coherent link clusters a curation
    * pass keeps or collapses together).
    *
    * Shape: self-loops dropped, the multigraph collapsed to DISTINCT
    * undirected pairs, then each edge oriented from its
    * (degree, id)-smaller endpoint so every wedge is enumerated
    * exactly once at its lowest-degree apex — the orientation that
    * bounds per-node fan-out by O(sqrt(|E|)) and kills the
    * high-degree-hub wedge explosion a naive src-join suffers at
    * scale. Two equality joins close the wedges; counts come back
    * per node via a positional union of the three corners. All
    * integer; output is nodes participating in >= 1 triangle.
    */
  def g3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val e0 = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
    val und = e0.filter($"src" =!= $"dst")
      .selectExpr("least(src, dst) AS u", "greatest(src, dst) AS v")
      .distinct()
    val deg = und.selectExpr("u AS x").unionAll(und.selectExpr("v AS x"))
      .groupBy($"x").agg(count(lit(1)).as("d"))
    val o = und
      .join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), Seq("u"))
      .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), Seq("v"))
      .selectExpr(
        "CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS a",
        "CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS b")
      .cache()
    val tri = o.as("e1")
      .join(o.as("e2"), col("e1.b") === col("e2.a"))
      .join(o.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    tri.selectExpr("x AS id")
      .unionAll(tri.selectExpr("y AS id"))
      .unionAll(tri.selectExpr("z AS id"))
      .groupBy($"id").agg(count(lit(1)).as("tri_cnt"))
      .join(deg.withColumnRenamed("x", "id"), Seq("id"))
      .select($"id".as("c_custkey"), $"tri_cnt", $"d".as("deg"))
      .transform(Tables.ordered(_, $"c_custkey"))
  }

  /** g4: weakly connected components over a SPARSE derived link
    * graph — the web-graph partition pass crawl curation runs before
    * per-component work (a component ≈ a site/mirror cluster; CC
    * feeds mirror detection and per-site quotas the way d6 feeds
    * dedup survivor choice). Unlike d6's seeded copy-chains, this
    * graph's component structure is NOT closed-form: edges exist only
    * where the arithmetic predicates fire (~73% of nodes carry any),
    * so components range from singletons to long chains.
    *
    * Runs the O(log n)-round large-star/small-star contraction
    * ([[graft.operators.Dedup.ccPropagate]]'s sibling `ccStars`,
    * Kiveris et al. 2014) unconditionally: with unknown diameter the
    * log-round bound is the right default, and near-dup-style
    * propagation (diameter rounds) could be the pathological case
    * here. Per round: two groupBy-min shuffles + a distinct; lineage
    * cut per round. Edgeless customers rejoin as singletons via the
    * final left join (labels(id,lbl) covers edge endpoints only).
    * Output: one row per node with its component root and the
    * component size — the per-node grain downstream quota/mirror
    * logic joins against.
    */
  def g4(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val edges = nodes.filter($"id" % 5 < 2)
      .selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.filter($"id" % 3 === 0)
        .selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
    val (labels, _, conv) = Dedup.ccStars(edges, 50)
    require(conv, "g4 ccStars did not converge within 50 rounds")
    val labeled = nodes
      .join(labels, Seq("id"), "left_outer")
      .select($"id", coalesce($"lbl", $"id").as("component"))
    labeled
      .join(labeled.groupBy($"component").agg(count(lit(1)).as("csize")),
        Seq("component"))
      .select($"id".as("c_custkey"), $"component", $"csize")
      .transform(Tables.ordered(_, $"c_custkey"))
  }

  /** g4 oracle: min-label transitive closure via DuckDB's recursive
    * CTE (UNION dedups rows, so the recursion reaches the fixpoint) —
    * an implementation-independent ground truth for the contraction.
    * Closure size is Σ|component|² rows — fine at oracle scale; the
    * Spark side never materializes it.
    */
  val g4Sql: String =
    """WITH RECURSIVE nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |e AS (SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn WHERE id % 5 < 2
      |      UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn WHERE id % 3 = 0),
      |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
      |reach(id, lbl) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.id),
      |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
      |SELECT c.id AS c_custkey, c.component, s.csize
      |FROM comp c
      |JOIN (SELECT component, count(*) AS csize FROM comp GROUP BY component) s
      |  ON s.component = c.component
      |ORDER BY c_custkey""".stripMargin

  private val g5Parts = 16L

  /** g5: MODULARITY of a candidate partition over the link graph
    * (Newman & Girvan 2004) — here the arithmetic host-shard
    * `id % 16`, asking the data-layout question: does sharding by id
    * keep linked pages together? Q = Σ_c [e_c/m − (d_c/2m)²]
    * measures exactly that (0 ≈ random, >0.3 ≈ strong locality), and
    * a layout job runs this audit BEFORE committing to a partition
    * key (p2's z-order locality argument, measured on the graph
    * instead of the grid).
    *
    * All inputs to the per-part contribution are exact integers
    * (within-part edge count, degree sum, 2m); each output double is
    * one division / one multiply / one subtract of those — single
    * IEEE ops are bitwise cross-engine (the d4/jaccard discipline).
    * Shape: one distinct-edge canonicalization, a degree aggregate,
    * one part-grain edge aggregate; m rides a 1-row broadcast inside
    * the plan (g2's idiom, no driver collect).
    */
  def g5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val e0 = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
    val und = e0.filter($"src" =!= $"dst")
      .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
      .distinct().cache()
    val m = und.agg(count(lit(1)).as("m"))
    val deg = und.selectExpr("a AS x").unionAll(und.selectExpr("b AS x"))
      .groupBy($"x").agg(count(lit(1)).as("d"))
    val eIn = und.filter($"a" % g5Parts === $"b" % g5Parts)
      .groupBy(($"a" % g5Parts).as("part")).agg(count(lit(1)).as("e_in"))
    val parts = nodes.select(($"id" % g5Parts).as("part"), $"id")
      .join(deg.withColumnRenamed("x", "id"), Seq("id"), "left_outer")
      .groupBy($"part")
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce($"d", lit(0L))).as("deg_sum"))
    parts.join(eIn, Seq("part"), "left_outer")
      .withColumn("e_in", coalesce($"e_in", lit(0L)))
      .crossJoin(broadcast(m))
      .selectExpr("part", "n_nodes", "e_in", "deg_sum",
        "CAST(e_in AS DOUBLE) / CAST(m AS DOUBLE) " +
          "- (CAST(deg_sum AS DOUBLE) / CAST(2 * m AS DOUBLE)) " +
          "* (CAST(deg_sum AS DOUBLE) / CAST(2 * m AS DOUBLE)) AS contribution")
      .transform(Tables.ordered(_, $"part"))
  }

  /** g5 oracle: identical canonical edge set, degree and part
    * aggregates, and single-op IEEE contribution arithmetic.
    */
  val g5Sql: String =
    s"""WITH nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |e0 AS (SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn
      |       UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |       UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2),
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM e0 WHERE src <> dst),
      |m AS (SELECT count(*) AS m FROM und),
      |deg AS (SELECT x, count(*) AS d
      |        FROM (SELECT a AS x FROM und UNION ALL SELECT b FROM und)
      |        GROUP BY x),
      |ein AS (SELECT a % $g5Parts AS part, count(*) AS e_in
      |        FROM und WHERE a % $g5Parts = b % $g5Parts GROUP BY 1),
      |parts AS (SELECT id % $g5Parts AS part, count(*) AS n_nodes,
      |            CAST(sum(coalesce(d, 0)) AS BIGINT) AS deg_sum
      |          FROM nodes LEFT JOIN deg ON deg.x = nodes.id
      |          GROUP BY 1)
      |SELECT p.part, p.n_nodes, coalesce(e.e_in, 0) AS e_in, p.deg_sum,
      |  CAST(coalesce(e.e_in, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
      |    - (CAST(p.deg_sum AS DOUBLE) / CAST(2 * m.m AS DOUBLE))
      |    * (CAST(p.deg_sum AS DOUBLE) / CAST(2 * m.m AS DOUBLE)) AS contribution
      |FROM parts p LEFT JOIN ein e ON e.part = p.part CROSS JOIN m
      |ORDER BY p.part""".stripMargin

  /** g3 oracle: identical orientation and wedge-closing joins. */
  val g3Sql: String =
    """WITH nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |e0 AS (SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn
      |       UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |       UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2),
      |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |        FROM e0 WHERE src <> dst),
      |deg AS (SELECT x, count(*) AS d
      |        FROM (SELECT u AS x FROM und UNION ALL SELECT v FROM und)
      |        GROUP BY x),
      |o AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS a,
      |             CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS b
      |      FROM und JOIN deg du ON du.x = u JOIN deg dv ON dv.x = v),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |        FROM o e1 JOIN o e2 ON e1.b = e2.a
      |        JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b),
      |cnt AS (SELECT id, CAST(count(*) AS BIGINT) AS tri_cnt
      |        FROM (SELECT x AS id FROM tri
      |              UNION ALL SELECT y FROM tri
      |              UNION ALL SELECT z FROM tri)
      |        GROUP BY id)
      |SELECT id AS c_custkey, tri_cnt, CAST(d AS BIGINT) AS deg
      |FROM cnt JOIN deg ON deg.x = cnt.id
      |ORDER BY c_custkey""".stripMargin

  // ---------- g17: local clustering coefficient ----------

  /** g17: LOCAL CLUSTERING COEFFICIENT (Watts & Strogatz 1998,
    * "Collective dynamics of 'small-world' networks") — per node,
    * the fraction of its neighbor pairs that are themselves
    * linked: C(v) = 2·t(v) / (deg(v)·(deg(v)−1)) — the small-world
    * audit beside g16's degree tail (a crawl graph is both
    * heavy-tailed AND clustered; a random graph is neither — and
    * this fixture's near-random base measures accordingly low,
    * the honest g16/t27 detection idiom). Composes g3's
    * degree-ordered per-corner triangle counts verbatim; nodes in
    * no triangle enter with t = 0 via the left join (dropping them
    * would bias C upward — the classic mistake); deg ≥ 2 required
    * (C undefined below). Exact: lcc in micro-units by one
    * §8.39-safe division of BIGINTs.
    *
    * Scale shape: g3's two wedge equality joins + one left join on
    * the node grain — the triangle bound (Σ min-deg orientation)
    * is the cost, the coefficient is free arithmetic after it.
    */
  def g17(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tri = g3(spark, dir)
      .select($"c_custkey".as("id"), $"tri_cnt")
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val und = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
      .filter($"src" =!= $"dst")
      .selectExpr("least(src, dst) AS u", "greatest(src, dst) AS v")
      .distinct()
    val deg = und.selectExpr("u AS id").unionAll(und.selectExpr("v AS id"))
      .groupBy($"id").agg(count(lit(1)).as("deg"))
    deg.filter($"deg" >= 2L)
      .join(tri, Seq("id"), "left_outer")
      .selectExpr("id AS c_custkey", "deg",
        "coalesce(tri_cnt, CAST(0 AS BIGINT)) AS tri_cnt",
        "(coalesce(tri_cnt, CAST(0 AS BIGINT)) * 2000000) div (deg * (deg - 1)) AS lcc_micro")
      .transform(Tables.ordered(_, $"c_custkey"))
  }

  /** g17 oracle: g3's generated triangle query + the same degree
    * table, zero-fill left join and micro division.
    */
  val g17Sql: String =
    s"""WITH t3 AS ($g3Sql),
      |nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |e0 AS (SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn
      |       UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |       UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2),
      |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |        FROM e0 WHERE src <> dst),
      |deg AS (SELECT x AS id, CAST(count(*) AS BIGINT) AS deg
      |        FROM (SELECT u AS x FROM und UNION ALL SELECT v FROM und)
      |        GROUP BY 1)
      |SELECT deg.id AS c_custkey, deg.deg,
      |  coalesce(t3.tri_cnt, CAST(0 AS BIGINT)) AS tri_cnt,
      |  (coalesce(t3.tri_cnt, CAST(0 AS BIGINT)) * 2000000) // (deg.deg * (deg.deg - 1)) AS lcc_micro
      |FROM deg LEFT JOIN t3 ON t3.c_custkey = deg.id
      |WHERE deg.deg >= 2
      |ORDER BY c_custkey""".stripMargin

  // ---------- g6: label-propagation communities ----------

  private val g6Rounds = 6

  /** g6: COMMUNITY DETECTION by synchronous label propagation
    * (Raghavan/Albert/Kumara 2007, Phys. Rev. E 76) over the derived
    * link graph, symmetrized — the clustering pass a crawl pipeline
    * runs to group domains/pages into topical communities for
    * quota/sampling decisions (g5 scores a GIVEN partition's
    * modularity; g6 PRODUCES the partition). Classic LPA is
    * order-dependent (async updates, random tie-breaks) and would
    * never cross an engine boundary; this is the DETERMINISTIC
    * synchronous variant: every node simultaneously adopts the
    * label with the highest neighbor vote count, ties broken by
    * MINIMUM label — each round is a pure function of the previous
    * labeling, so a fixed round count is a bitwise cross-engine
    * contract (the snapshot-at-round-R semantics, documented; LPA
    * converges in ~5 rounds on real graphs).
    *
    * Scale shape: per round, ONE edges ⋈ labels equality join
    * (edge-partition-bound, g2's class), a (dst, lbl) vote count
    * (map-side combined), and the argmax as a struct-MIN aggregate
    * min((-cnt, lbl)) — also map-side combined, no window over
    * node-grain rows. Labels are 8-byte ints; per-round state is
    * lineage-cut and freed (g1/q27 discipline). Round count is
    * FIXED, not diameter-bound — communities stabilize locally.
    */
  def g6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val e0 = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
    val und = e0.filter($"src" =!= $"dst")
      .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b").distinct()
    val edges = und.select($"a".as("src"), $"b".as("dst"))
      .unionAll(und.select($"b".as("src"), $"a".as("dst"))).cache()
    val labels = lpaLabels(nodes, edges, g6Rounds)
    edges.unpersist()
    labels
      .join(labels.groupBy($"lbl").agg(count(lit(1)).as("csize")), Seq("lbl"))
      .select($"id".as("c_custkey"), $"lbl".as("community"), $"csize")
      .transform(Tables.ordered(_, $"c_custkey"))
  }

  /** The reusable synchronous-LPA core of [[g6]] (exposed as
    * `Graft.communities`): `nodes` is (id), `edges` a SYMMETRIZED
    * (src, dst) list; returns (id, lbl) after `rounds` deterministic
    * (max vote, min label) rounds, per-round state lineage-cut.
    */
  private[graft] def lpaLabels(nodes: DataFrame, edges: DataFrame,
      rounds: Int): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    var labels = nodes.withColumn("lbl", $"id").localCheckpoint()
    (1 to rounds).foreach { _ =>
      val votes = edges.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy($"dst", $"lbl").agg(count(lit(1)).as("c"))
      val winner = votes.groupBy($"dst")
        .agg(min(struct(($"c" * -1).as("nc"), $"lbl")).as("w"))
        .selectExpr("dst AS id", "w.lbl AS wlbl")
      val next = labels.join(winner, Seq("id"), "left_outer")
        .selectExpr("id", "coalesce(wlbl, lbl) AS lbl")
        .localCheckpoint()
      graft.functions.Lineage.freeCheckpoint(labels)
      labels = next
    }
    labels
  }

  // ---------- g7: k-core peeling ----------

  private val g7K = 2
  private val g7Rounds = 12

  /** g7: K-CORE PEELING (Seidman 1983, Social Networks 5; the
    * distributed formulation of Montresor/De Pellegrini/Miorandi
    * 2013) over the undirected link graph — the density filter a
    * crawl pipeline runs AFTER g4's components and g6's communities:
    * the k-core is the maximal subgraph where every node keeps ≥ k
    * neighbors, and peel depth (how many sweeps a node survives) is
    * the standard cheap proxy for "how embedded is this page in its
    * link neighborhood" (low peel depth = fringe/doorway pages, the
    * first candidates a quota pass drops).
    *
    * Graph: g1's arithmetic multiset is too regular for peeling
    * (min degree ≥ k for any interesting k), so g7 derives the
    * crawl-frontier shape peeling is actually run on — 10-page
    * "site chains" (id → id+1 within each aligned block of 10)
    * whose HEAD pages (id % 10 = 0) hub-link to two other heads
    * ((id·31+7) % N and (id·17+3) % N, snapped down to their chain
    * head). Peel depth then reads as distance from the hub core:
    * chain tails peel in sweep 1, the cascade climbs one hop per
    * sweep, and the 2-core that remains is the hub-linked head web.
    *
    * Semantics: [[g7Rounds]] synchronous peeling sweeps at k =
    * [[g7K]] — each sweep simultaneously removes every node whose
    * CURRENT degree is < k (zero-degree/edgeless nodes peel in sweep
    * 1) and drops its incident edges. Each sweep is a pure function
    * of the previous survivor set, so a fixed sweep count is a
    * bitwise cross-engine contract (g6's snapshot-at-round-R
    * argument); at the fixpoint further sweeps are no-ops (this
    * graph converges in 10 sweeps at all three test scales — the
    * spec proves fixpoint-within-R plus the true 3-core on a
    * synthetic clique+chain). Output per node: `peel_round` (sweep
    * that removed it, 0 = survived all sweeps) and `core_deg` (its
    * degree inside the surviving subgraph, 0 if peeled).
    *
    * Scale shape per sweep: one both-endpoint degree aggregate
    * (map-side combined), one survivor left-join + filter, two
    * id-only semi-joins restricting the edge set — all equality
    * exchanges on the node key; ids are 8-byte ints, state
    * lineage-cut per sweep (g1/q27 discipline). Peeled rows are
    * checkpointed per sweep and unioned once at the end (R tiny
    * frames, no lineage growth). At 100 TB the edge table
    * co-partitions by endpoint across sweeps so each sweep reuses
    * one partitioning.
    */
  def g7(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val e0 = nodes.filter($"id" % 10 =!= 9 && $"id" + 1 < n)
      .selectExpr("id AS src", "id + 1 AS dst")
      .unionAll(nodes.filter($"id" % 10 === 0).selectExpr("id AS src",
        s"((id * 31 + 7) % $n) - ((id * 31 + 7) % $n) % 10 AS dst"))
      .unionAll(nodes.filter($"id" % 10 === 0).selectExpr("id AS src",
        s"((id * 17 + 3) % $n) - ((id * 17 + 3) % $n) % 10 AS dst"))
    val und = e0.filter($"src" =!= $"dst")
      .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b").distinct()
    kcorePeel(nodes, und, g7K, g7Rounds)
      .select($"id".as("c_custkey"), $"peel_round", $"core_deg")
      .transform(Tables.ordered(_, $"c_custkey"))
  }

  /** The reusable peeling core of [[g7]] (exposed as `Graft.kcore`):
    * `nodes` is (id), `und` a canonical undirected (a, b) edge list
    * with a < b, no duplicates; returns (id, peel_round, core_deg)
    * after `rounds` synchronous sweeps at threshold `k` — per-sweep
    * state lineage-cut, peeled rows checkpointed per sweep and
    * unioned once at the end.
    */
  private[graft] def kcorePeel(nodes: DataFrame, und: DataFrame,
      k: Int, rounds: Int): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // round-18 (guide §2.4/§1.2): the peel state carries
    // (id, peel_round) in ONE frame (pr = 0 while alive) instead of
    // a shrinking survivor set plus a per-sweep anti-join and
    // per-sweep peeled checkpoint — one checkpoint and one join
    // fewer per sweep. A node's pr freezes at the sweep that removed
    // it, so the final frame IS the old nodes ⟕ peelAll union —
    // bitwise-identical output.
    var st = nodes.withColumn("pr", lit(0L)).localCheckpoint()
    var ed = und.localCheckpoint()
    (1 to rounds).foreach { i =>
      val deg = ed.selectExpr("a AS id").unionAll(ed.selectExpr("b AS id"))
        .groupBy($"id").agg(count(lit(1)).as("d"))
      val stN = st.join(deg, Seq("id"), "left_outer")
        .selectExpr("id",
          s"CASE WHEN pr = 0 AND coalesce(d, CAST(0 AS BIGINT)) < $k " +
            s"THEN CAST($i AS BIGINT) ELSE pr END AS pr")
        .localCheckpoint()
      val alive = stN.filter($"pr" === 0L).select($"id")
      val edNext = ed
        .join(alive.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
        .join(alive.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
        .select($"a", $"b").localCheckpoint()
      graft.functions.Lineage.freeCheckpoint(st)
      graft.functions.Lineage.freeCheckpoint(ed)
      st = stN
      ed = edNext
    }
    val coreDeg = ed.selectExpr("a AS id").unionAll(ed.selectExpr("b AS id"))
      .groupBy($"id").agg(count(lit(1)).as("cd"))
    st.join(coreDeg, Seq("id"), "left_outer")
      .select($"id", $"pr".as("peel_round"),
        coalesce($"cd", lit(0L)).as("core_deg"))
  }

  /** g7 oracle: the identical sweeps unrolled — per sweep a degree
    * CTE, the survivor set (inner join drops zero-degree nodes, so
    * only d ≥ k survives — k > 0), the peeled complement, and the
    * restricted edge set; the final left joins re-attach peel round
    * and core degree to every node.
    */
  val g7Sql: String = {
    val rounds = (1 to g7Rounds).map { i =>
      val p = i - 1
      s"""kd$i AS MATERIALIZED (SELECT id, count(*) AS d
         |         FROM (SELECT a AS id FROM eu$p UNION ALL SELECT b FROM eu$p)
         |         GROUP BY id),
         |act$i AS MATERIALIZED (SELECT a.id FROM act$p a JOIN kd$i d ON d.id = a.id WHERE d.d >= $g7K),
         |peel$i AS MATERIALIZED (SELECT a.id, CAST($i AS BIGINT) AS peel_round
         |           FROM act$p a WHERE a.id NOT IN (SELECT id FROM act$i)),
         |eu$i AS MATERIALIZED (SELECT e.a, e.b FROM eu$p e
         |         JOIN act$i x ON x.id = e.a JOIN act$i y ON y.id = e.b)""".stripMargin
    }.mkString(",\n")
    val peelUnion = (1 to g7Rounds).map(i => s"SELECT * FROM peel$i")
      .mkString(" UNION ALL ")
    s"""WITH nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |e0 AS (SELECT id AS src, id + 1 AS dst FROM nodes, nn
      |         WHERE id % 10 <> 9 AND id + 1 < nn.n
      |       UNION ALL
      |       SELECT id, ((id * 31 + 7) % nn.n) - ((id * 31 + 7) % nn.n) % 10
      |         FROM nodes, nn WHERE id % 10 = 0
      |       UNION ALL
      |       SELECT id, ((id * 17 + 3) % nn.n) - ((id * 17 + 3) % nn.n) % 10
      |         FROM nodes, nn WHERE id % 10 = 0),
      |eu0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM e0 WHERE src <> dst),
      |act0 AS (SELECT id FROM nodes),
      |$rounds,
      |cd AS (SELECT id, CAST(count(*) AS BIGINT) AS core_deg
      |       FROM (SELECT a AS id FROM eu$g7Rounds UNION ALL SELECT b FROM eu$g7Rounds)
      |       GROUP BY id),
      |pall AS ($peelUnion)
      |SELECT n.id AS c_custkey,
      |       CAST(coalesce(p.peel_round, 0) AS BIGINT) AS peel_round,
      |       CAST(coalesce(cd.core_deg, 0) AS BIGINT) AS core_deg
      |FROM nodes n
      |LEFT JOIN pall p ON p.id = n.id
      |LEFT JOIN cd ON cd.id = n.id
      |ORDER BY c_custkey""".stripMargin
  }

  // ---------- g8: personalized PageRank ----------

  private val g8Rounds = 10
  private val g8SeedMod = 97L

  /** g8: PERSONALIZED PAGERANK (topic-sensitive PageRank,
    * Haveliwala 2002 WWW; Jeh & Widom 2003) — g1's power method with
    * the teleport vector restricted to a SEED SET instead of uniform:
    * rank mass re-enters only at seeds, so scores measure proximity
    * to the seeds through the link structure. This is the standard
    * crawl-frontier expansion signal: seed the pages you trust
    * (here the arithmetic set id % [[g8SeedMod]] = 0), rank
    * everything else by how much seed-originated mass reaches it,
    * crawl/keep the top of that ranking (the "harvest" ordering a
    * focused crawler runs).
    *
    * Integerization is g1's exactly: all-BIGINT mass, share(u) =
    * ((r·85) div 100) div deg per out-edge, teleport base =
    * (S·15/100) div nseed paid ONLY to seeds, initial mass S div
    * nseed at seeds and 0 elsewhere. Truncation loss is
    * deterministic and identical cross-engine (g1's fixed-point
    * argument). Non-seeds with no in-links correctly converge to 0.
    *
    * Scale shape: identical to g1 — per round one edges⋈rank
    * equality join + one dst partial aggregate, loop-invariant
    * out-degree folded into the cached edge table once, state
    * lineage-cut per round. The seed predicate is pure key
    * arithmetic (no seed-table join anywhere in the loop).
    */
  def g8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val edges = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
    val linked = edges
      .join(edges.groupBy($"src").agg(count(lit(1)).as("deg")), Seq("src"))
      .cache()
    val nseed = nodes.filter($"id" % g8SeedMod === 0).count()
    require(nseed > 0, "g8 seed set is empty")
    val base = (massS * 15L / 100L) / nseed
    val init = massS / nseed
    var rank = nodes.selectExpr("id",
      s"CASE WHEN id % $g8SeedMod = 0 THEN CAST($init AS BIGINT) " +
        s"ELSE CAST(0 AS BIGINT) END AS r").localCheckpoint()
    (1 to g8Rounds).foreach { _ =>
      val contrib = linked
        .join(rank.withColumnRenamed("id", "src"), Seq("src"))
        .selectExpr("dst", "((r * 85) div 100) div deg AS share")
        .groupBy($"dst").agg(sum($"share").as("m"))
      val next = nodes
        .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
        .selectExpr("id",
          s"CASE WHEN id % $g8SeedMod = 0 THEN CAST($base AS BIGINT) " +
            s"ELSE CAST(0 AS BIGINT) END + coalesce(m, CAST(0 AS BIGINT)) AS r")
        .localCheckpoint()
      graft.functions.Lineage.freeCheckpoint(rank)
      rank = next
    }
    linked.unpersist(blocking = false)
    rank.selectExpr("id AS c_custkey", "r AS ppr_mass",
      s"CAST(CASE WHEN id % $g8SeedMod = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_seed")
      .transform(graft.Tables.ordered(_, $"c_custkey"))
  }

  /** g8 oracle: g1's unrolled integer power method with the seeded
    * teleport — base mass CASEs onto seeds only.
    */
  val g8Sql: String = {
    val rounds = (1 to g8Rounds).map { i =>
      s"""c$i AS (SELECT e.dst, ((r.r * 85) // 100) // d.deg AS share
         |        FROM e JOIN r${i - 1} r ON r.id = e.src JOIN deg d ON d.src = e.src),
         |r$i AS (SELECT nd.id,
         |          CASE WHEN nd.id % $g8SeedMod = 0 THEN b.base ELSE CAST(0 AS BIGINT) END
         |            + coalesce(s.m, 0) AS r
         |        FROM nodes nd
         |        LEFT JOIN (SELECT dst, CAST(sum(share) AS BIGINT) AS m FROM c$i GROUP BY dst) s
         |          ON s.dst = nd.id
         |        CROSS JOIN bs b)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |sn AS (SELECT count(*) AS ns FROM nodes WHERE id % $g8SeedMod = 0),
      |e AS (SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn
      |      UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |      UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      |bs AS (SELECT CAST(($massS * 15 / 100) // ns AS BIGINT) AS base FROM sn),
      |r0 AS (SELECT id,
      |         CASE WHEN id % $g8SeedMod = 0 THEN CAST($massS // sn.ns AS BIGINT)
      |              ELSE CAST(0 AS BIGINT) END AS r
      |       FROM nodes, sn),
      |$rounds
      |SELECT id AS c_custkey, CAST(r AS BIGINT) AS ppr_mass,
      |       CAST(CASE WHEN id % $g8SeedMod = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_seed
      |FROM r$g8Rounds
      |ORDER BY c_custkey""".stripMargin
  }

  // ---------- g9: BFS crawl depth ----------

  private val g9Rounds = 10

  /** g9: BFS DEPTH FROM THE SEED SET — unit-weight single-source
    * (multi-source) shortest paths by synchronous Bellman-Ford
    * relaxation (the Pregel/BSP formulation, Malewicz et al. 2010
    * SIGMOD), over g1's directed link graph with g8's seed set
    * (id % 97 = 0). depth(v) = min hops from any seed following
    * out-links — the CRAWL DEPTH every frontier policy caps ("crawl
    * at most 6 from a trusted seed"), and the discrete companion to
    * g8's mass-proximity: g8 says HOW MUCH seed authority reaches a
    * page, g9 says HOW FAR it sits.
    *
    * All-integer state (depths are exact BIGINTs; nothing float
    * anywhere), so determinism is free. [[g9Rounds]] synchronous
    * rounds — depth_R(v) is the true BFS depth wherever depth ≤ R
    * and the frontier provably converges in ≤ 8 rounds at all three
    * test scales (the spec asserts fixpoint); nodes unreached after
    * R report -1 (the snapshot-at-R contract, g6/g7's argument).
    *
    * Scale shape per round: one edges ⋈ frontier equality join
    * (only not-yet-infinite rows ship) + one dst min-aggregate
    * (map-side combined) + a node-key left join folding `least`
    * (both engines' least skips NULLs — the documented shared
    * semantics); state lineage-cut per round. Edges co-partition by
    * src across rounds; depth state is 16 bytes/node.
    */
  def g9(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val edges = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
      .cache()
    var dist = nodes.selectExpr("id",
      s"CASE WHEN id % $g8SeedMod = 0 THEN CAST(0 AS BIGINT) " +
        "ELSE CAST(NULL AS BIGINT) END AS d").localCheckpoint()
    (1 to g9Rounds).foreach { _ =>
      val relax = edges
        .join(dist.filter($"d".isNotNull).withColumnRenamed("id", "src"), Seq("src"))
        .groupBy($"dst").agg((min($"d") + 1L).as("nd"))
      val next = dist
        .join(relax.withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
        .selectExpr("id", "least(d, nd) AS d")
        .localCheckpoint()
      graft.functions.Lineage.freeCheckpoint(dist)
      dist = next
    }
    edges.unpersist(blocking = false)
    dist.selectExpr("id AS c_custkey", "CAST(coalesce(d, -1) AS BIGINT) AS depth")
      .transform(graft.Tables.ordered(_, $"c_custkey"))
  }

  /** g9 oracle: the relaxation unrolled as MATERIALIZED CTE pairs
    * (frontier min-join, then the least-fold onto every node).
    */
  val g9Sql: String = {
    val rounds = (1 to g9Rounds).map { i =>
      val p = i - 1
      s"""x$i AS MATERIALIZED (SELECT e.dst AS id, min(p.d) + 1 AS nd
         |        FROM e JOIN d$p p ON p.id = e.src AND p.d IS NOT NULL
         |        GROUP BY e.dst),
         |d$i AS MATERIALIZED (SELECT n.id, least(p.d, x.nd) AS d
         |        FROM nodes n JOIN d$p p ON p.id = n.id
         |        LEFT JOIN x$i x ON x.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |e AS MATERIALIZED (SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn
      |      UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |      UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2),
      |d0 AS (SELECT id, CASE WHEN id % $g8SeedMod = 0 THEN CAST(0 AS BIGINT)
      |                       ELSE CAST(NULL AS BIGINT) END AS d FROM nodes),
      |$rounds
      |SELECT id AS c_custkey, CAST(coalesce(d, -1) AS BIGINT) AS depth
      |FROM d$g9Rounds
      |ORDER BY c_custkey""".stripMargin
  }

  // ---------- g10: HyperBall harmonic centrality ----------

  private val g10Rounds = 3
  private val g10M = 64L
  private val g10MaxRank = 55 // 60-bit md5 prefix minus 6 register bits, +1
  private val g10Alpha6 = 709000L // alpha_64 * 1e6 (Flajolet et al. 2007 section 4)
  private val g10Num = java.math.BigInteger.TWO.pow(67).toString // m^2 * 2^maxRank

  /** g10: HARMONIC CENTRALITY by HyperBall (Boldi & Vigna 2013,
    * "In-Core Computation of Geometric Centralities with HyperBall";
    * the algorithm behind CommonCrawl's published host rankings —
    * the ranking signal this family opened with). Harmonic
    * centrality H(v) = sum over u != v of 1/d(v,u) needs all-pairs
    * distances; HyperBall replaces each node's exact reachability
    * ball with a MERGEABLE HLL register set: b_r(v) = union of
    * b_{r-1}(w) over out-neighbors w (plus self) becomes a
    * max-merge of 64 registers, and |B(v,r)| falls out of the
    * standard estimator, so H(v) is approximated by
    * sum_r (|B(v,r)| - |B(v,r-1)|)/r in O(R) rounds instead of
    * all-pairs BFS.
    *
    * Fully integer end-to-end (the q31/s18 HLL discipline at
    * m = 64): register ranks from the md5-prefix hash, the harmonic
    * sum scaled to Sigma 2^(55-M_j) (BIGINT-exact), the estimate as
    * ONE integral DECIMAL(38)/HUGEINT division, the small-range
    * linear-counting branch with its single ln quantized at 1e-9,
    * and the final centrality in integer MICRO-units with
    * truncating division per radius — nothing order-dependent
    * anywhere, so the whole operator is bitwise cross-engine.
    * Ball increments are clamped at 0 (the correction-branch
    * switch could otherwise step an estimate down).
    *
    * Scale shape per round: ONE edges join state equality join
    * (registers flow src <- dst: the out-ball grows by the
    * successors' balls) + a (node, reg) max aggregate (map-side
    * combined, idempotent); state is <= 64 rows x 3 ints per node
    * (m is the precision dial — production HyperBall runs m = 64
    * too), lineage-cut per round. Ball estimates are per-node
    * aggregates off each round's checkpointed state; the three
    * estimate tables join back by node key. This is exactly the
    * WebGraph/HyperBall shape expressed as Spark relational
    * algebra.
    */
  def g10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val edges = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
      .distinct().cache()
    var st = nodes
      .selectExpr("id",
        s"CAST(conv(substring(md5(CAST(id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS hv")
      .selectExpr("id", s"hv % $g10M AS reg", s"hv div $g10M AS w")
      .selectExpr("id", "reg",
        s"CASE WHEN w = 0 THEN $g10MaxRank " +
          s"ELSE $g10MaxRank - length(trim(LEADING '0' FROM bin(w))) END AS rk")
      .localCheckpoint()
    def ballEst(state: DataFrame, name: String): DataFrame =
      state.groupBy($"id")
        .agg(count(lit(1)).as("np"),
          sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($g10MaxRank - rk AS INT))")).as("sp"))
        .selectExpr("id", s"$g10M - np AS vz",
          s"sp + CAST($g10M - np AS BIGINT) * shiftleft(CAST(1 AS BIGINT), $g10MaxRank) AS s_sum")
        .selectExpr("id", "vz",
          s"CAST((CAST($g10Alpha6 AS DECIMAL(38,0)) * CAST('$g10Num' AS DECIMAL(38,0)))" +
            s" div (CAST(s_sum AS DECIMAL(38,0)) * 1000000) AS BIGINT) AS est_raw")
        .selectExpr("id",
          s"CASE WHEN est_raw * 2 <= 5 * $g10M AND vz > 0 " +
            s"THEN ($g10M * CAST(floor(ln(CAST($g10M AS DOUBLE) / vz) * 1e9 + 0.5) AS BIGINT)) div 1000000000 " +
            s"ELSE est_raw END AS $name")
    val ests = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    (1 to g10Rounds).foreach { r =>
      val flow = edges
        .join(st.withColumnRenamed("id", "dst"), Seq("dst"))
        .select($"src".as("id"), $"reg", $"rk")
      val next = st.unionAll(flow)
        .groupBy($"id", $"reg").agg(max($"rk").as("rk"))
        .localCheckpoint()
      // the round's n-row ball-estimate table is materialized BEFORE
      // the previous state's blocks are released — it is the only
      // consumer of that state surviving the round
      ests += ballEst(next, s"b$r").localCheckpoint()
      graft.functions.Lineage.freeCheckpoint(st)
      st = next
    }
    graft.functions.Lineage.freeCheckpoint(st)
    nodes
      .join(ests(0), Seq("id")).join(ests(1), Seq("id")).join(ests(2), Seq("id"))
      .selectExpr("id AS c_custkey", "b1", "b2", "b3",
        "greatest(b1 - 1, 0) * 1000000 " +
          "+ (greatest(b2 - b1, 0) * 1000000) div 2 " +
          "+ (greatest(b3 - b2, 0) * 1000000) div 3 AS harmonic_micro")
      .transform(graft.Tables.ordered(_, $"c_custkey"))
  }

  /** g10 oracle: the register propagation unrolled as MATERIALIZED
    * max-merge CTEs, each round's ball estimate through the
    * HUGEINT pipeline (Hll.oracleSql's idioms at m = 64).
    */
  val g10Sql: String = {
    def estCte(r: Int): String =
      s"""be$r AS MATERIALIZED (
         |  SELECT id,
         |    CASE WHEN est_raw * 2 <= 5 * $g10M AND vz > 0
         |         THEN ($g10M * CAST(floor(ln(CAST($g10M AS DOUBLE) / vz) * 1e9 + 0.5) AS BIGINT)) // 1000000000
         |         ELSE est_raw END AS b$r
         |  FROM (
         |    SELECT id, vz,
         |      CAST((CAST($g10Alpha6 AS HUGEINT) * CAST('$g10Num' AS HUGEINT))
         |        // (CAST(s_sum AS HUGEINT) * 1000000) AS BIGINT) AS est_raw
         |    FROM (
         |      SELECT id, $g10M - np AS vz,
         |        sp + CAST($g10M - np AS BIGINT) * (CAST(1 AS BIGINT) << $g10MaxRank) AS s_sum
         |      FROM (SELECT id, count(*) AS np,
         |              CAST(sum(CAST(1 AS BIGINT) << CAST($g10MaxRank - rk AS INTEGER)) AS BIGINT) AS sp
         |            FROM st$r GROUP BY id))))""".stripMargin
    val rounds = (1 to g10Rounds).map { r =>
      val p = r - 1
      s"""st$r AS MATERIALIZED (
         |  SELECT id, reg, max(rk) AS rk FROM (
         |    SELECT id, reg, rk FROM st$p
         |    UNION ALL
         |    SELECT e.src, s.reg, s.rk FROM e JOIN st$p s ON s.id = e.dst)
         |  GROUP BY id, reg),
         |${estCte(r)}""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
      |      SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn
      |      UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |      UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2)),
      |st0 AS MATERIALIZED (
      |  SELECT id, hv % $g10M AS reg,
      |    CASE WHEN hv // $g10M = 0 THEN $g10MaxRank
      |         ELSE $g10MaxRank - length(ltrim(bin(CAST(hv // $g10M AS BIGINT)), '0')) END AS rk
      |  FROM (SELECT id,
      |          CAST(('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      |        FROM nodes)),
      |$rounds
      |SELECT n.id AS c_custkey, be1.b1, be2.b2, be3.b3,
      |  greatest(b1 - 1, 0) * 1000000
      |    + (greatest(b2 - b1, 0) * 1000000) // 2
      |    + (greatest(b3 - b2, 0) * 1000000) // 3 AS harmonic_micro
      |FROM nodes n
      |JOIN be1 ON be1.id = n.id
      |JOIN be2 ON be2.id = n.id
      |JOIN be3 ON be3.id = n.id
      |ORDER BY c_custkey""".stripMargin
  }

  // ---------- g11: degree assortativity ----------

  /** g11: DEGREE ASSORTATIVITY (Newman 2002, "Assortative mixing in
    * networks", PRL 89) over the undirected link graph — the one
    * number that says whether hubs link to hubs (r > 0, social-web
    * shape) or hubs link to leaves (r < 0, the classic
    * crawler-frontier / star topology): a crawl pipeline reads it
    * before choosing quota and sampling policy, because
    * disassortative graphs concentrate reach in few hubs (g5 asks
    * "does MY partition respect the structure", g11 asks what the
    * structure IS).
    *
    * r is the Pearson correlation of the degrees at either end of
    * every edge, both orientations counted (the undirected
    * convention). Every sum involved — ends count 2M, Σx, Σxy,
    * Σx² over the symmetrized end list — is an EXACT BIGINT
    * (degrees are integers; magnitudes ≪ 2^63 at any realistic
    * scale), numerator 2M·Σxy − (Σx)² and denominator
    * 2M·Σx² − (Σx)² are exact BIGINT expressions, and r is ONE
    * IEEE division of the two — bitwise cross-engine with zero
    * float aggregates (by symmetry Σy = Σx and Σy² = Σx², so the
    * general Pearson collapses to this form).
    *
    * Scale shape: one distinct-edge canonicalization, one degree
    * aggregate, one edges⋈degrees equality join per side, one
    * 4-sum global aggregate (map-side combined) — a single-pass
    * audit at any corpus size.
    */
  def g11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val e0 = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
    val und = e0.filter($"src" =!= $"dst")
      .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
      .distinct().cache()
    val deg = und.selectExpr("a AS x").unionAll(und.selectExpr("b AS x"))
      .groupBy($"x").agg(count(lit(1)).as("d"))
    val ends = und.select($"a", $"b")
      .unionAll(und.select($"b".as("a"), $"a".as("b")))
      .join(deg.withColumnRenamed("x", "a").withColumnRenamed("d", "dx"), Seq("a"))
      .join(deg.withColumnRenamed("x", "b").withColumnRenamed("d", "dy"), Seq("b"))
    ends.agg(count(lit(1)).as("n_ends"),
        sum($"dx").as("sum_x"),
        sum($"dx" * $"dy").as("sum_xy"),
        sum($"dx" * $"dx").as("sum_x2"))
      .selectExpr("n_ends", "sum_x", "sum_xy", "sum_x2",
        "CAST(n_ends * sum_xy - sum_x * sum_x AS DOUBLE) " +
          "/ CAST(n_ends * sum_x2 - sum_x * sum_x AS DOUBLE) AS assortativity")
  }

  /** g11 oracle: identical canonical edges, degree join and exact
    * integer sums; one final division.
    */
  val g11Sql: String =
    """WITH nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |e0 AS (SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn
      |       UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |       UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2),
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM e0 WHERE src <> dst),
      |deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d
      |        FROM (SELECT a AS x FROM und UNION ALL SELECT b FROM und)
      |        GROUP BY x),
      |ends AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
      |j AS (SELECT da.d AS dx, db.d AS dy
      |      FROM ends JOIN deg da ON da.x = ends.a JOIN deg db ON db.x = ends.b)
      |SELECT CAST(count(*) AS BIGINT) AS n_ends,
      |  CAST(sum(dx) AS BIGINT) AS sum_x,
      |  CAST(sum(dx * dy) AS BIGINT) AS sum_xy,
      |  CAST(sum(dx * dx) AS BIGINT) AS sum_x2,
      |  CAST(CAST(count(*) AS BIGINT) * CAST(sum(dx * dy) AS BIGINT)
      |         - CAST(sum(dx) AS BIGINT) * CAST(sum(dx) AS BIGINT) AS DOUBLE)
      |    / CAST(CAST(count(*) AS BIGINT) * CAST(sum(dx * dx) AS BIGINT)
      |         - CAST(sum(dx) AS BIGINT) * CAST(sum(dx) AS BIGINT) AS DOUBLE) AS assortativity
      |FROM j""".stripMargin

  /** g6 oracle: the same synchronous rounds unrolled as generated
    * CTEs — votes, (cnt DESC, lbl) argmax via row_number, isolated
    * nodes keep their label.
    */
  val g6Sql: String = {
    val rounds = (1 to g6Rounds).map { i =>
      s"""v$i AS (SELECT e.dst AS id, l.lbl, count(*) AS c
         |        FROM e JOIN l${i - 1} l ON l.id = e.src GROUP BY 1, 2),
         |w$i AS (SELECT id, lbl FROM (
         |          SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
         |          FROM v$i) WHERE rn = 1),
         |l$i AS (SELECT n.id, coalesce(w.lbl, p.lbl) AS lbl
         |        FROM nodes n LEFT JOIN w$i w ON w.id = n.id
         |        JOIN l${i - 1} p ON p.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |e0 AS (SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn
      |       UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |       UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2),
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM e0 WHERE src <> dst),
      |e AS (SELECT a AS src, b AS dst FROM und
      |      UNION ALL SELECT b, a FROM und),
      |l0 AS (SELECT id, id AS lbl FROM nodes),
      |$rounds,
      |sz AS (SELECT lbl, count(*) AS csize FROM l$g6Rounds GROUP BY lbl)
      |SELECT l.id AS c_custkey, l.lbl AS community, sz.csize
      |FROM l$g6Rounds l JOIN sz ON sz.lbl = l.lbl
      |ORDER BY c_custkey""".stripMargin
  }

  // ---------- g13: directed reciprocity ----------

  /** g13: LINK RECIPROCITY (Newman, Forrest & Balthrop 2002; Garlaschelli
    * & Loffredo 2004) over the DIRECTED link graph — the fraction of
    * directed edges whose reverse also exists. The webgraph-shape
    * audit a crawler reads next to g11's assortativity: mutual links
    * mark endorsement/nav structure (high r), one-way links mark
    * hierarchy/spam farms (r → 0) — and the answer parameterizes
    * frontier policy (whether a backlink predicts a future crawl
    * hit). g1-g12 consume the symmetrized graph; g13 is the one
    * audit where DIRECTION IS THE SIGNAL.
    *
    * Exactness: distinct directed non-loop edges; the reciprocated
    * count is a self semi-join on the swapped key (id-only, equality
    * — never a pair enumeration); n_edges, n_reciprocated exact
    * BIGINTs; reciprocity is ONE IEEE division (the g11 discipline —
    * non-negative here, but the double form keeps the report
    * uniform). One distinct + one equality self-join + a 1-row
    * aggregate at any scale.
    */
  def g13(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val d = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
      .filter($"src" =!= $"dst").distinct().cache()
    val recip = d.join(d.select($"dst".as("src"), $"src".as("dst")),
      Seq("src", "dst"), "left_semi")
    d.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_reciprocated")))
      .selectExpr("n_edges", "n_reciprocated",
        "CAST(n_reciprocated AS DOUBLE) / CAST(n_edges AS DOUBLE) AS reciprocity")
  }

  /** g13 oracle: identical distinct directed edges and swapped
    * semi-join, one division.
    */
  val g13Sql: String =
    """WITH nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |d AS (SELECT DISTINCT src, dst FROM (
      |        SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn
      |        UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |        UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2)
      |      WHERE src <> dst),
      |r AS (SELECT count(*) AS n_reciprocated FROM d
      |      WHERE EXISTS (SELECT 1 FROM d d2 WHERE d2.src = d.dst AND d2.dst = d.src)),
      |t AS (SELECT count(*) AS n_edges FROM d)
      |SELECT CAST(t.n_edges AS BIGINT) AS n_edges,
      |  CAST(r.n_reciprocated AS BIGINT) AS n_reciprocated,
      |  CAST(r.n_reciprocated AS DOUBLE) / CAST(t.n_edges AS DOUBLE) AS reciprocity
      |FROM t, r""".stripMargin

  // ---------- g12: link prediction ----------

  /** Per-center neighbor cap for the wedge join. At web scale a hub
    * with degree d contributes d² wedge pairs, so every production
    * common-neighbor candidate generator caps the per-center list
    * (Liben-Nowell & Kleinberg 2007 evaluate on exactly such
    * truncated neighborhoods); the cap is part of the operator's
    * contract and the oracle mirrors it, so it is not a silent
    * approximation. 32 ≫ this graph's max degree — the gate
    * exercises the capped PLAN while the fixture stays exact.
    */
  private val g12Cap = 32

  /** g12: LINK PREDICTION by common neighbors (Liben-Nowell &
    * Kleinberg 2007, "The link-prediction problem for social
    * networks") over g11's undirected link graph — the crawl
    *-frontier ranking question: which un-linked page pairs are most
    * likely to be joined next (equivalently: which near-miss links
    * indicate pages that should be crawled/kept together)? Scores
    * per candidate pair (a,b): common-neighbor count cn, preferential
    * attachment deg(a)·deg(b) (Barabási), and Jaccard
    * cn / (deg(a)+deg(b)−cn) — cn/pa/degrees all EXACT BIGINTs,
    * Jaccard ONE IEEE division of two of them (the d4 discipline).
    *
    * Scale shape: candidates come ONLY from the wedge join — the
    * ranked adjacency list self-joined on the center key (g3's
    * inverted-index discipline, Σ_u min(deg u, [[g12Cap]])² pairs,
    * id-only payloads) — never from a pair enumeration; existing
    * edges leave by left-anti join on the canonical edge key;
    * degrees attach AFTER the cn aggregate (joins touch candidate
    * pairs, not wedges); the top-100 is TakeOrderedAndProject —
    * bounded driver result, no global sort. Total-ordered by
    * (cn DESC, pa DESC, a, b) so LIMIT is deterministic.
    */
  def g12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val e0 = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
    val und = e0.filter($"src" =!= $"dst")
      .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
      .distinct().cache()
    val adj = und.select($"a".as("u"), $"b".as("v"))
      .unionAll(und.select($"b".as("u"), $"a".as("v")))
    val deg = adj.groupBy($"u").agg(count(lit(1)).as("d"))
    val ranked = adj
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"u").orderBy($"v")))
      .filter($"rn" <= g12Cap)
      .select($"u", $"v")
    val wedges = ranked.select($"u", $"v".as("x"))
      .join(ranked.select($"u", $"v".as("y")), Seq("u"))
      .filter($"x" < $"y")
    val cand = wedges.groupBy($"x".as("a"), $"y".as("b"))
      .agg(count(lit(1)).as("cn"))
      .join(und, Seq("a", "b"), "left_anti")
    cand
      .join(deg.select($"u".as("a"), $"d".as("deg_a")), Seq("a"))
      .join(deg.select($"u".as("b"), $"d".as("deg_b")), Seq("b"))
      .selectExpr("a", "b", "cn", "deg_a", "deg_b",
        "deg_a * deg_b AS pa",
        "deg_a + deg_b - cn AS union_sz",
        "CAST(cn AS DOUBLE) / CAST(deg_a + deg_b - cn AS DOUBLE) AS jaccard")
      .orderBy($"cn".desc, $"pa".desc, $"a", $"b")
      .limit(100)
  }

  /** g12 oracle: identical capped adjacency (row_number mirror of the
    * cap), wedge self-join, anti-join on existing edges, one final
    * division, same total order.
    */
  val g12Sql: String =
    s"""WITH nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |e0 AS (SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn
      |       UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |       UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2),
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM e0 WHERE src <> dst),
      |adj AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
      |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u),
      |ranked AS (SELECT u, v FROM (
      |    SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY v) AS rn
      |    FROM adj) WHERE rn <= $g12Cap),
      |wedges AS (SELECT r1.v AS a, r2.v AS b
      |           FROM ranked r1 JOIN ranked r2 ON r1.u = r2.u
      |           WHERE r1.v < r2.v),
      |cand AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cn FROM wedges
      |         GROUP BY a, b),
      |nonedge AS (SELECT c.a, c.b, c.cn FROM cand c
      |            ANTI JOIN und e ON e.a = c.a AND e.b = c.b)
      |SELECT c.a, c.b, c.cn, da.d AS deg_a, db.d AS deg_b,
      |  da.d * db.d AS pa,
      |  da.d + db.d - c.cn AS union_sz,
      |  CAST(c.cn AS DOUBLE) / CAST(da.d + db.d - c.cn AS DOUBLE) AS jaccard
      |FROM nonedge c
      |JOIN deg da ON da.u = c.a
      |JOIN deg db ON db.u = c.b
      |ORDER BY c.cn DESC, pa DESC, c.a, c.b
      |LIMIT 100""".stripMargin

  // ---------- g14: neighborhood function / effective-diameter profile ----------

  /** g14: the NEIGHBORHOOD FUNCTION N(r) — the corpus-level distance
    * profile (Palmer et al. 2002's ANF; Boldi & Vigna 2013 §5 run
    * HyperBall for exactly this, and the "effective diameter ≈ 6.x"
    * web-graph headlines are read off this curve): N(r) = Σ_v
    * |B(v, r)| counts reachable pairs within r hops, so the curve's
    * saturation point IS the graph's effective diameter, the number
    * that decides how many rounds every g-family traversal needs.
    * One row per radius 0..3: the pair count (N(0) = n, self-balls),
    * its growth over the previous radius, and reachable-pair
    * coverage in permille of n² (§8.39 — all quantities ≥ 0, growth
    * included: g10's ball estimates are clamped monotone).
    *
    * Built AS ONE AGGREGATE over g10's per-node HyperBall balls —
    * the whole point of the register formulation: the all-pairs
    * distance profile of a 10⁹-node graph costs g10's three rounds
    * plus a 1-row aggregate, never an all-pairs BFS. The 4-row
    * curve unpivots from that aggregate row-locally (stack).
    */
  def g14(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    g10(spark, dir)
      .agg(count(lit(1)).as("n"), sum($"b1").as("s1"),
        sum($"b2").as("s2"), sum($"b3").as("s3"))
      .selectExpr(
        """stack(4,
          |  CAST(0 AS BIGINT), n, n, n,
          |  CAST(1 AS BIGINT), s1, s1 - n, n,
          |  CAST(2 AS BIGINT), s2, s2 - s1, n,
          |  CAST(3 AS BIGINT), s3, s3 - s2, n) AS (r, nf, growth, n)""".stripMargin)
      .selectExpr("r", "nf", "growth",
        "(nf * 1000) div (n * n) AS coverage_permille")
      .transform(graft.Tables.ordered(_, $"r"))
  }

  /** g14 oracle: g10's full generated query as a subquery, the same
    * 1-row aggregate and 4-row unpivot.
    */
  val g14Sql: String =
    s"""WITH hb AS ($g10Sql),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(b1) AS BIGINT) AS s1, CAST(sum(b2) AS BIGINT) AS s2,
      |        CAST(sum(b3) AS BIGINT) AS s3 FROM hb),
      |c AS (SELECT CAST(0 AS BIGINT) AS r, n AS nf, n AS growth, n FROM a
      |      UNION ALL SELECT 1, s1, s1 - n, n FROM a
      |      UNION ALL SELECT 2, s2, s2 - s1, n FROM a
      |      UNION ALL SELECT 3, s3, s3 - s2, n FROM a)
      |SELECT r, nf, growth, (nf * 1000) // (n * n) AS coverage_permille
      |FROM c
      |ORDER BY r""".stripMargin

  // ---------- g16: degree-distribution power-law audit ----------

  /** The hub-attachment rule for [[g16]]'s crawl-shaped graph:
    * every node links to the highest power of two ≤ its id (the
    * "front page" of its octave), computed by the branch-free
    * bit smear — s = id | id>>1 | ... | id>>32, hub = s ^ (s>>1) —
    * integer-exact in both dialects (no float log2, whose
    * boundary rounding at exact powers would disagree). One hub
    * per octave with in-degree 2^k: a deterministic heavy tail
    * spanning every octave of the graph.
    */
  private def g16HubCols(shr: (String, Int) => String): Seq[(String, String)] =
    Seq(
      "s1" -> s"(id | ${shr("id", 1)})",
      "s2" -> s"(s1 | ${shr("s1", 2)})",
      "s3" -> s"(s2 | ${shr("s2", 4)})",
      "s4" -> s"(s3 | ${shr("s3", 8)})",
      "s5" -> s"(s4 | ${shr("s4", 16)})",
      "s6" -> s"(s5 | ${shr("s5", 32)})",
      // s6 is all-ones below the MSB, so MSB = s6 - (s6 >> 1) —
      // subtraction spells identically in both dialects (DuckDB's ^
      // is POWER, not xor)
      "hub" -> s"(s6 - ${shr("s6", 1)})",
    )

  /** g16: DEGREE POWER-LAW AUDIT (Faloutsos³ 1999, "On Power-Law
    * Relationships of the Internet Topology"; Broder et al. 2000's
    * web measurements) — the graph-health analogue of t27's Zipf
    * audit: a real crawl graph's in-degree CCDF P(D ≥ d) falls as
    * a straight line in log-log space (heavy tail: hubs exist),
    * and the audit fits ln P(D ≥ d) against ln d over the
    * degree-grain CCDF with t27's EXACT regression machinery
    * (1e-3-quantized ln per §8.4, BIGINT moment sums, ONE final
    * IEEE division), reporting the fit inputs beside the slope.
    * The modular base rules alone make a DEGENERATE spectrum
    * (every in-degree ∈ {2,4} — two permutations plus the binary
    * tree; a 2-point "fit" is meaningless), so the graph adds the
    * [[g16HubCols]] octave-hub rule: one hub per power of two with
    * in-degree 2^k — a deterministic heavy tail spanning every
    * octave, giving the CCDF ~log₂ n genuine points (15 at
    * sf0.1, slope ≈ −0.64 — the spec pins the exact hub degrees).
    *
    * Scale shape: one dst-keyed in-degree aggregate (map-side
    * combined), a ≤ max-degree-row histogram, a suffix window on
    * the DEGREE grain (HistQ's metadata-grain class) and a 1-row
    * summary — degree-distribution cost is the edge scan plus a
    * metadata reduction at any graph size.
    */
  def g16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val hub = g16HubCols((e, s) => s"shiftright($e, $s)")
      .foldLeft(nodes.filter($"id" >= 1L)) { case (d, (c, ex)) =>
        d.selectExpr("*", s"$ex AS $c")
      }
      .selectExpr("id AS src", "hub AS dst")
    val edges = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
      .unionAll(hub)
    val indeg = nodes
      .join(edges.groupBy($"dst".as("id")).agg(count(lit(1)).as("deg")),
        Seq("id"), "left_outer")
      .selectExpr("id", "coalesce(deg, CAST(0 AS BIGINT)) AS deg")
    val hist = indeg.groupBy($"deg").agg(count(lit(1)).as("n_nodes"))
    val wS = org.apache.spark.sql.expressions.Window
      .orderBy($"deg") // degree grain: ≤ max-degree rows
    val xy = hist
      .withColumn("n_ge", sum($"n_nodes").over(
        wS.rowsBetween(0, org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .filter($"deg" >= 1L)
      .selectExpr(
        "CAST(floor(ln(CAST(deg AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS x",
        "CAST(floor(ln(CAST(n_ge AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS y")
    xy.agg(count(lit(1)).as("n_points"),
        sum($"x").as("sum_x"), sum($"y").as("sum_y"),
        sum($"x" * $"y").as("sum_xy"), sum($"x" * $"x").as("sum_x2"))
      .crossJoin(broadcast(
        indeg.agg(count(lit(1)).as("n_nodes"), max($"deg").as("max_deg"))))
      .selectExpr("n_points", "n_nodes", "max_deg",
        "sum_x", "sum_y", "sum_xy", "sum_x2",
        "CAST(n_points * sum_xy - sum_x * sum_y AS DOUBLE) " +
          "/ CAST(n_points * sum_x2 - sum_x * sum_x AS DOUBLE) AS powerlaw_slope")
  }

  /** g16 oracle: identical bit-smear hub rule, degree histogram,
    * suffix CCDF, 1e-3 ln quantization, exact moment sums, one
    * division.
    */
  val g16Sql: String = {
    val hubChain = g16HubCols((e, s) => s"($e >> $s)")
      .map { case (c, ex) => s"$ex AS $c" }
    val hubSel = hubChain.foldLeft("SELECT id FROM nodes WHERE id >= 1") {
      case (from, col) => s"SELECT *, $col FROM ($from)"
    }
    s"""WITH nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |hb AS (SELECT id AS src, hub AS dst FROM ($hubSel)),
      |e AS (SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn
      |      UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |      UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2
      |      UNION ALL SELECT src, dst FROM hb),
      |dc AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      |indeg AS (SELECT n.id, coalesce(dc.deg, CAST(0 AS BIGINT)) AS deg
      |      FROM nodes n LEFT JOIN dc ON dc.id = n.id),
      |h AS (SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes FROM indeg GROUP BY 1),
      |c AS (SELECT deg, n_nodes,
      |        CAST(sum(n_nodes) OVER (ORDER BY deg
      |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_ge
      |      FROM h),
      |xy AS (SELECT
      |         CAST(floor(ln(CAST(deg AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS x,
      |         CAST(floor(ln(CAST(n_ge AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS y
      |       FROM c WHERE deg >= 1),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
      |        CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
      |        CAST(sum(x * y) AS BIGINT) AS sum_xy,
      |        CAST(sum(x * x) AS BIGINT) AS sum_x2
      |      FROM xy),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |        CAST(max(deg) AS BIGINT) AS max_deg FROM indeg)
      |SELECT n_points, n_nodes, max_deg, sum_x, sum_y, sum_xy, sum_x2,
      |  CAST(n_points * sum_xy - sum_x * sum_y AS DOUBLE)
      |    / CAST(n_points * sum_x2 - sum_x * sum_x AS DOUBLE) AS powerlaw_slope
      |FROM s, t""".stripMargin
  }

  // ---------- g15: pivot-sampled stress centrality (Brandes) ----------

  private val g15Rounds = 8
  private val g15Pivots = Seq(0L, 1L, 2L, 3L)

  /** g15: STRESS CENTRALITY (Shimbel 1953) by the Brandes
    * two-pass scheme (Brandes 2001, "A Faster Algorithm for
    * Betweenness Centrality") with PIVOT SAMPLING (Brandes & Pich
    * 2007) — the shortest-path load ranking: stress(v) =
    * Σ_{s,t} σ_st(v), the NUMBER of shortest s→t paths passing
    * through v. Unlike betweenness' fractional pair dependencies
    * (σ_st(v)/σ_st — IEEE division inside an iterated recursion),
    * stress is INTEGER-EXACT end-to-end, so the whole two-pass
    * recursion is bitwise cross-engine: the forward pass is a
    * level-synchronous BFS from each pivot carrying path counts
    * (σ(w) = Σ σ(v) over frontier in-neighbors — the new-frontier
    * anti-join makes levels exact), and the backward pass walks
    * levels DOWN computing continuation counts P(v) = Σ_{w ∈
    * DAG-succ(v)} (1 + P(w)) (the number of shortest-path
    * continuations leaving v; DAG edges are exactly the edges into
    * the next level, so the per-level join needs no edge
    * classification pass). Per pivot s: paths through interior v =
    * σ_s(v)·P_s(v); summed over the deterministic pivot set
    * [[g15Pivots]] (fixed lowest ids — the sampled estimator's
    * pivot draw made reproducible) within the [[g15Rounds]]-hop
    * radius. Bounds: out-degree ≤ 3 ⇒ σ ≤ 3⁸, P ≤ 10⁴ at radius 8,
    * stress ≪ 2⁶³ — BIGINT-safe at any graph size (radius and
    * pivot count pin the magnitudes, not n).
    *
    * Scale shape: every round is an id-keyed equality join of the
    * edge table with a (pivot·frontier)-sized state — the g9
    * contract: state is (pivot, node) grain (|pivots| × reach, not
    * n²); per-round localCheckpoint + freeCheckpoint cuts lineage;
    * the backward pass touches one LEVEL per round, so its joins
    * shrink as the BFS tree narrows. At 10⁹ nodes stress-by-pivots
    * costs |pivots| BFS sweeps — the published scalable estimator,
    * not the all-pairs quadratic.
    */
  def g15(spark: SparkSession, dir: String): DataFrame =
    stressByPivots(spark, dir, g15Pivots)

  /** g19: g15's estimator under a HASH-RANKED pivot draw — the
    * bottom-[[g15Pivots]].size node ids by 60-bit md5 rank
    * (Sampling's t22 idiom), so the sampled pivots are
    * position-UNCORRELATED with the graph's id structure (the
    * lowest-id draw sits inside the id-arithmetic edge formulas;
    * Brandes & Pich 2007's estimator assumes a uniform draw — this
    * IS one, made reproducible). Same two-pass integer recursion,
    * same oracle construction with the pivot CTE swapped from
    * ORDER BY id to ORDER BY hash rank.
    *
    * Measured draw-stability (the reason this variant exists): at
    * the bounded 8-hop radius the two draws' estimates correlate
    * POSITIVELY but weakly (Spearman ρ ≈ 0.33 over the 1499 nodes
    * both cover at sf0.01) and their top-10 sets are DISJOINT —
    * truncated-radius stress concentrates σ·P mass near the
    * pivots, so the top ranks are pivot-local. That is a property
    * of the radius truncation (Brandes & Pich's convergence
    * guarantee is for untruncated sweeps; sweeping more pivots at
    * the same radius does not fix it — measured 0/10 overlap even
    * at 32 pivots), made VISIBLE by running both draws. The spec
    * pins the positive correlation and the sequential mirror; a
    * production ranking should union several draws or extend the
    * radius before trusting top-k stress.
    */
  def g19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pivots = Tables.customer(spark, dir)
      .selectExpr("c_custkey AS id", s"${Sampling.hv("c_custkey")} AS hvr")
      .orderBy($"hvr", $"id").limit(g15Pivots.size)
      .collect().map(_.getLong(0)).toSeq
    stressByPivots(spark, dir, pivots)
  }

  private def stressByPivots(spark: SparkSession, dir: String,
      pivotIds: Seq[Long]): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val edges = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
      .cache()
    // forward: level-synchronous BFS with exact path counts
    var reached = pivotIds.map(p => (p, p, 0L, 1L))
      .toDF("pivot", "id", "d", "sigma").localCheckpoint()
    var frontier = reached
    (1 to g15Rounds).foreach { r =>
      val cand = edges.join(frontier.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy($"pivot", $"dst").agg(sum($"sigma").as("sig"))
      val newf = cand
        .join(reached.select($"pivot", $"id".as("dst")), Seq("pivot", "dst"), "left_anti")
        .selectExpr("pivot", "dst AS id", s"CAST($r AS BIGINT) AS d", "sig AS sigma")
        .localCheckpoint()
      val nr = reached.unionByName(newf).localCheckpoint()
      graft.functions.Lineage.freeCheckpoint(reached)
      if (frontier ne reached) graft.functions.Lineage.freeCheckpoint(frontier)
      reached = nr
      frontier = newf
    }
    // backward: continuation counts by DESCENDING level (DAG edges =
    // edges into the next level, so joining the next level's P table
    // restricts to them automatically)
    var pPrev = reached.filter($"d" === g15Rounds)
      .selectExpr("pivot", "id", "CAST(0 AS BIGINT) AS p").localCheckpoint()
    var pAll = pPrev
    ((g15Rounds - 1) to 0 by -1).foreach { k =>
      val levelK = reached.filter($"d" === k).select($"pivot", $"id")
      val raw = levelK.withColumnRenamed("id", "src")
        .join(edges, Seq("src"))
        .join(pPrev.selectExpr("pivot", "id AS dst", "p"), Seq("pivot", "dst"))
        .groupBy($"pivot", $"src").agg(sum($"p" + 1L).as("pr"))
        .selectExpr("pivot", "src AS id", "pr")
      val pk = levelK.join(raw, Seq("pivot", "id"), "left_outer")
        .selectExpr("pivot", "id", "coalesce(pr, CAST(0 AS BIGINT)) AS p")
        .localCheckpoint()
      pAll = pAll.unionByName(pk)
      pPrev = pk
    }
    reached.join(pAll, Seq("pivot", "id"))
      .filter($"d" > 0) // interior only: v == pivot is an endpoint
      .groupBy($"id")
      .agg(count(lit(1)).as("n_sources"), sum($"sigma" * $"p").as("stress"))
      .selectExpr("id AS c_custkey", "n_sources", "stress")
      .transform(graft.Tables.ordered(_, $"c_custkey"))
  }

  /** g15 oracle: both passes unrolled as MATERIALIZED CTE groups —
    * forward (candidate sum-join, NOT-EXISTS new-frontier cut,
    * running reach union) then backward (per-level continuation
    * join + zero-fill), identical integer algebra.
    */
  val g15Sql: String = {
    val pv = g15Pivots.mkString(", ")
    g15SqlFor(
      s"""f0 AS MATERIALIZED (SELECT CAST(unnest([$pv]) AS BIGINT) AS pv,
         |        CAST(unnest([$pv]) AS BIGINT) AS id,
         |        CAST(0 AS BIGINT) AS d, CAST(1 AS BIGINT) AS sigma)""".stripMargin)
  }

  /** g19 oracle: g15's generated two-pass chain with the pivot CTE
    * swapped to the bottom-k-by-md5-rank draw (t22's DuckDB hash
    * spelling).
    */
  val g19Sql: String =
    g15SqlFor(
      s"""hp AS (SELECT id FROM (
         |        SELECT id, ${Sampling.duckHv("id")} AS hvr FROM nodes)
         |      ORDER BY hvr, id LIMIT ${g15Pivots.size}),
         |f0 AS MATERIALIZED (SELECT id AS pv, id,
         |        CAST(0 AS BIGINT) AS d, CAST(1 AS BIGINT) AS sigma FROM hp)""".stripMargin)

  private def g15SqlFor(f0Cte: String): String = {
    val fwd = (1 to g15Rounds).map { i =>
      val p = i - 1
      s"""c$i AS MATERIALIZED (SELECT f.pv, e.dst AS id, CAST(sum(f.sigma) AS BIGINT) AS sigma
         |        FROM e JOIN f$p f ON f.id = e.src GROUP BY 1, 2),
         |f$i AS MATERIALIZED (SELECT c.pv, c.id, CAST($i AS BIGINT) AS d, c.sigma
         |        FROM c$i c WHERE NOT EXISTS (SELECT 1 FROM r$p r
         |          WHERE r.pv = c.pv AND r.id = c.id)),
         |r$i AS MATERIALIZED (SELECT * FROM r$p UNION ALL SELECT * FROM f$i)""".stripMargin
    }.mkString(",\n")
    val bwd = ((g15Rounds - 1) to 0 by -1).map { k =>
      val nx = k + 1
      s"""q$k AS (SELECT a.pv, a.id, CAST(sum(1 + b.p) AS BIGINT) AS p
         |        FROM r$g15Rounds a JOIN e ON e.src = a.id
         |        JOIN p$nx b ON b.pv = a.pv AND b.id = e.dst
         |        WHERE a.d = $k GROUP BY 1, 2),
         |p$k AS MATERIALIZED (SELECT a.pv, a.id, coalesce(q.p, CAST(0 AS BIGINT)) AS p
         |        FROM r$g15Rounds a LEFT JOIN q$k q
         |          ON q.pv = a.pv AND q.id = a.id
         |        WHERE a.d = $k)""".stripMargin
    }.mkString(",\n")
    val pAll = (0 to g15Rounds).map(k => s"SELECT * FROM p$k").mkString(" UNION ALL ")
    s"""WITH nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |e AS MATERIALIZED (SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn
      |      UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |      UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2),
      |$f0Cte,
      |r0 AS (SELECT * FROM f0),
      |$fwd,
      |p$g15Rounds AS MATERIALIZED (SELECT pv, id, CAST(0 AS BIGINT) AS p
      |        FROM r$g15Rounds WHERE d = $g15Rounds),
      |$bwd,
      |pa AS ($pAll)
      |SELECT a.id AS c_custkey, CAST(count(*) AS BIGINT) AS n_sources,
      |  CAST(sum(a.sigma * pa.p) AS BIGINT) AS stress
      |FROM r$g15Rounds a JOIN pa ON pa.pv = a.pv AND pa.id = a.id
      |WHERE a.d > 0
      |GROUP BY 1
      |ORDER BY c_custkey""".stripMargin
  }

  // ---------- g18: directed strongly connected components ----------

  private[graft] val g18Pivots = 32 // pivots per peel (bits of one BIGINT mask)
  private[graft] val g18Peels = 2
  private[graft] val g18Rounds = 18 // ≥ max SCC diameter (measured 7/11/15)

  /** Multi-pivot forward-backward SCC labeling — the scalable
    * directed-components algorithm (FW-BW: Fleischer/Hendrickson/
    * Pinar 2000; parallelized with multi-source bitmask BFS in the
    * style of MS-BFS, Then et al. VLDB 2014): per peel, take the
    * [[g18Pivots]] smallest unassigned node ids as pivots, give
    * pivot i bit i of a BIGINT mask, and run [[g18Rounds]]
    * synchronous rounds propagating `fm` (pivots that REACH the
    * node) along edges and `bm` (pivots the node reaches) against
    * them — two equality joins + two `bit_or` aggregates per round,
    * all-integer state. A node with `fm & bm ≠ 0` is mutually
    * reachable with every pivot in the intersection (p→v and v→p
    * ⇒ p ∈ SCC(v); any two such pivots are mutually reachable
    * THROUGH v), so its SCC label is the least-bit pivot —
    * `(fm & bm) & -(fm & bm)` mapped back through the ≤32-row
    * bit→pivot table. Claimed nodes leave the vertex set; the next
    * peel restricts edges to the unassigned subgraph (sound:
    * every path witnessing mutual reachability lies INSIDE the
    * SCC, and peels always remove whole SCCs). Unassigned after
    * [[g18Peels]] peels report -1 — the snapshot-at-R contract
    * (g6/g9), with the spec asserting fixpoint on the fixture.
    *
    * Determinism: masks are exact BIGINTs under `bit_or` (order-
    * free), pivot bits are rank-in-sorted-order, the least-bit
    * rule is total. Rounds converge wherever R ≥ the SCC's
    * diameter; labels only ever ADD bits, and the least pivot of
    * each fixture SCC is its min member (asserted in spec), so the
    * snapshot equals true SCCs on the fixture.
    */
  private[graft] def sccLabels(nodes: DataFrame, edges: DataFrame,
      peels: Int = g18Peels, rounds: Int = g18Rounds,
      pivots: Int = g18Pivots): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    var lab = nodes.select($"id", lit(null).cast("long").as("scc"))
      .localCheckpoint()
    (1 to peels).foreach { _ =>
      val un = lab.filter($"scc".isNull).select($"id")
      // bounded driver-side pivot draw (≤ [[g18Pivots]] rows), the
      // codebook idiom: pivot i is the i-th smallest unassigned id
      val pv = un.orderBy($"id").limit(pivots).collect().map(_.getLong(0))
      if (pv.nonEmpty) {
        val pvDf = pv.zipWithIndex.toSeq
          .map { case (p, i) => (p, i) }.toDF("pid", "bit")
        val eU = edges
          .join(un.withColumnRenamed("id", "src"), Seq("src"))
          .join(un.withColumnRenamed("id", "dst"), Seq("dst"))
          .select($"src", $"dst").localCheckpoint()
        // round-18 shuffle diet (guide §2.4, measured g18 5.4→4.1 s):
        // the peel's edge set is static across its [[g18Rounds]]
        // rounds — cache it partitioned BOTH ways once (one shuffle
        // each) instead of re-exchanging it by src and by dst in
        // every one of the 2×[[g18Rounds]] mask-flow joins
        val eUsrc = eU.repartition($"src").cache()
        val eUdst = eU.repartition($"dst").cache()
        var m = un
          .join(broadcast(pvDf), un("id") === pvDf("pid"), "left")
          .selectExpr("id",
            "CASE WHEN bit IS NOT NULL THEN shiftleft(CAST(1 AS BIGINT), bit) " +
              "ELSE CAST(0 AS BIGINT) END AS fm")
          .withColumn("bm", $"fm").localCheckpoint()
        (1 to rounds).foreach { _ =>
          val f = eUsrc
            .join(m.filter($"fm" =!= 0L).selectExpr("id AS src", "fm"), Seq("src"))
            .groupBy($"dst").agg(expr("bit_or(fm)").as("nf"))
          val b = eUdst
            .join(m.filter($"bm" =!= 0L).selectExpr("id AS dst", "bm"), Seq("dst"))
            .groupBy($"src").agg(expr("bit_or(bm)").as("nb"))
          val next = m
            .join(f.withColumnRenamed("dst", "id"), Seq("id"), "left")
            .join(b.withColumnRenamed("src", "id"), Seq("id"), "left")
            .selectExpr("id",
              "fm | coalesce(nf, CAST(0 AS BIGINT)) AS fm",
              "bm | coalesce(nb, CAST(0 AS BIGINT)) AS bm")
            .localCheckpoint()
          graft.functions.Lineage.freeCheckpoint(m)
          m = next
        }
        eUsrc.unpersist(blocking = false)
        eUdst.unpersist(blocking = false)
        val bv = pv.zipWithIndex
          .map { case (p, i) => (1L << i, p) }.toSeq.toDF("bv", "pid")
        val claimed = m.filter(expr("(fm & bm) <> 0"))
          .withColumn("lb", expr("(fm & bm) & -(fm & bm)"))
          .join(broadcast(bv), $"lb" === $"bv")
          .select($"id", $"pid".as("newscc"))
        val nl = lab.join(claimed, Seq("id"), "left")
          .selectExpr("id", "coalesce(scc, newscc) AS scc")
          .localCheckpoint()
        graft.functions.Lineage.freeCheckpoint(lab)
        graft.functions.Lineage.freeCheckpoint(m)
        graft.functions.Lineage.freeCheckpoint(eU)
        lab = nl
      }
    }
    lab.selectExpr("id", "coalesce(scc, CAST(-1 AS BIGINT)) AS scc")
  }

  /** g18: DIRECTED SCC over a condensation-rich link graph — the
    * directed structure audit a crawl pipeline runs next to
    * PageRank/HITS (link farms, redirect cycles and crawl traps are
    * exactly the large/anomalous SCCs; the web's bow-tie picture —
    * Broder et al. 2000 — is drawn from this decomposition). g1's
    * fixture graph is one giant SCC (union of two permutations), so
    * g18 derives a richer one from the same customer keys: nodes
    * split into 4 residue classes (id % 4), each class internally a
    * union of two affine permutations on its own index space (j →
    * 31j+7, 17j+3 mod |class| — strongly connected, measured
    * diameter 7/11/15 at the three scales), plus sparse FORWARD
    * cross-class edges (class c → c+1 at every 8th index) — so the
    * true decomposition is 4 quarter-size SCCs whose condensation
    * is the chain 0→1→2→3, and the expected labels are exactly
    * {0,1,2,3} (each class's min id, always a peel-1 pivot).
    *
    * Output: (c_custkey, scc, scc_size) — label = min mutual pivot,
    * size via one label-grain aggregate.
    *
    * Scale shape: state is (id, fm, bm) = 24 bytes/node/peel; each
    * round is two edge⋈mask equality joins + two `bit_or` dst/src
    * aggregates (map-side combined), lineage-cut per round (the
    * g1/q27 iterative contract); the pivot draw is a bounded ≤32-row
    * driver-side collect; claims attach through a broadcast 32-row
    * bit table. 64 SCCs resolvable per 2-peel run REGARDLESS of
    * graph size; edges co-partition by src across rounds.
    */
  /** The condensation-rich directed fixture g18 and g20 share: 4
    * residue-class SCCs chained 0→1→2→3 by sparse forward cross
    * edges (see [[g18]]).
    */
  private def g18Fixture(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    def cls(m: Long, a: Long) =
      s"4 * (((id div 4) * $m + $a) % ((($n - 1 - id % 4) div 4) + 1)) + id % 4 AS dst"
    val edges = nodes.selectExpr("id AS src", cls(31L, 7L))
      .unionAll(nodes.selectExpr("id AS src", cls(17L, 3L)))
      .unionAll(nodes
        .filter(expr(s"(id div 4) % 8 = 0 AND id % 4 < 3 AND id + 1 < $n"))
        .selectExpr("id AS src", "id + 1 AS dst"))
      .cache()
    (nodes, edges)
  }

  /** The shared edge CTE of the g18/g20 oracles. */
  private val g18FixtureCte: String =
    """nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |e AS MATERIALIZED (
      |  SELECT id AS src,
      |    4 * (((id // 4) * 31 + 7) % (((n - 1 - id % 4) // 4) + 1)) + id % 4 AS dst
      |  FROM nodes, nn
      |  UNION ALL SELECT id,
      |    4 * (((id // 4) * 17 + 3) % (((n - 1 - id % 4) // 4) + 1)) + id % 4
      |  FROM nodes, nn
      |  UNION ALL SELECT id, id + 1 FROM nodes, nn
      |  WHERE (id // 4) % 8 = 0 AND id % 4 < 3 AND id + 1 < n)""".stripMargin

  def g18(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (nodes, edges) = g18Fixture(spark, dir)
    val labs = sccLabels(nodes, edges)
    labs.join(labs.groupBy($"scc").agg(count(lit(1)).as("scc_size")), Seq("scc"))
      .select($"id".as("c_custkey"), $"scc", $"scc_size")
      .transform(graft.Tables.ordered(_, $"c_custkey"))
  }

  /** g18 oracle: the same peel/round schedule unrolled — per peel a
    * pivot CTE (rank-in-sorted-order bits), the unassigned-subgraph
    * edge CTE, [[g18Rounds]] mask-propagation CTEs (two outer-join
    * folds of `bit_or` aggregates), and the least-bit claim joined
    * through the bit→pivot table.
    */
  /** The generated SCC-labeling CTE chain (fixture + both peels +
    * the `lab` id→scc table) shared by the g18 and g23 oracles. */
  private def g18LabCtes: String = {
    def peel(p: Int, unassigned: String): String = {
      val rounds = (1 to g18Rounds).map { r =>
        val prev = s"m${p}_${r - 1}"
        s"""m${p}_$r AS MATERIALIZED (SELECT m.id,
           |    m.fm | coalesce(f.nf, CAST(0 AS BIGINT)) AS fm,
           |    m.bm | coalesce(b.nb, CAST(0 AS BIGINT)) AS bm
           |  FROM $prev m
           |  LEFT JOIN (SELECT e.dst AS id, bit_or(x.fm) AS nf
           |             FROM e$p e JOIN $prev x ON x.id = e.src AND x.fm <> 0
           |             GROUP BY e.dst) f ON f.id = m.id
           |  LEFT JOIN (SELECT e.src AS id, bit_or(x.bm) AS nb
           |             FROM e$p e JOIN $prev x ON x.id = e.dst AND x.bm <> 0
           |             GROUP BY e.src) b ON b.id = m.id)""".stripMargin
      }.mkString(",\n")
      s"""u$p AS MATERIALIZED ($unassigned),
         |p$p AS MATERIALIZED (SELECT id AS pid,
         |        row_number() OVER (ORDER BY id) - 1 AS bit
         |      FROM u$p ORDER BY id LIMIT $g18Pivots),
         |e$p AS MATERIALIZED (SELECT e.src, e.dst FROM e
         |      JOIN u$p a ON a.id = e.src JOIN u$p b ON b.id = e.dst),
         |m${p}_0 AS MATERIALIZED (SELECT u.id,
         |        coalesce((CAST(1 AS BIGINT) << p.bit), CAST(0 AS BIGINT)) AS fm,
         |        coalesce((CAST(1 AS BIGINT) << p.bit), CAST(0 AS BIGINT)) AS bm
         |      FROM u$p u LEFT JOIN p$p p ON p.pid = u.id),
         |$rounds,
         |l$p AS MATERIALIZED (SELECT m.id, v.pid AS scc
         |      FROM m${p}_$g18Rounds m
         |      JOIN (SELECT pid, (CAST(1 AS BIGINT) << bit) AS bv FROM p$p) v
         |        ON v.bv = ((m.fm & m.bm) & -(m.fm & m.bm))
         |      WHERE (m.fm & m.bm) <> 0)""".stripMargin
    }
    s"""$g18FixtureCte,
      |${peel(1, "SELECT id FROM nodes")},
      |${peel(2, "SELECT id FROM nodes WHERE id NOT IN (SELECT id FROM l1)")},
      |lab AS (SELECT n.id,
      |          coalesce(l1.scc, l2.scc, CAST(-1 AS BIGINT)) AS scc
      |        FROM nodes n
      |        LEFT JOIN l1 ON l1.id = n.id
      |        LEFT JOIN l2 ON l2.id = n.id)""".stripMargin
  }

  val g18Sql: String =
    s"""WITH $g18LabCtes,
      |sz AS (SELECT scc, CAST(count(*) AS BIGINT) AS scc_size FROM lab GROUP BY scc)
      |SELECT lab.id AS c_custkey, lab.scc, sz.scc_size
      |FROM lab JOIN sz ON sz.scc = lab.scc
      |ORDER BY c_custkey""".stripMargin


  // ---------- g23: SCC condensation DAG ----------

  private[graft] val g23Rounds = 6 // ≥ measured condensation depth (3) with margin

  /** g23: SCC CONDENSATION DAG — contract g18's strongly connected
    * components to single nodes and read the DIRECTED ACYCLIC
    * structure between them (the condensation theorem: the
    * component graph of any digraph is a DAG): per SCC its size,
    * DAG in/out degree and its LONGEST-PATH DEPTH from the sources
    * — the "how many irreversible stages does this web have" number
    * that sits one level above g20's bow-tie (which names the
    * components; the condensation ORDERS them). Crawl planning
    * reads this as the frontier-stage count; dependency analysis as
    * the critical-path length.
    *
    * Shape: [[sccLabels]] labels the g18 fixture; condensation
    * edges are one distinct label-pair projection of the edge set
    * (id-equality joins to attach labels — labels ride the
    * shuffle, never adjacency lists); depth is [[g23Rounds]] fixed
    * rounds of max-relaxation over the ≤|SCC|-row DAG — acyclicity
    * (guaranteed by the condensation theorem) is what makes the
    * fixed-round relaxation converge, and the spec asserts the
    * fixpoint by running one extra round. All integers; oracle
    * reuses g18's generated labeling chain verbatim plus unrolled
    * relaxation CTEs.
    *
    * Scale shape: labeling is g18's cost; everything after lives on
    * the COMPONENT grain (4 rows here; ≤ #SCC anywhere) — the
    * condensation is precisely the bounded-metadata reduction that
    * makes DAG analytics affordable at any corpus size.
    */
  def g23(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (nodes, edges) = g18Fixture(spark, dir)
    val labs = sccLabels(nodes, edges).localCheckpoint()
    val cel = edges
      .join(labs.select($"id".as("src"), $"scc".as("sa")), Seq("src"))
      .join(labs.select($"id".as("dst"), $"scc".as("sb")), Seq("dst"))
      .filter($"sa" =!= $"sb")
      .select($"sa", $"sb").distinct().localCheckpoint()
    val sz = labs.groupBy($"scc").agg(count(lit(1)).as("scc_size"))
    var lvl = sz.select($"scc", lit(0L).as("depth")).localCheckpoint()
    (1 to g23Rounds).foreach { _ =>
      val cand = cel
        .join(lvl.select($"scc".as("sa"), $"depth".as("da")), Seq("sa"))
        .groupBy($"sb".as("scc")).agg(max($"da" + 1).as("cand"))
      val nxt = lvl.join(cand, Seq("scc"), "left")
        .selectExpr("scc", "greatest(depth, coalesce(cand, CAST(0 AS BIGINT))) AS depth")
        .localCheckpoint()
      graft.functions.Lineage.freeCheckpoint(lvl)
      lvl = nxt
    }
    val outd = cel.groupBy($"sa".as("scc")).agg(count(lit(1)).as("out_deg"))
    val ind = cel.groupBy($"sb".as("scc")).agg(count(lit(1)).as("in_deg"))
    sz.join(outd, Seq("scc"), "left").join(ind, Seq("scc"), "left")
      .join(lvl, Seq("scc"))
      .selectExpr("scc", "scc_size",
        "coalesce(out_deg, CAST(0 AS BIGINT)) AS out_deg",
        "coalesce(in_deg, CAST(0 AS BIGINT)) AS in_deg", "depth")
      .transform(graft.Tables.ordered(_, $"scc"))
  }

  /** g23 oracle: g18's labeling chain + condensation edges + the
    * unrolled max-relaxation rounds. */
  val g23Sql: String = {
    val rounds = (1 to g23Rounds).map { r =>
      s"""lv$r AS MATERIALIZED (SELECT v.scc,
         |    greatest(v.depth, coalesce(m.cand, CAST(0 AS BIGINT))) AS depth
         |  FROM lv${r - 1} v
         |  LEFT JOIN (SELECT c.sb AS scc, max(v2.depth + 1) AS cand
         |             FROM cel c JOIN lv${r - 1} v2 ON v2.scc = c.sa
         |             GROUP BY c.sb) m ON m.scc = v.scc)""".stripMargin
    }.mkString(",\n")
    s"""WITH $g18LabCtes,
      |cel AS MATERIALIZED (SELECT DISTINCT a.scc AS sa, b.scc AS sb
      |      FROM e JOIN lab a ON a.id = e.src JOIN lab b ON b.id = e.dst
      |      WHERE a.scc <> b.scc),
      |sz AS (SELECT scc, CAST(count(*) AS BIGINT) AS scc_size FROM lab GROUP BY scc),
      |lv0 AS MATERIALIZED (SELECT scc, CAST(0 AS BIGINT) AS depth FROM sz),
      |$rounds,
      |outd AS (SELECT sa AS scc, CAST(count(*) AS BIGINT) AS out_deg FROM cel GROUP BY sa),
      |ind AS (SELECT sb AS scc, CAST(count(*) AS BIGINT) AS in_deg FROM cel GROUP BY sb)
      |SELECT sz.scc, sz.scc_size,
      |  CAST(coalesce(outd.out_deg, 0) AS BIGINT) AS out_deg,
      |  CAST(coalesce(ind.in_deg, 0) AS BIGINT) AS in_deg, lv.depth
      |FROM sz LEFT JOIN outd ON outd.scc = sz.scc
      |LEFT JOIN ind ON ind.scc = sz.scc
      |JOIN lv$g23Rounds lv ON lv.scc = sz.scc
      |ORDER BY sz.scc""".stripMargin
  }

  // ---------- g21: directed triangle motifs (FFL vs cycle) ----------

  /** g21: DIRECTED TRIANGLE MOTIF CENSUS — feed-forward loops
    * (a→b, b→c, a→c) versus 3-cycles (a→b→c→a), the two directed
    * triangle isomorphism classes of the network-motif literature
    * (Milo et al. 2002, "Network Motifs: Simple Building Blocks of
    * Complex Networks"): FFLs are the redundant-shortcut pattern
    * (link hierarchies, navigation chrome), directed cycles the
    * circular-endorsement pattern next to which link farms show up
    * — the directed refinement of g3's undirected triangle count.
    * Over g1's directed link graph (distinct edges, self-loops
    * dropped): ordered 2-paths a→b→c on distinct nodes close as an
    * FFL when a→c exists, as a cycle when c→a does; each 3-cycle
    * appears once per rotation, so instances = ordered/3 — EXACT
    * (spec-pinned divisibility); FFL instances are already
    * distinct per ordered triple. Output per motif: instances,
    * the shared open-path denominator, and the §8.39 closure
    * rate in micro-units (how often an open 2-path closes each way — the
    * motif-significance ratio profile).
    *
    * Scale shape: the path join is E ⋈ E on the middle node, then
    * one closing-edge equality join per motif — with per-node
    * degrees bounded (≤3 out / ≤4 in here) the path table is O(N);
    * on unbounded graphs the g12 capped-adjacency discipline
    * applies first. Counts are 1-row aggregates.
    */
  def g21(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val edges = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
      .filter($"src" =!= $"dst").distinct().cache()
    val paths = edges.select($"src".as("a"), $"dst".as("b"))
      .join(edges.select($"src".as("b"), $"dst".as("c")), Seq("b"))
      .filter($"c" =!= $"a" && $"c" =!= $"b" && $"a" =!= $"b")
    val nPaths = paths.agg(count(lit(1)).as("paths"))
    val ffl = paths
      .join(edges.select($"src".as("a"), $"dst".as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("n"))
      .selectExpr("'ffl' AS motif", "n")
    val cyc = paths
      .join(edges.select($"src".as("c"), $"dst".as("a")), Seq("a", "c"))
      .agg((count(lit(1)) / 3).cast("long").as("n"))
      .selectExpr("'cycle' AS motif", "n")
    ffl.unionByName(cyc)
      .crossJoin(broadcast(nPaths))
      .selectExpr("motif", "n", "paths",
        "(n * 1000000) div paths AS closure_micro")
      .transform(graft.Tables.ordered(_, $"motif"))
  }

  /** g21 oracle: identical distinct-edge build, middle-node path
    * join, per-motif closing joins and the /3 rotation collapse.
    */
  val g21Sql: String =
    """WITH nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
      |      SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn
      |      UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |      UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2)
      |    WHERE src <> dst),
      |p AS MATERIALIZED (SELECT x.src AS a, x.dst AS b, y.dst AS c
      |      FROM e x JOIN e y ON y.src = x.dst
      |      WHERE y.dst <> x.src AND y.dst <> x.dst AND x.src <> x.dst),
      |np AS (SELECT CAST(count(*) AS BIGINT) AS paths FROM p),
      |f AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p
      |      JOIN e ON e.src = p.a AND e.dst = p.c),
      |cy AS (SELECT CAST(count(*) // 3 AS BIGINT) AS n FROM p
      |      JOIN e ON e.src = p.c AND e.dst = p.a),
      |un AS (SELECT 'ffl' AS motif, n FROM f
      |      UNION ALL SELECT 'cycle', n FROM cy)
      |SELECT motif, n, np.paths, (n * 1000000) // np.paths AS closure_micro
      |FROM un, np
      |ORDER BY motif""".stripMargin

  // ---------- g22: k-truss cohesive-subgraph peeling ----------

  private[graft] val g22K = 4 // truss order: every edge in ≥ k−2 triangles
  private[graft] val g22Rounds = 4 // ≥ measured peel depth (2) + margin

  /** g22: K-TRUSS DECOMPOSITION (Cohen 2008, "Trusses: Cohesive
    * Subgraphs for Social Network Analysis") — the EDGE analog of
    * g7's k-core and the standard community-core extractor: the
    * k-truss is the maximal subgraph where every edge closes at
    * least k−2 triangles WITHIN the subgraph, computed by support
    * peeling (count triangles per edge, drop under-supported
    * edges, recount — removal cascades exactly like k-core's
    * degree peeling, but on the triangle grain, which is why truss
    * survives noise that fools the core: random edges have degree
    * but not CLOSED WEDGES). g1's organic graph alone has an EMPTY
    * 4-truss (measured — sparse random structure closes almost
    * nothing), so the fixture plants communities: a full 8-clique
    * on every 4th block of 8 ids; the 4-truss then recovers
    * EVERY clique edge plus a handful of organic survivors
    * (140+9 / 1316+3 / 13132+12 across scales, converged in 2
    * peels — [[g22Rounds]] = 4 is the snapshot budget, fixpoint
    * spec-asserted). Output: every ORIGINAL edge with its final
    * in-truss support (−1 once peeled) and the survival flag.
    *
    * Scale shape per round: wedges enumerate per center
    * (und ⋈ und on the center key — Σdeg², bounded here by the
    * clique degree ~11; the g3 degree-ordered/capped discipline
    * applies on power-law graphs), triangles confirm by ONE
    * equality join against the edge set, support is a
    * map-side-combined (a, b) count, and the peel filter is an
    * inner join — all-integer, lineage-cut per round (the g1/q27
    * iterative contract).
    */
  def g22(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val organic = nodes.selectExpr("id AS s", s"(id * 31 + 7) % $n AS d")
      .unionAll(nodes.selectExpr("id AS s", s"(id * 17 + 3) % $n AS d"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS s", "id div 2 AS d"))
      .filter($"s" =!= $"d")
      .selectExpr("least(s, d) AS a", "greatest(s, d) AS b")
    val cl = nodes.filter(expr("(id div 8) % 4 = 0"))
      .selectExpr("id", "id div 8 AS blk")
    val clique = cl.as("x").join(cl.as("y"),
        expr("x.blk = y.blk AND x.id < y.id"))
      .selectExpr("x.id AS a", "y.id AS b")
    val e0 = organic.unionByName(clique).distinct().localCheckpoint()
    def supportOf(e: DataFrame): DataFrame = {
      val und = e.selectExpr("a AS x", "b AS y")
        .unionByName(e.selectExpr("b AS x", "a AS y"))
      val wedges = und.as("p").join(und.as("q"),
          expr("p.x = q.x AND p.y < q.y"))
        .selectExpr("p.y AS a", "q.y AS b")
      wedges.join(e, Seq("a", "b"))
        .groupBy($"a", $"b").agg(count(lit(1)).as("sup"))
    }
    var cur = e0
    (1 to g22Rounds).foreach { _ =>
      val next = cur.join(supportOf(cur), Seq("a", "b"))
        .filter($"sup" >= g22K - 2)
        .select($"a", $"b").localCheckpoint()
      // e0 is still a consumer of the final original-edge join —
      // free only the intermediate rounds
      if (cur ne e0) graft.functions.Lineage.freeCheckpoint(cur)
      cur = next
    }
    val finalSup = cur.join(supportOf(cur), Seq("a", "b"), "left")
      .selectExpr("a", "b", "coalesce(sup, CAST(0 AS BIGINT)) AS fsup")
    e0.join(finalSup, Seq("a", "b"), "left")
      .selectExpr("a", "b", "coalesce(fsup, CAST(-1 AS BIGINT)) AS support",
        "CAST(CASE WHEN fsup IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_truss")
      .transform(graft.Tables.ordered(_, $"a", $"b"))
  }

  /** g22 oracle: the same clique-augmented edge set and the peel
    * rounds unrolled (wedge join, triangle confirm, support count,
    * ≥ k−2 filter), then the final support left-fold.
    */
  val g22Sql: String = {
    def supCte(i: Int, e: String): String =
      s"""u$i AS (SELECT a AS x, b AS y FROM $e
         |      UNION ALL SELECT b, a FROM $e),
         |s$i AS (SELECT w.a, w.b, CAST(count(*) AS BIGINT) AS sup
         |      FROM (SELECT p.y AS a, q.y AS b FROM u$i p
         |            JOIN u$i q ON q.x = p.x AND q.y > p.y) w
         |      JOIN $e t ON t.a = w.a AND t.b = w.b
         |      GROUP BY 1, 2)""".stripMargin
    val rounds = (1 to g22Rounds).map { i =>
      s"""${supCte(i, s"e${i - 1}")},
         |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
         |      JOIN s$i s ON s.a = e.a AND s.b = e.b
         |      WHERE s.sup >= ${g22K - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |org AS (SELECT least(s, d) AS a, greatest(s, d) AS b FROM (
      |      SELECT id AS s, (id * 31 + 7) % nn.n AS d FROM nodes, nn
      |      UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |      UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2)
      |    WHERE s <> d),
      |cl AS (SELECT id, id // 8 AS blk FROM nodes WHERE (id // 8) % 4 = 0),
      |e0 AS MATERIALIZED (SELECT DISTINCT a, b FROM (
      |      SELECT a, b FROM org
      |      UNION ALL
      |      SELECT x.id AS a, y.id AS b FROM cl x
      |      JOIN cl y ON y.blk = x.blk AND x.id < y.id)),
      |$rounds,
      |${supCte(g22Rounds + 1, s"e$g22Rounds")},
      |fs AS (SELECT e.a, e.b,
      |        coalesce(s.sup, CAST(0 AS BIGINT)) AS fsup
      |      FROM e$g22Rounds e
      |      LEFT JOIN s${g22Rounds + 1} s ON s.a = e.a AND s.b = e.b)
      |SELECT e0.a, e0.b,
      |  coalesce(fs.fsup, CAST(-1 AS BIGINT)) AS support,
      |  CAST(CASE WHEN fs.a IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_truss
      |FROM e0
      |LEFT JOIN fs ON fs.a = e0.a AND fs.b = e0.b
      |ORDER BY e0.a, e0.b""".stripMargin
  }

  // ---------- g20: bow-tie decomposition relative to a seed's SCC ----------

  private[graft] val g20Seed = 2L
  private[graft] val g20Rounds = 20 // ≥ single-seed closure depth (measured ≤17)

  /** Classify every node of a directed graph relative to the SCC of
    * one seed: `scc` (mutually reachable with the seed), `in`
    * (reaches it), `out` (reached from it), `other` (tendrils/
    * disconnected) — the web BOW-TIE decomposition (Broder et al.
    * 2000, "Graph structure in the Web") anchored at a designated
    * trusted host, the picture a crawl planner draws before
    * spending budget: IN feeds authority toward the core, OUT is
    * reachable inventory, OTHER is unreachable without new seeds.
    *
    * The whole decomposition costs exactly TWO single-seed
    * reachability closures ([[g20Rounds]] synchronous frontier
    * rounds each way): core = fwd ∩ bwd, and — because the core is
    * one SCC containing the seed — reachable-from-core equals
    * reachable-from-seed, so OUT = fwd \ core and IN = bwd \ core
    * with NO second multi-source sweep. All-boolean state; the
    * snapshot-at-R contract (g9) wherever R < true eccentricity.
    */
  private[graft] def bowtieParts(nodes: DataFrame, edges: DataFrame,
      seed: Long, rounds: Int = g20Rounds): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    def closure(keyIn: String, keyOut: String): DataFrame = {
      var reach = nodes.filter($"id" === seed).select($"id").localCheckpoint()
      var frontier = reach
      (1 to rounds).foreach { _ =>
        val nf = edges
          .join(frontier.withColumnRenamed("id", keyIn), Seq(keyIn))
          .select(col(keyOut).as("id")).distinct()
          .join(reach, Seq("id"), "left_anti")
          .localCheckpoint()
        val nr = reach.unionByName(nf).localCheckpoint()
        graft.functions.Lineage.freeCheckpoint(reach)
        if (frontier ne reach) graft.functions.Lineage.freeCheckpoint(frontier)
        reach = nr
        frontier = nf
      }
      reach
    }
    val fwd = closure("src", "dst").withColumn("f", lit(1))
    val bwd = closure("dst", "src").withColumn("b", lit(1))
    nodes.join(fwd, Seq("id"), "left").join(bwd, Seq("id"), "left")
      .selectExpr("id",
        """CASE WHEN f IS NOT NULL AND b IS NOT NULL THEN 'scc'
          |     WHEN b IS NOT NULL THEN 'in'
          |     WHEN f IS NOT NULL THEN 'out'
          |     ELSE 'other' END AS part""".stripMargin)
  }

  /** g20: BOW-TIE DECOMPOSITION over the g18 fixture, seeded at
    * node [[g20Seed]] (class 2 of the condensation chain 0→1→2→3):
    * expected buckets are `scc` = class 2, `in` = classes 0 and 1,
    * `out` = class 3, `other` empty — every bucket size an exact
    * class size. Output (c_custkey, part, part_size).
    *
    * Scale shape: two single-seed boolean closures ([[g20Rounds]]
    * frontier-only equality joins + anti-joins, lineage-cut per
    * round — only NEW nodes ship each round) + one node-grain
    * classification join + a 4-row size aggregate. State is one
    * bit per reached node per direction; edges co-partition by
    * src/dst across rounds.
    */
  def g20(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (nodes, edges) = g18Fixture(spark, dir)
    val parts = bowtieParts(nodes, edges, g20Seed)
    parts.join(parts.groupBy($"part").agg(count(lit(1)).as("part_size")),
        Seq("part"))
      .select($"id".as("c_custkey"), $"part", $"part_size")
      .transform(graft.Tables.ordered(_, $"c_custkey"))
  }

  /** g20 oracle: both closures unrolled as frontier/reach CTE pairs
    * (NOT-EXISTS new-frontier cut, running union — g15's forward
    * idiom without path counts), then the 4-way CASE and the
    * part-size aggregate.
    */
  val g20Sql: String = {
    def chain(tag: String, keyIn: String, keyOut: String): String = {
      val rounds = (1 to g20Rounds).map { i =>
        val p = i - 1
        s"""${tag}f$i AS (SELECT DISTINCT e.$keyOut AS id
           |        FROM e JOIN ${tag}f$p f ON f.id = e.$keyIn
           |        WHERE NOT EXISTS (SELECT 1 FROM ${tag}r$p r WHERE r.id = e.$keyOut)),
           |${tag}r$i AS MATERIALIZED (SELECT * FROM ${tag}r$p UNION ALL SELECT * FROM ${tag}f$i)""".stripMargin
      }.mkString(",\n")
      s"""${tag}f0 AS (SELECT CAST($g20Seed AS BIGINT) AS id),
         |${tag}r0 AS (SELECT * FROM ${tag}f0),
         |$rounds""".stripMargin
    }
    s"""WITH $g18FixtureCte,
      |${chain("a", "src", "dst")},
      |${chain("b", "dst", "src")},
      |parts AS (SELECT n.id,
      |    CASE WHEN f.id IS NOT NULL AND b.id IS NOT NULL THEN 'scc'
      |         WHEN b.id IS NOT NULL THEN 'in'
      |         WHEN f.id IS NOT NULL THEN 'out'
      |         ELSE 'other' END AS part
      |  FROM nodes n
      |  LEFT JOIN ar$g20Rounds f ON f.id = n.id
      |  LEFT JOIN br$g20Rounds b ON b.id = n.id),
      |sz AS (SELECT part, CAST(count(*) AS BIGINT) AS part_size
      |       FROM parts GROUP BY part)
      |SELECT parts.id AS c_custkey, parts.part, sz.part_size
      |FROM parts JOIN sz ON sz.part = parts.part
      |ORDER BY c_custkey""".stripMargin
  }

  // ---------- g24: Louvain modularity optimization (single level) ----------

  private[graft] val g24Rounds = 5

  /** g24: MODULARITY-OPTIMIZING COMMUNITIES — one Louvain level
    * (Blondel/Guillaume/Lambiotte/Lefebvre 2008, J. Stat. Mech.
    * P10008) over the undirected link graph: the algorithm
    * crawl-corpus curation actually runs for topic clustering,
    * closing the family's community story (g5 AUDITS a given
    * partition's modularity, g6 PROPAGATES labels with no
    * objective; g24 OPTIMIZES Q by local moves). Classic Louvain
    * is sequential (one vertex at a time) and order-dependent —
    * useless across an engine boundary — so this is the
    * DETERMINISTIC synchronous variant with the minimum-label
    * swap-avoidance rule of parallel Louvain practice
    * (Lu/Halappanavar/Kalyanaraman 2015, Parallel Computing 47):
    * each round every node evaluates its neighbor communities'
    * modularity gain SIMULTANEOUSLY against the current
    * partition and may move only DOWNWARD in label space
    * (target < current) on a strictly positive gain over staying.
    * Downward flow makes a pairwise label swap impossible (it
    * would need c < c' and c' < c), every node's label sequence
    * non-increasing (termination), and each round a pure function
    * of the previous labeling — g6's snapshot-at-round-R bitwise
    * contract, here for [[g24Rounds]] rounds.
    *
    * EXACT INTEGER gain: moving i into community c changes Q by
    * [k_in(i,c) − k_in(i,own∖i)]/m − k_i·[Σtot(c) − Σtot(own∖i)]
    * /(2m²); comparing candidates for ONE node only needs the
    * candidate-dependent part, scaled by 2m² to land in BIGINT:
    * gain(c) = 2m·k_in(i,c) − k_i·Σtot′(c), with Σtot′ removing
    * i's own degree when c is its current community (the standard
    * remove-then-evaluate step). Stay is a candidate like any
    * other (preferred on ties), so "move only if strictly better"
    * is the argmax itself. Output carries the per-node community,
    * its size, and the partition's exact modularity numerator
    * Q·4m² = Σ_c [4m·e_in(c) − Σtot(c)²] — one BIGINT both
    * engines agree on bitwise (the spec reads it per round:
    * non-decreasing, and ≥ LPA's on the fixture).
    *
    * Scale shape per round: one edges⋈labels equality join, a
    * (node, community) vote aggregate, a community-grain degree
    * aggregate (≤ #communities rows) joined back, and the argmax
    * as a struct-MIN aggregate — all map-side combinable, no
    * node-grain window; state lineage-cut per round (g1/q27
    * discipline). At 100 TB: identical exchanges to g6's LPA plus
    * one community-grain broadcast-sized join.
    */
  def g24(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val e0 = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
    val und = e0.filter($"src" =!= $"dst")
      .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
      .distinct().cache()
    val labels = louvainStates(nodes, und, g24Rounds).last
    // the 1-row Q numerator is checkpointed EAGERLY so the fixture
    // caches can be dropped before the presentation frame returns —
    // per-query caches must not accumulate across a 300-query session
    val q = louvainQx4m2(und, labels).localCheckpoint()
    nodes.unpersist(blocking = false)
    und.unpersist(blocking = false)
    labels
      .join(labels.groupBy($"lbl").agg(count(lit(1)).as("csize")), Seq("lbl"))
      .crossJoin(broadcast(q))
      .select($"id".as("c_custkey"), $"lbl".as("community"), $"csize",
        $"q_x4m2")
      .transform(Tables.ordered(_, $"c_custkey"))
  }

  /** The synchronous min-label Louvain core: `und` is the canonical
    * undirected (a < b) edge set; rounds run until convergence
    * (zero moves) capped at `rounds`, per-round state lineage-cut.
    * With the default `keepAll = false` (the `.last`-only serving
    * path) each superseded round's checkpoint is FREED as the next
    * round lands and ONLY the final frame is returned — a sequence
    * of freed checkpoints would fail far from the cause (the
    * round-14 misuse hole); a caller that reads the whole sequence
    * (a monotone-Q audit) must pass `keepAll = true`, which keeps
    * every per-round checkpoint alive (v21SearchOn's flag idiom).
    */
  private[graft] def louvainStates(nodes: DataFrame, und: DataFrame,
      rounds: Int, keepAll: Boolean = false): Seq[DataFrame] = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // the unweighted graph is the w = 1 case of the weighted core
    // (kin = Σw degenerates to the neighbor count, strengths to
    // degrees) — ONE move-rule implementation serves both levels
    val edges = und.select($"a".as("src"), $"b".as("dst"))
      .unionAll(und.select($"b".as("src"), $"a".as("dst")))
      .withColumn("w", lit(1L))
    val deg = edges.groupBy($"src".as("id")).agg(sum($"w").as("d"))
    val degAll = nodes.join(deg, Seq("id"), "left_outer")
      .selectExpr("id", "coalesce(d, CAST(0 AS BIGINT)) AS d")
    val m = und.count()
    louvainStatesW(nodes.withColumn("lbl", $"id"), edges, degAll, m,
      rounds, keepAll)
  }

  /** The WEIGHTED synchronous min-label Louvain move rounds — the
    * core both levels share. `init` is the starting (id, lbl)
    * labeling, `edgesW` the directed-both-ways weighted edge set
    * WITHOUT self-loops (self-loop weight is community-invariant in
    * the move gain, so it belongs only in the strengths), `degAll`
    * the per-node strength k_i = Σ_j w_ij (+2·self-loop weight), and
    * `m` the total edge weight — Σ k = 2m. Weighted gain, exact in
    * BIGINT at the 2m² scale (Blondel et al. 2008 eq. 2's
    * candidate-dependent part): gain(c) = 2m·k_in(i,c) − k_i·Σtot′(c)
    * with Σtot′ removing i's own strength when c is its current
    * community. Same downward-only min-label discipline, same
    * (gain DESC, stay-first, label ASC) struct-MIN argmax, same
    * per-round lineage cuts as the unweighted level.
    *
    * Rounds run UNTIL CONVERGENCE (a round in which no node moves),
    * capped at `rounds`: a zero-move round is a fixed point (each
    * round is a pure function of the previous labeling, so every
    * later round reproduces it verbatim), which is exactly why the
    * oracle's FIXED-round CTE unroll still matches — its post-
    * convergence rounds are provable no-ops. The move count rides
    * the checkpointed label frame as a flag column (one cache-scan
    * `isEmpty` per round — no extra shuffle), so at 100 TB a graph
    * that stabilizes in 3 rounds pays 3, not the cap. With the
    * default `keepAll = false` ONLY the final labeling is returned
    * (superseded checkpoints are freed as rounds land — a caller
    * holding the full sequence would be holding unreadable frames,
    * the round-14 misuse hole); `keepAll = true` keeps and returns
    * every round's state (index 0 = singletons) for the monotone-Q
    * audit. Strengths are read once (the init join) and ride the
    * checkpointed state thereafter (round 18). */
  /** The driver-side twin of [[louvainStatesW]]'s move rounds — the
    * IDENTICAL candidate set (kin + unconditional stay), downward
    * filter, exact BIGINT gain and (gain DESC, stay-first, label
    * ASC) lexicographic argmax, and zero-move convergence, iterated
    * over collected community-grain rows. Long arithmetic == SQL
    * BIGINT on these values (same two's-complement `div`-free
    * products, non-negative divisions), and Scala's Tuple3 ordering
    * IS the struct-MIN's lexicographic order, so the labeling per
    * round is bitwise the distributed round's. */
  private def louvainRoundsLocal(initL: Seq[(Long, Long)],
      eL: Seq[(Long, Long, Long)], dL: Map[Long, Long], m: Long,
      rounds: Int): Map[Long, Long] = {
    var lbl = initL.map { case (id, l) => id -> l }.toMap
    var moved = true
    var r = 0
    while (moved && r < rounds) {
      r += 1
      val tot = lbl.toSeq.groupBy(_._2).map { case (c, xs) =>
        c -> xs.iterator.map(x => dL(x._1)).sum
      }
      // kin: Σw per (src, lbl(dst)) — the dst-label inner join drops
      // edges whose dst is unlabeled, mirrored by the filter
      val kin = eL.iterator
        .filter { case (_, t, _) => lbl.contains(t) }
        .map { case (s, t, w) => ((s, lbl(t)), w) }.toSeq
        .groupBy(_._1).map { case (k, xs) =>
          k -> xs.iterator.map(_._2).sum
        }
      val cand = kin.iterator.map { case ((id, c), k) => (id, c, k) }.toSeq ++
        lbl.iterator.map { case (id, l) => (id, l, 0L) }.toSeq
      val next = cand
        .filter { case (id, c, _) => lbl.contains(id) && c <= lbl(id) }
        .groupBy(_._1).map { case (id, xs) =>
          val l0 = lbl(id)
          val di = dL(id)
          val best = xs.iterator.map { case (_, c, k) =>
            val gain = 2L * m * k -
              di * (tot(c) - (if (c == l0) di else 0L))
            (-gain, if (c == l0) 0 else 1, c)
          }.min
          id -> best._3
        }
      moved = next.exists { case (id, c) => c != lbl(id) }
      lbl = lbl.map { case (id, _) => id -> next(id) }
    }
    lbl
  }

  private[graft] def louvainStatesW(init: DataFrame, edgesW: DataFrame,
      degAll0: DataFrame, m: Long, rounds: Int, keepAll: Boolean = false,
      callerCached: Boolean = false, condensed: Boolean = false,
      localMax: Long = Bounded.smallBudget): Seq[DataFrame] =
    louvainStatesWM(init, edgesW, degAll0, m, rounds, keepAll,
      callerCached, condensed, localMax)._1

  /** [[louvainStatesW]] plus the ANY-ROUND-MOVED flag the level loop
    * needs (round 19, guide §2.4/§2.6): the flag is the OR of the
    * per-round `mv` sums the loop already reads for its while
    * condition, so the caller's former `lbl =!= id` emptiness probe
    * — one extra job per level — disappears. Equivalence: moves
    * flow strictly DOWNWARD (the `c <= lbl` candidate filter, mv = 1
    * only when c < lbl), so a label once moved can never return to
    * its initial value — any round moving ⟺ final labels differ
    * from init, which is exactly what the probe asked (level inits
    * always satisfy lbl = id). */
  private[graft] def louvainStatesWM(init: DataFrame, edgesW: DataFrame,
      degAll0: DataFrame, m: Long, rounds: Int, keepAll: Boolean = false,
      callerCached: Boolean = false, condensed: Boolean = false,
      localMax: Long = Bounded.smallBudget)
      : (Seq[DataFrame], Boolean) = {
    val spark = init.sparkSession
    import spark.implicits._
    // round-18 bounded-local fast path (guide §1.2, the dq11/e20
    // bounded-collect class): a CONDENSED level's rounds operate at
    // community grain — when the caller says so (`condensed`) and
    // the runtime row counts sit under the gate, the move rounds
    // iterate on the driver via [[louvainRoundsLocal]] instead of
    // paying ~10 AQE stage jobs per round. Level-1 callers never
    // probe (corpus grain, the probe itself would be waste); the
    // keepAll audit path always takes the distributed loop.
    if (condensed && !keepAll) {
      val local = for {
        initP <- Bounded.collect(init.select($"id", $"lbl").as[(Long, Long)],
          localMax)
        eP <- Bounded.collect(
          edgesW.select($"src", $"dst", $"w").as[(Long, Long, Long)], localMax)
      } yield {
        val dL = degAll0.select($"id", $"d").as[(Long, Long)]
          .collect().toMap
        // the init ⋈ strengths join is INNER distributedly — mirror
        val initL = initP.toSeq.filter(p => dL.contains(p._1))
        val lbl = louvainRoundsLocal(initL, eP.toSeq, dL, m, rounds)
        val movedL = initL.exists { case (id, l0) => lbl(id) != l0 }
        (Seq(lbl.toSeq.toDF("id", "lbl")), movedL)
      }
      if (local.isDefined) return local.get
    }
    // callerCached: retained for call-site documentation — since
    // round 18 the strength table is read exactly ONCE (the init
    // join below), so the core never caches it; a caller that holds
    // its own degAll cache across levels (the level loop) still
    // benefits there.
    // ROUND-18 SHUFFLE DIET (guide §2.4 — remove shuffles outright).
    // The measured profile of the Louvain family is job-count-bound
    // (g27: 320 AQE stage jobs, 22 MB total shuffle, 10% CPU
    // utilization at local[32]) and every AQE stage is an Exchange;
    // at 100 TB the same Exchanges are the network cost. Two
    // result-identical restructures (measured g27 52.6 → 32.4 s):
    //  1. the stay candidate (id, lbl, 0) is emitted UNCONDITIONALLY
    //     instead of via a per-round anti-join: when a real
    //     (id, lbl, kin ≥ 1) row exists the zero row is a DOMINATED
    //     DUPLICATE (same c, same mv, gain differs only by
    //     +2m·kin ≥ 0), and an argmax over a set with an extra
    //     dominated element is unchanged — two Exchanges and a join
    //     gone per round;
    //  2. with stay unconditional every id has a candidate that
    //     survives the downward filter (c = lbl ≤ lbl), so the winner
    //     aggregate covers EVERY node and `next` needs no left-outer
    //     join back onto labels — the previous label rides the
    //     aggregate as max(lbl) (constant per id), another Exchange
    //     gone.
    // The static edge table is cached once for the loop (previously
    // re-derived per round). A repartition-on-join-key variant of
    // these caches was measured SLOWER: localCheckpoint drops
    // partitioning (UnknownPartitioning in the plan), so the state
    // side re-exchanges regardless, and the pin blocks AQE's
    // broadcast/coalesce path (g2 drill: 224 → 2787 tasks).
    //  3. the static per-node strength d is folded INTO the label
    //     state at init (one join, once) instead of a per-round
    //     labels ⋈ degAll join evaluated twice (tot input + candidate
    //     attach) — d is loop-invariant, so carrying it through the
    //     winner aggregate (max(d), constant per id) is the same
    //     value the join would re-attach, and up to four Exchange
    //     stages per round disappear.
    val edges = edgesW.cache()
    // state: (id, lbl, d) — d static per id, joined once here
    var st = init.select($"id", $"lbl").join(degAll0, Seq("id"))
      .select($"id", $"lbl", $"d").localCheckpoint()
    val states = scala.collection.mutable.ArrayBuffer(
      st.select($"id", $"lbl"))
    var r = 0
    var moved = true
    var anyMoved = false
    while (moved && r < rounds) {
      r += 1
      val tot = st.groupBy($"lbl".as("c")).agg(sum($"d").as("tot"))
      val kin = edges
        .join(st.select($"id".as("dst"), $"lbl".as("c")), Seq("dst"))
        .groupBy($"src".as("id"), $"c").agg(sum($"w").as("kin"))
      // stay is always a candidate, with kin = 0; when the node DOES
      // have neighbors in its own community the zero row is dominated
      // by the real kin row (see header note 2) — no anti-join
      val stay = st.select($"id", $"lbl".as("c"))
        .withColumn("kin", lit(0L))
      val cand = kin.unionByName(stay)
        .join(st, Seq("id"))
        // min-label swap avoidance: moves flow DOWNWARD only —
        // filtered BEFORE the tot join so the c-keyed exchange
        // carries only surviving candidates
        .filter($"c" <= $"lbl")
        .join(tot, Seq("c"))
        .selectExpr("id", "c", "lbl", "d",
          "2 * " + m + " * kin - d * (tot - CASE WHEN c = lbl THEN d ELSE 0 END) AS gain",
          "CASE WHEN c = lbl THEN 0 ELSE 1 END AS mv")
      // max gain, prefer stay on ties, then min label — one
      // struct-MIN (map-side combinable); lbl and d are constant per
      // id so max() is their value and `next` is the aggregate
      // itself — the moved flag is checkpointed WITH the labels, so
      // the convergence probe is a scan of the materialized round,
      // not a second aggregate
      // the convergence probe RIDES the checkpoint job (round 19,
      // guide §2.6 — actions are sequential only because the driver
      // calls them sequentially): observe() attaches a zero-pass
      // sum(mv) metric to the materialization the loop already pays,
      // replacing the per-round filter(mv).isEmpty scan job. Same
      // value the probe read — the sum over the same materialized
      // rows.
      val obs = new org.apache.spark.sql.Observation()
      val next = cand
        .groupBy($"id")
        .agg(min(struct(($"gain" * -1).as("ng"), $"mv", $"c")).as("w"),
          max($"lbl").as("plbl"), max($"d").as("d"))
        .selectExpr("id", "w.c AS lbl",
          "CASE WHEN w.c <> plbl THEN 1 ELSE 0 END AS mv", "d")
        .observe(obs, sum($"mv").as("mvs"))
        .localCheckpoint()
      moved = obs.get.get("mvs").exists {
        case null => false
        case n => n.asInstanceOf[Long] > 0L
      }
      anyMoved ||= moved
      if (!keepAll) graft.functions.Lineage.freeCheckpoint(st)
      st = next.select($"id", $"lbl", $"d")
      if (keepAll) states += st.select($"id", $"lbl")
    }
    edges.unpersist(blocking = false)
    (if (keepAll) states.toSeq else Seq(st.select($"id", $"lbl")), anyMoved)
  }

  /** Exact modularity numerator Q·4m² of a labeling over `und` —
    * the 1-row BIGINT both engines and the spec's round audit
    * share. */
  private[graft] def louvainQx4m2(und: DataFrame, labels: DataFrame)
      : DataFrame = {
    import und.sparkSession.implicits._
    val m = und.count()
    val ein = und
      .join(labels.select($"id".as("a"), $"lbl".as("la")), Seq("a"))
      .join(labels.select($"id".as("b"), $"lbl".as("lb")), Seq("b"))
      .filter($"la" === $"lb")
      .groupBy($"la".as("c")).agg(count(lit(1)).as("e_in"))
    val edges = und.select($"a".as("src"), $"b".as("dst"))
      .unionAll(und.select($"b".as("src"), $"a".as("dst")))
    val tot = edges.join(labels.select($"id".as("src"), $"lbl"), Seq("src"))
      .groupBy($"lbl".as("c")).agg(count(lit(1)).as("tot"))
    tot.join(ein, Seq("c"), "left_outer")
      .selectExpr(s"4 * $m * coalesce(e_in, CAST(0 AS BIGINT)) - tot * tot AS t")
      .agg(sum($"t").as("q_x4m2"))
  }

  /** One unrolled level-1 Louvain round: the community-degree and
    * neighbor-vote aggregates, the downward-only candidate set with
    * the stay row zero-filled, and the (gain DESC, stay-first,
    * label ASC) argmax. */
  private def louvainRoundSql(i: Int): String =
    s"""tot$i AS (SELECT l.lbl AS c, CAST(sum(dg.d) AS BIGINT) AS tot
       |      FROM l${i - 1} l JOIN degall dg ON dg.id = l.id GROUP BY 1),
       |kin$i AS (SELECT e.src AS id, l.lbl AS c, CAST(count(*) AS BIGINT) AS kin
       |      FROM edges e JOIN l${i - 1} l ON l.id = e.dst GROUP BY 1, 2),
       |cand$i AS (SELECT id, c, kin FROM kin$i
       |      UNION ALL
       |      SELECT l.id, l.lbl, 0 FROM l${i - 1} l
       |      WHERE NOT EXISTS (SELECT 1 FROM kin$i k WHERE k.id = l.id AND k.c = l.lbl)),
       |g$i AS (SELECT cd.id, cd.c,
       |        2 * (SELECT m FROM mm) * cd.kin
       |          - dg.d * (t.tot - CASE WHEN cd.c = l.lbl THEN dg.d ELSE 0 END) AS gain,
       |        CASE WHEN cd.c = l.lbl THEN 0 ELSE 1 END AS mv
       |      FROM cand$i cd JOIN l${i - 1} l ON l.id = cd.id
       |      JOIN degall dg ON dg.id = cd.id JOIN tot$i t ON t.c = cd.c
       |      WHERE cd.c <= l.lbl),
       |w$i AS (SELECT id, c AS wlbl FROM (
       |        SELECT id, c, row_number() OVER (PARTITION BY id
       |          ORDER BY gain DESC, mv, c) AS rn FROM g$i) WHERE rn = 1),
       |l$i AS MATERIALIZED (SELECT l.id, coalesce(w.wlbl, l.lbl) AS lbl
       |      FROM l${i - 1} l LEFT JOIN w$i w ON w.id = l.id)""".stripMargin

  /** The shared level-1 chain (fixture graph, degrees, rounds
    * unrolled through l[[g24Rounds]]) — g24's oracle body, reused
    * verbatim by g25's (the aggregation level condenses l5). */
  private def louvainL1Ctes: String =
    s"""nn AS (SELECT count(*) AS n FROM customer),
      |nodes AS (SELECT c_custkey AS id FROM customer),
      |e0 AS (SELECT id AS src, (id * 31 + 7) % nn.n AS dst FROM nodes, nn
      |       UNION ALL SELECT id, (id * 17 + 3) % nn.n FROM nodes, nn
      |       UNION ALL SELECT id, id // 2 FROM nodes WHERE id >= 2),
      |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM e0 WHERE src <> dst),
      |edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
      |        UNION ALL SELECT b, a FROM und),
      |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
      |degall AS MATERIALIZED (SELECT n.id,
      |        CAST(coalesce(d.d, 0) AS BIGINT) AS d
      |      FROM nodes n LEFT JOIN (SELECT src AS id, count(*) AS d
      |        FROM edges GROUP BY 1) d ON d.id = n.id),
      |l0 AS MATERIALIZED (SELECT id, id AS lbl FROM nodes),
      |${(1 to g24Rounds).map(louvainRoundSql).mkString(",\n")}""".stripMargin

  /** g24 oracle: the identical canonical edge set, then the rounds
    * unrolled — per round the community-degree and neighbor-vote
    * aggregates, the downward-only candidate set with the stay row
    * zero-filled, and the (gain DESC, stay-first, label ASC) argmax;
    * final community sizes and the exact Q·4m² numerator.
    */
  val g24Sql: String =
    s"""WITH $louvainL1Ctes,
      |sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS csize
      |      FROM l$g24Rounds GROUP BY 1),
      |ein AS (SELECT la.lbl AS c, CAST(count(*) AS BIGINT) AS e_in
      |      FROM und u JOIN l$g24Rounds la ON la.id = u.a
      |      JOIN l$g24Rounds lb ON lb.id = u.b
      |      WHERE la.lbl = lb.lbl GROUP BY 1),
      |ctot AS (SELECT l.lbl AS c, CAST(sum(dg.d) AS BIGINT) AS tot
      |      FROM l$g24Rounds l JOIN degall dg ON dg.id = l.id GROUP BY 1),
      |q AS (SELECT CAST(sum(4 * (SELECT m FROM mm) * coalesce(e.e_in, 0)
      |          - t.tot * t.tot) AS BIGINT) AS q_x4m2
      |      FROM ctot t LEFT JOIN ein e ON e.c = t.c)
      |SELECT l.id AS c_custkey, l.lbl AS community, sz.csize, q.q_x4m2
      |FROM l$g24Rounds l JOIN sz ON sz.lbl = l.lbl CROSS JOIN q
      |ORDER BY c_custkey""".stripMargin

  // ---------- g25: Louvain level 2 (community aggregation) ----------

  private[graft] val g25Rounds = 3

  /** g25: LOUVAIN LEVEL 2 — the AGGREGATION phase that makes Louvain
    * Louvain (Blondel et al. 2008 §2, the move g24's single level
    * stops short of): collapse level 1's communities into SUPER-NODES
    * of a condensed WEIGHTED graph — inter-community edge weights are
    * the cross-edge counts, a community's self-loop holds its
    * internal edges, and a super-node's strength is exactly the sum
    * of its members' degrees (so Σk = 2m and the modularity of any
    * level-2 labeling of the condensed graph EQUALS the modularity of
    * the composed node labeling on the original graph — Blondel's
    * invariance, the reason the greedy can recurse). Then the SAME
    * synchronous min-label move rounds run with WEIGHTED gain
    * ([[louvainStatesW]] — the 2m²-scaled BIGINT arithmetic
    * generalizes verbatim, kin as Σw instead of a count), and the
    * final condensed labeling projects back through level 1's:
    * community(i) = L2(L1(i)). Without this level large graphs
    * plateau at fine-grained communities — the condensed graph is
    * where small communities merge into the coarse topic clusters
    * crawl curation actually wants. Output per node: both levels'
    * labels, the composed community size, and the exact Q·4m²
    * numerator of the COMPOSED labeling over the ORIGINAL graph —
    * directly comparable to g24's (the spec pins Q(L2) ≥ Q(L1)).
    *
    * Scale shape: level 1 is g24; the aggregation is two equality
    * joins + one (community, community) aggregate — the g23
    * condensation pattern on the community grain; level 2's rounds
    * run on the CONDENSED graph (≤ #communities nodes — vanishingly
    * small next to the node grain at 100 TB), so the second level
    * costs less than one level-1 round; the project-back is one
    * broadcast-sized join. Self-loops stay OUT of the condensed edge
    * set (their gain contribution is community-invariant) and live
    * only in the strengths — fewer rows, same argmax.
    */
  def g25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val e0 = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
    val und = e0.filter($"src" =!= $"dst")
      .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
      .distinct().cache()
    val m = und.count()
    val l1 = louvainStates(nodes, und, g24Rounds).last
    // AGGREGATION: label both endpoints, keep cross-community edges
    // as canonical weighted pairs (the g23 condensation join shape)
    val lc = und
      .join(l1.select($"id".as("a"), $"lbl".as("ca")), Seq("a"))
      .join(l1.select($"id".as("b"), $"lbl".as("cb")), Seq("b"))
      .select($"ca", $"cb").cache()
    val cund = lc.filter($"ca" =!= $"cb")
      .select(least($"ca", $"cb").as("ca"), greatest($"ca", $"cb").as("cb"))
      .groupBy($"ca", $"cb").agg(count(lit(1)).as("w"))
    val cedges = cund.select($"ca".as("src"), $"cb".as("dst"), $"w")
      .unionByName(cund.select($"cb".as("src"), $"ca".as("dst"), $"w"))
    // super-node strength = Σ member degrees (2·internal edges ride
    // along via the self-loop convention) — preserves Σk = 2m
    val edges1 = und.select($"a".as("src"), $"b".as("dst"))
      .unionAll(und.select($"b".as("src"), $"a".as("dst")))
    val deg1 = edges1.groupBy($"src".as("id")).agg(count(lit(1)).as("d"))
    val sdeg = l1
      .join(nodes.join(deg1, Seq("id"), "left_outer")
        .selectExpr("id", "coalesce(d, CAST(0 AS BIGINT)) AS d"), Seq("id"))
      .groupBy($"lbl".as("id")).agg(sum($"d").as("d"))
    val init2 = l1.select($"lbl".as("id")).distinct().withColumn("lbl", $"id")
    val l2 = louvainStatesW(init2, cedges, sdeg, m, g25Rounds,
      condensed = true).last
    val composed = l1.select($"id", $"lbl".as("c1"))
      .join(l2.select($"id".as("c1"), $"lbl".as("community")), Seq("c1"))
    // eager 1-row checkpoint, then drop the per-query caches — the
    // presentation frame below reads only checkpointed label frames
    val q = louvainQx4m2(und, composed.select($"id", $"community".as("lbl")))
      .localCheckpoint()
    nodes.unpersist(blocking = false)
    und.unpersist(blocking = false)
    lc.unpersist(blocking = false)
    composed
      .join(composed.groupBy($"community").agg(count(lit(1)).as("csize")),
        Seq("community"))
      .crossJoin(broadcast(q))
      .select($"id".as("c_custkey"), $"c1".as("l1_community"),
        $"community", $"csize", $"q_x4m2")
      .transform(Tables.ordered(_, $"c_custkey"))
  }

  /** One unrolled WEIGHTED level-2 round over the condensed graph —
    * [[louvainRoundSql]] with kin as Σw and strengths from `sdeg`. */
  private def louvainWRoundSql(i: Int): String =
    s"""wtot$i AS (SELECT l.lbl AS c, CAST(sum(sd.d) AS BIGINT) AS tot
       |      FROM wl${i - 1} l JOIN sdeg sd ON sd.id = l.id GROUP BY 1),
       |wkin$i AS (SELECT e.src AS id, l.lbl AS c, CAST(sum(e.w) AS BIGINT) AS kin
       |      FROM cedges e JOIN wl${i - 1} l ON l.id = e.dst GROUP BY 1, 2),
       |wcand$i AS (SELECT id, c, kin FROM wkin$i
       |      UNION ALL
       |      SELECT l.id, l.lbl, 0 FROM wl${i - 1} l
       |      WHERE NOT EXISTS (SELECT 1 FROM wkin$i k WHERE k.id = l.id AND k.c = l.lbl)),
       |wg$i AS (SELECT cd.id, cd.c,
       |        2 * (SELECT m FROM mm) * cd.kin
       |          - sd.d * (t.tot - CASE WHEN cd.c = l.lbl THEN sd.d ELSE 0 END) AS gain,
       |        CASE WHEN cd.c = l.lbl THEN 0 ELSE 1 END AS mv
       |      FROM wcand$i cd JOIN wl${i - 1} l ON l.id = cd.id
       |      JOIN sdeg sd ON sd.id = cd.id JOIN wtot$i t ON t.c = cd.c
       |      WHERE cd.c <= l.lbl),
       |ww$i AS (SELECT id, c AS wlbl FROM (
       |        SELECT id, c, row_number() OVER (PARTITION BY id
       |          ORDER BY gain DESC, mv, c) AS rn FROM wg$i) WHERE rn = 1),
       |wl$i AS MATERIALIZED (SELECT l.id, coalesce(w.wlbl, l.lbl) AS lbl
       |      FROM wl${i - 1} l LEFT JOIN ww$i w ON w.id = l.id)""".stripMargin

  /** g25 oracle: g24's level-1 chain verbatim, then the condensation
    * (canonical weighted cross-community edges + super-node
    * strengths), the weighted rounds unrolled, the project-back
    * through l[[g24Rounds]], and the composed labeling's sizes and
    * exact Q·4m² over the ORIGINAL graph. */
  val g25Sql: String =
    s"""WITH $louvainL1Ctes,
      |lc AS MATERIALIZED (SELECT la.lbl AS ca, lb.lbl AS cb
      |      FROM und u JOIN l$g24Rounds la ON la.id = u.a
      |      JOIN l$g24Rounds lb ON lb.id = u.b),
      |cund AS MATERIALIZED (SELECT least(ca, cb) AS ca, greatest(ca, cb) AS cb,
      |        CAST(count(*) AS BIGINT) AS w
      |      FROM lc WHERE ca <> cb GROUP BY 1, 2),
      |cedges AS MATERIALIZED (SELECT ca AS src, cb AS dst, w FROM cund
      |      UNION ALL SELECT cb, ca, w FROM cund),
      |sdeg AS MATERIALIZED (SELECT l.lbl AS id, CAST(sum(dg.d) AS BIGINT) AS d
      |      FROM l$g24Rounds l JOIN degall dg ON dg.id = l.id GROUP BY 1),
      |wl0 AS MATERIALIZED (SELECT DISTINCT lbl AS id, lbl FROM l$g24Rounds),
      |${(1 to g25Rounds).map(louvainWRoundSql).mkString(",\n")},
      |fin AS MATERIALIZED (SELECT l.id, l.lbl AS c1, w.lbl AS community
      |      FROM l$g24Rounds l JOIN wl$g25Rounds w ON w.id = l.lbl),
      |sz AS (SELECT community, CAST(count(*) AS BIGINT) AS csize
      |      FROM fin GROUP BY 1),
      |ein AS (SELECT fa.community AS c, CAST(count(*) AS BIGINT) AS e_in
      |      FROM und u JOIN fin fa ON fa.id = u.a JOIN fin fb ON fb.id = u.b
      |      WHERE fa.community = fb.community GROUP BY 1),
      |ctot AS (SELECT f.community AS c, CAST(sum(dg.d) AS BIGINT) AS tot
      |      FROM fin f JOIN degall dg ON dg.id = f.id GROUP BY 1),
      |q AS (SELECT CAST(sum(4 * (SELECT m FROM mm) * coalesce(e.e_in, 0)
      |          - t.tot * t.tot) AS BIGINT) AS q_x4m2
      |      FROM ctot t LEFT JOIN ein e ON e.c = t.c)
      |SELECT f.id AS c_custkey, f.c1 AS l1_community, f.community, sz.csize, q.q_x4m2
      |FROM fin f JOIN sz ON sz.community = f.community CROSS JOIN q
      |ORDER BY c_custkey""".stripMargin

  // ---------- g26: community PageRank (topic-cluster ranking) ----------

  /** g26: COMMUNITY PAGERANK — WEIGHTED PageRank over the condensed
    * community graph (g25's aggregation output), the ranking crawl
    * curation runs ON TOP of topic clustering: once Louvain has
    * collapsed pages into topic clusters, the sampling budget is
    * allocated by how central each CLUSTER is in the link economy —
    * rank flows along inter-community edge WEIGHTS (cross-edge
    * counts) with self-loops (internal cohesion) recycling a
    * cluster's own mass. g1's exact-integer discipline generalizes:
    * per round, each community's damped mass is first divided by
    * its total OUT-WEIGHT into a per-unit-weight quotient
    * (q = (r·85 div 100) div outw — the weighted generalization of
    * g1's div deg, deterministic truncation on both engines), then
    * each out-edge carries q·w; communities with no edges at all
    * keep the 15% base mass (g1's dangling convention). 10 rounds,
    * all positive BIGINTs — q ≤ r bounds every product at r·0.85,
    * no overflow at any corpus size.
    *
    * Scale shape: level 1 is g24; the condensation is g25's two
    * label joins + one community-pair aggregate; the PageRank then
    * iterates on the CONDENSED grain (≤ #communities rows per side
    * — broadcast-small at any corpus size), with the out-weight
    * folded into the cached edge table once, outside the loop.
    */
  def g26(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val e0 = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
    val und = e0.filter($"src" =!= $"dst")
      .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
      .distinct().cache()
    val l1 = louvainStates(nodes, und, g24Rounds).last
    val lc = und
      .join(l1.select($"id".as("a"), $"lbl".as("ca")), Seq("a"))
      .join(l1.select($"id".as("b"), $"lbl".as("cb")), Seq("b"))
      .select($"ca", $"cb").cache()
    val cund = lc.filter($"ca" =!= $"cb")
      .select(least($"ca", $"cb").as("ca"), greatest($"ca", $"cb").as("cb"))
      .groupBy($"ca", $"cb").agg(count(lit(1)).as("w"))
    val selfw = lc.filter($"ca" === $"cb")
      .groupBy($"ca".as("cid")).agg(count(lit(1)).as("w"))
    val edges = cund.select($"ca".as("src"), $"cb".as("dst"), $"w")
      .unionByName(cund.select($"cb".as("src"), $"ca".as("dst"), $"w"))
      .unionByName(selfw.select($"cid".as("src"), $"cid".as("dst"), $"w"))
    val comms = l1.select($"lbl".as("id")).distinct().cache()
    val nc = comms.count()
    val base = (massS * 15L / 100L) / nc
    // round-18 bounded-local fast path (guide §1.2, the dq11/e20
    // bounded-collect class): the rank loop runs at COMMUNITY grain
    // — when community and condensed-edge counts sit under the gate
    // (runtime probe; a corpus whose condensation stays large keeps
    // the distributed loop), iterate the identical integer power
    // method on the driver: same per-unit-weight quotient
    // q = ((r·85) div 100) div outw, same q·w shares, same
    // base + Σ fold — all positive Longs, `/` == SQL div.
    val rank = g26RankLoop(comms, edges, nc, base)
    // rank is checkpointed (or local) — drop the per-query caches
    // before the presentation frame returns (it reads only rank +
    // the checkpointed l1)
    comms.unpersist(blocking = false)
    lc.unpersist(blocking = false)
    und.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    val sz = l1.groupBy($"lbl".as("id")).agg(count(lit(1)).as("csize"))
    rank.join(sz, Seq("id"))
      .select($"id".as("community"), $"csize", $"r".as("rank_mass"))
      .transform(Tables.ordered(_, $"community"))
  }

  /** g26's gated integer power method over the condensed community
    * graph — factored so the spec can drive both paths (localMax < 0
    * forces the distributed loop) on one input. Same per-unit-weight
    * quotient q = ((r·85) div 100) div outw, same q·w shares, same
    * base + Σ fold on either path — all positive Longs, Scala `/`
    * == SQL div. The local iteration is O(rounds · edges) long
    * arithmetic (~1.3 M ops at [[Bounded.largeBudget]]); `nc` is
    * already known from the base computation, so only the condensed
    * edges are probed. */
  private[graft] def g26RankLoop(comms: DataFrame, edges: DataFrame,
      nc: Long, base: Long,
      localMax: Long = Bounded.largeBudget): DataFrame = {
    val spark = comms.sparkSession
    import spark.implicits._
    val local = if (nc > localMax) None
      else Bounded.collect(
        edges.select($"src", $"dst", $"w").as[(Long, Long, Long)], localMax)
    if (local.isDefined) {
      val eL = local.get
      val outw = eL.groupBy(_._1).map { case (s, xs) =>
        s -> xs.iterator.map(_._3).sum
      }
      val commsL = comms.as[Long].collect().toSeq
      var r = commsL.map(id => id -> massS / nc).toMap
      (1 to g1Rounds).foreach { _ =>
        val contrib = eL.iterator
          .filter(e => r.contains(e._1))
          .map { case (s, t, w) => t -> (((r(s) * 85L) / 100L) / outw(s)) * w }
          .toSeq.groupBy(_._1).map { case (t, xs) =>
            t -> xs.iterator.map(_._2).sum
          }
        r = commsL.map(id => id -> (base + contrib.getOrElse(id, 0L))).toMap
      }
      r.toSeq.toDF("id", "r")
    } else {
      // out-weight is loop-invariant — fold it into the cached
      // edge table ONCE (g1's discipline)
      val linked = edges.join(
        edges.groupBy($"src").agg(sum($"w").as("outw")), Seq("src")).cache()
      var rk = comms.withColumn("r", lit(massS / nc)).localCheckpoint()
      (1 to g1Rounds).foreach { _ =>
        val contrib = linked
          .join(rk.withColumnRenamed("id", "src"), Seq("src"))
          .selectExpr("dst", "(((r * 85) div 100) div outw) * w AS share")
          .groupBy($"dst").agg(sum($"share").as("m"))
        val next = comms
          .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left_outer")
          .selectExpr("id",
            s"CAST($base AS BIGINT) + coalesce(m, CAST(0 AS BIGINT)) AS r")
          .localCheckpoint()
        graft.functions.Lineage.freeCheckpoint(rk)
        rk = next
      }
      linked.unpersist(blocking = false)
      rk
    }
  }

  /** g26 oracle: the level-1 chain + g25's condensation CTEs + the
    * weighted rounds unrolled with the identical per-unit-weight
    * quotient integerization. */
  val g26Sql: String = {
    def round(i: Int): String =
      s"""pq$i AS (SELECT l.id, ((l.r * 85) // 100) // ow.w AS q
         |      FROM pr${i - 1} l JOIN outw ow ON ow.id = l.id),
         |pc$i AS (SELECT e.dst, CAST(sum(q.q * e.w) AS BIGINT) AS m
         |      FROM cedgesall e JOIN pq$i q ON q.id = e.src GROUP BY 1),
         |pr$i AS MATERIALIZED (SELECT c.cid AS id,
         |        (SELECT b FROM pbase) + coalesce(pc.m, CAST(0 AS BIGINT)) AS r
         |      FROM comm c LEFT JOIN pc$i pc ON pc.dst = c.cid)""".stripMargin
    s"""WITH $louvainL1Ctes,
      |lc AS MATERIALIZED (SELECT la.lbl AS ca, lb.lbl AS cb
      |      FROM und u JOIN l$g24Rounds la ON la.id = u.a
      |      JOIN l$g24Rounds lb ON lb.id = u.b),
      |cund AS MATERIALIZED (SELECT least(ca, cb) AS ca, greatest(ca, cb) AS cb,
      |        CAST(count(*) AS BIGINT) AS w
      |      FROM lc WHERE ca <> cb GROUP BY 1, 2),
      |selfw AS (SELECT ca AS cid, CAST(count(*) AS BIGINT) AS w
      |      FROM lc WHERE ca = cb GROUP BY 1),
      |cedgesall AS MATERIALIZED (SELECT ca AS src, cb AS dst, w FROM cund
      |      UNION ALL SELECT cb, ca, w FROM cund
      |      UNION ALL SELECT cid, cid, w FROM selfw),
      |outw AS MATERIALIZED (SELECT src AS id, CAST(sum(w) AS BIGINT) AS w
      |      FROM cedgesall GROUP BY 1),
      |comm AS MATERIALIZED (SELECT DISTINCT lbl AS cid FROM l$g24Rounds),
      |ncomm AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM comm),
      |pbase AS (SELECT CAST(($massS * 15 // 100) // nc AS BIGINT) AS b FROM ncomm),
      |pr0 AS MATERIALIZED (SELECT cid AS id,
      |      CAST($massS // (SELECT nc FROM ncomm) AS BIGINT) AS r FROM comm),
      |${(1 to g1Rounds).map(round).mkString(",\n")},
      |sz AS (SELECT lbl AS cid, CAST(count(*) AS BIGINT) AS csize
      |      FROM l$g24Rounds GROUP BY 1)
      |SELECT p.id AS community, sz.csize, p.r AS rank_mass
      |FROM pr$g1Rounds p JOIN sz ON sz.cid = p.id
      |ORDER BY community""".stripMargin
  }

  // ---------- g27: multi-level Louvain (recurse while moves remain) ----------

  /** Hard level cap for g27 — the snapshot grain for LEVELS, chosen
    * past the fixture's measured self-termination at every tested
    * scale (the same discipline as [[g24Rounds]]/[[g25Rounds]] for
    * rounds): the level loop stops ON ITS OWN at the first zero-move
    * level, and a zero-move level is a fixed point of
    * condense-and-move (its condensed graph re-derives identically
    * and moves zero again), so the oracle's FIXED unroll to this cap
    * reproduces the early-stopped run verbatim — extra unrolled
    * levels are provable no-ops, exactly the argument that lets the
    * fixed-round unroll match the converged round loop. */
  private[graft] val g27MaxLevels = 4

  /** The level loop over the existing kernels: level 1 is
    * [[louvainStates]] (unweighted, [[g24Rounds]] rounds — the
    * oracle-pinned grain), every later level CONDENSES by the
    * COMPOSED labeling and runs [[louvainStatesW]] ([[g25Rounds]]
    * rounds) on the condensed weighted graph, until a level moves
    * nothing or `maxLevels` is reached. Returns one (composed
    * labels, moved) pair per executed level; composed labels live on
    * the ORIGINAL nodes, so Blondel's invariance (condensed-graph
    * modularity == composed-labeling modularity over the original
    * graph) lets every level's Q be audited on the original graph.
    *
    * Condensation here re-labels the ORIGINAL edge set each level —
    * the oracle's twin shape, and two equality joins + one pair
    * aggregate per level; a production run at 100 TB would condense
    * the PREVIOUS condensed graph instead (strictly smaller input,
    * same result by label-composition associativity) — the fixture
    * keeps the oracle-twin form since levels are few and the
    * label-join is the same cost class either way. */
  private[graft] def louvainLevels(nodes: DataFrame, und: DataFrame,
      maxLevels: Int): Seq[(DataFrame, Boolean)] = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val edges1 = und.select($"a".as("src"), $"b".as("dst"))
      .unionAll(und.select($"b".as("src"), $"a".as("dst")))
    val deg1 = edges1.groupBy($"src".as("id")).agg(count(lit(1)).as("d"))
    // round-18: id-partitioned for the core's co-partitioned rounds
    val degAll = nodes.join(deg1, Seq("id"), "left_outer")
      .selectExpr("id", "coalesce(d, CAST(0 AS BIGINT)) AS d")
      .repartition($"id").cache()
    val m = und.count()
    // level 1 drives the SHARED weighted core directly on the
    // strengths already derived above (w = 1 degenerates to g24's
    // unweighted rounds): going through louvainStates would
    // re-aggregate the same degree table and re-count m. The loop
    // owns degAll's cache across all levels, so the core is told
    // not to add its own entry (callerCached — no double-cache).
    // the moved flag comes back from the round loop itself (round
    // 19): the former `lbl =!= id` emptiness probe per level paid an
    // extra scan job for a fact the rounds already knew (downward-
    // only moves make "any round moved" ⟺ "final ≠ init", and level
    // inits are always lbl = id)
    val (l1s, l1Moved) = louvainStatesWM(nodes.withColumn("lbl", $"id"),
      edges1.withColumn("w", lit(1L)), degAll,
      m, g24Rounds, callerCached = true)
    val l1 = l1s.last
    var comp = l1
    val out = scala.collection.mutable.ArrayBuffer(
      (comp, l1Moved))
    var lvl = 2
    // levels ≥ 3 CONDENSE THE PREVIOUS CONDENSED GRAPH (round 19,
    // guide §2.4 — don't re-derive from the corpus what a strictly
    // smaller input determines): relabeling level L−1's community
    // pair table by level L's moves and SUMMING w is identical to
    // re-condensing the original edge set by the composed labeling
    // (label-composition associativity — each cund w is the count
    // of original edges between its community pair, and edges that
    // went intra at L−1 can never be inter again, moves only merge).
    // Same for strengths (sums compose) and the init id set (the
    // range of lN over its domain is exactly the composed labeling's
    // label set). Only the per-level COMPOSITION join still touches
    // original-node grain — it is the output contract. Saves three
    // corpus-grain joins + two corpus aggs per level past 2.
    var cundPrev: DataFrame = null
    var sdegPrev: DataFrame = null
    var lNPrev: DataFrame = null
    while (out.last._2 && lvl <= maxLevels) {
      // condense by the composed labeling (g25's aggregation shape)
      val cund = (if (cundPrev == null)
          und
            .join(comp.select($"id".as("a"), $"lbl".as("ca")), Seq("a"))
            .join(comp.select($"id".as("b"), $"lbl".as("cb")), Seq("b"))
            .filter($"ca" =!= $"cb")
            .select(least($"ca", $"cb").as("ca"), greatest($"ca", $"cb").as("cb"))
            .groupBy($"ca", $"cb").agg(count(lit(1)).as("w"))
        else
          cundPrev
            .join(lNPrev.select($"id".as("ca"), $"lbl".as("la")), Seq("ca"))
            .join(lNPrev.select($"id".as("cb"), $"lbl".as("lb")), Seq("cb"))
            .filter($"la" =!= $"lb")
            .select(least($"la", $"lb").as("ca"),
              greatest($"la", $"lb").as("cb"), $"w")
            .groupBy($"ca", $"cb").agg(sum($"w").as("w"))
        ).localCheckpoint()
      val cedges = cund.select($"ca".as("src"), $"cb".as("dst"), $"w")
        .unionByName(cund.select($"cb".as("src"), $"ca".as("dst"), $"w"))
      val sdeg = (if (sdegPrev == null)
          comp.join(degAll, Seq("id"))
            .groupBy($"lbl".as("id")).agg(sum($"d").as("d"))
        else
          sdegPrev.join(lNPrev, Seq("id"))
            .groupBy($"lbl".as("id")).agg(sum($"d").as("d"))
        ).localCheckpoint()
      val init = (if (lNPrev == null) comp.select($"lbl".as("id"))
        else lNPrev.select($"lbl".as("id")))
        .distinct().withColumn("lbl", $"id")
      val (lNs, moved) = louvainStatesWM(init, cedges, sdeg, m, g25Rounds,
        condensed = true)
      val lN = lNs.last
      // compose back to original nodes; checkpoint cuts the
      // per-level lineage (the round loop's discipline, one level up)
      val next = comp.select($"id", $"lbl".as("c0"))
        .join(lN.select($"id".as("c0"), $"lbl"), Seq("c0"))
        .select($"id", $"lbl").localCheckpoint()
      // the new cund/sdeg are checkpointed — the previous level's
      // can be freed now that nothing references their lineage
      if (cundPrev != null) graft.functions.Lineage.freeCheckpoint(cundPrev)
      if (sdegPrev != null) graft.functions.Lineage.freeCheckpoint(sdegPrev)
      cundPrev = cund
      sdegPrev = sdeg
      lNPrev = lN
      out += ((next, moved))
      comp = next
      lvl += 1
    }
    if (cundPrev != null) graft.functions.Lineage.freeCheckpoint(cundPrev)
    if (sdegPrev != null) graft.functions.Lineage.freeCheckpoint(sdegPrev)
    degAll.unpersist(blocking = false)
    out.toSeq
  }

  /** g27: MULTI-LEVEL LOUVAIN — the full algorithm (Blondel et al.
    * 2008 §2): REPEAT condense-and-move until a level improves
    * nothing, rather than stopping at level 2 by construction
    * (g25). Each level collapses the current composed communities
    * into super-nodes of a condensed weighted graph and reruns the
    * same move rounds; the loop self-terminates at the first
    * zero-move level — the fixed point where no vertex anywhere
    * wants to switch, which is the algorithm's own stopping rule —
    * capped at [[g27MaxLevels]] (the level-grain snapshot cap,
    * measured past the fixture's self-termination at every tested
    * scale). Output per node: the final composed community, its
    * size, the exact Q·4m² numerator of the composed labeling over
    * the ORIGINAL graph (comparable to g24/g25's — the spec pins
    * the non-decreasing ladder), and `levels_used` — how many
    * levels actually moved labels.
    *
    * Scale shape: level 1 is g24 (the node-grain cost); each later
    * level runs on a condensed graph no larger than the community
    * count — vanishingly small at 100 TB — so the whole multi-level
    * tail costs less than one level-1 round; the level loop adds
    * one cache-scan emptiness probe per level (the round loop's
    * moved-flag discipline, one grain up).
    */
  def g27(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.customer(spark, dir).select($"c_custkey".as("id")).cache()
    val n = nodes.count()
    val e0 = nodes.selectExpr("id AS src", s"(id * 31 + 7) % $n AS dst")
      .unionAll(nodes.selectExpr("id AS src", s"(id * 17 + 3) % $n AS dst"))
      .unionAll(nodes.filter($"id" >= 2).selectExpr("id AS src", "id div 2 AS dst"))
    val und = e0.filter($"src" =!= $"dst")
      .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
      .distinct().cache()
    val levels = louvainLevels(nodes, und, g27MaxLevels)
    val comp = levels.last._1
    val levelsUsed = levels.count(_._2).toLong
    val q = louvainQx4m2(und, comp).localCheckpoint()
    nodes.unpersist(blocking = false)
    und.unpersist(blocking = false)
    comp
      .join(comp.groupBy($"lbl").agg(count(lit(1)).as("csize")), Seq("lbl"))
      .crossJoin(broadcast(q))
      .select($"id".as("c_custkey"), $"lbl".as("community"), $"csize",
        $"q_x4m2", lit(levelsUsed).as("levels_used"))
      .transform(Tables.ordered(_, $"c_custkey"))
  }

  /** One unrolled weighted round of level `v` — [[louvainWRoundSql]]
    * with every CTE name carrying the level prefix, reading level
    * `v`'s condensed edges/strengths. */
  private def louvainWRoundSqlAt(v: Int, i: Int): String =
    s"""wtotL${v}_$i AS (SELECT l.lbl AS c, CAST(sum(sd.d) AS BIGINT) AS tot
       |      FROM wlv${v}_${i - 1} l JOIN sdegL$v sd ON sd.id = l.id GROUP BY 1),
       |wkinL${v}_$i AS (SELECT e.src AS id, l.lbl AS c, CAST(sum(e.w) AS BIGINT) AS kin
       |      FROM cedgesL$v e JOIN wlv${v}_${i - 1} l ON l.id = e.dst GROUP BY 1, 2),
       |wcandL${v}_$i AS (SELECT id, c, kin FROM wkinL${v}_$i
       |      UNION ALL
       |      SELECT l.id, l.lbl, 0 FROM wlv${v}_${i - 1} l
       |      WHERE NOT EXISTS (SELECT 1 FROM wkinL${v}_$i k WHERE k.id = l.id AND k.c = l.lbl)),
       |wgL${v}_$i AS (SELECT cd.id, cd.c,
       |        2 * (SELECT m FROM mm) * cd.kin
       |          - sd.d * (t.tot - CASE WHEN cd.c = l.lbl THEN sd.d ELSE 0 END) AS gain,
       |        CASE WHEN cd.c = l.lbl THEN 0 ELSE 1 END AS mv
       |      FROM wcandL${v}_$i cd JOIN wlv${v}_${i - 1} l ON l.id = cd.id
       |      JOIN sdegL$v sd ON sd.id = cd.id JOIN wtotL${v}_$i t ON t.c = cd.c
       |      WHERE cd.c <= l.lbl),
       |wwL${v}_$i AS (SELECT id, c AS wlbl FROM (
       |        SELECT id, c, row_number() OVER (PARTITION BY id
       |          ORDER BY gain DESC, mv, c) AS rn FROM wgL${v}_$i) WHERE rn = 1),
       |wlv${v}_$i AS MATERIALIZED (SELECT l.id, coalesce(w.wlbl, l.lbl) AS lbl
       |      FROM wlv${v}_${i - 1} l LEFT JOIN wwL${v}_$i w ON w.id = l.id)""".stripMargin

  /** The condensation + weighted rounds + composition CTEs for level
    * `v` (v >= 2), reading the composed labels `comp{v-1}`. */
  private def louvainLevelCtes(v: Int): String =
    s"""cundL$v AS MATERIALIZED (SELECT least(la.lbl, lb.lbl) AS ca,
       |        greatest(la.lbl, lb.lbl) AS cb, CAST(count(*) AS BIGINT) AS w
       |      FROM und u JOIN comp${v - 1} la ON la.id = u.a
       |      JOIN comp${v - 1} lb ON lb.id = u.b
       |      WHERE la.lbl <> lb.lbl GROUP BY 1, 2),
       |cedgesL$v AS MATERIALIZED (SELECT ca AS src, cb AS dst, w FROM cundL$v
       |      UNION ALL SELECT cb, ca, w FROM cundL$v),
       |sdegL$v AS MATERIALIZED (SELECT c.lbl AS id, CAST(sum(dg.d) AS BIGINT) AS d
       |      FROM comp${v - 1} c JOIN degall dg ON dg.id = c.id GROUP BY 1),
       |wlv${v}_0 AS MATERIALIZED (SELECT DISTINCT lbl AS id, lbl FROM comp${v - 1}),
       |${(1 to g25Rounds).map(louvainWRoundSqlAt(v, _)).mkString(",\n")},
       |comp$v AS MATERIALIZED (SELECT c.id, w.lbl FROM comp${v - 1} c
       |      JOIN wlv${v}_$g25Rounds w ON w.id = c.lbl),
       |mvL$v AS (SELECT CAST(CASE WHEN EXISTS (
       |        SELECT 1 FROM wlv${v}_$g25Rounds WHERE lbl <> id)
       |      THEN 1 ELSE 0 END AS BIGINT) AS mv)""".stripMargin

  /** g27 oracle: g24's level-1 chain verbatim, then every level up
    * to [[g27MaxLevels]] unrolled — condensation by the composed
    * labels, the weighted rounds, the composition, and a per-level
    * moved flag; levels past the fixture's self-termination are
    * provable no-ops (a zero-move level re-derives its own
    * condensed graph), so the fixed unroll equals the early-stopped
    * run. Tail: sizes + exact Q·4m² of the final composed labeling
    * + the moved-level count. */
  val g27Sql: String = {
    val L = g27MaxLevels
    s"""WITH $louvainL1Ctes,
      |comp1 AS MATERIALIZED (SELECT id, lbl FROM l$g24Rounds),
      |mvL1 AS (SELECT CAST(CASE WHEN EXISTS (
      |        SELECT 1 FROM l$g24Rounds WHERE lbl <> id)
      |      THEN 1 ELSE 0 END AS BIGINT) AS mv),
      |${(2 to L).map(louvainLevelCtes).mkString(",\n")},
      |lu AS (SELECT ${(1 to L).map(v => s"(SELECT mv FROM mvL$v)")
        .mkString(" + ")} AS levels_used),
      |sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS csize
      |      FROM comp$L GROUP BY 1),
      |ein AS (SELECT fa.lbl AS c, CAST(count(*) AS BIGINT) AS e_in
      |      FROM und u JOIN comp$L fa ON fa.id = u.a
      |      JOIN comp$L fb ON fb.id = u.b
      |      WHERE fa.lbl = fb.lbl GROUP BY 1),
      |ctot AS (SELECT f.lbl AS c, CAST(sum(dg.d) AS BIGINT) AS tot
      |      FROM comp$L f JOIN degall dg ON dg.id = f.id GROUP BY 1),
      |q AS (SELECT CAST(sum(4 * (SELECT m FROM mm) * coalesce(e.e_in, 0)
      |          - t.tot * t.tot) AS BIGINT) AS q_x4m2
      |      FROM ctot t LEFT JOIN ein e ON e.c = t.c)
      |SELECT f.id AS c_custkey, f.lbl AS community, sz.csize, q.q_x4m2,
      |  lu.levels_used
      |FROM comp$L f JOIN sz ON sz.lbl = f.lbl CROSS JOIN q CROSS JOIN lu
      |ORDER BY c_custkey""".stripMargin
  }
}
