package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Bounded

/** Similarity search over the `embeddings` table (SURVEY.md §2 v1-v3):
  * brute-force cosine top-k as the exact baseline, plus the two
  * standard scale paths — random-hyperplane LSH (multi-table) and an
  * IVF-style coarse quantizer with nprobe.
  *
  * Scale design: pair generation is always an equality join (blocked
  * replication for all-pairs, bucket/cluster keys for LSH/IVF) — never
  * a BroadcastNestedLoopJoin. Scoring runs as a typed mapPartitions
  * dot-product loop: a 64-term array expression gets cloned into join
  * conditions by predicate pushdown and then evaluated without
  * codegen (~100x slower, measured), while the JIT-compiled loop
  * scores ~10M pairs/s/core and keeps the exact left-to-right IEEE
  * accumulation order of the oracle's list_inner_product.
  */
object Knn {

  /** L2-normalize once (tiny table, cached). */
  /** The v-family normalization over any (vec_id, embedding) frame
    * (batch or stream) — the one spelling every operator and the
    * s34 door share.
    */
  private[graft] def normalized(df: DataFrame): DataFrame =
    df.selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("vec_id", "v",
        "sqrt(aggregate(zip_with(v, v, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)) AS nrm")
      .selectExpr("vec_id", "nrm", "transform(v, x -> x / nrm) AS nv")

  private[graft] def vectors(spark: SparkSession, dir: String): DataFrame =
    normalized(Tables.embeddings(spark, dir)).cache()

  /** Score (id_a, id_b, nv_a, nv_b) pairs: sequential dot product of
    * the normalized vectors, quantized at 1e-6 with round-half-away
    * (matching SQL round semantics).
    */
  private[operators] def cosineOf(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    pairs.select("id_a", "id_b", "nv_a", "nv_b")
      .as[(Long, Long, Array[Double], Array[Double])]
      .mapPartitions(_.map { case (a, b, va, vb) =>
        var i = 0
        var dot = 0.0
        while (i < va.length) { dot += va(i) * vb(i); i += 1 }
        val q = dot * 1e6
        val r = if (q >= 0) math.floor(q + 0.5) else math.ceil(q - 0.5)
        (a, b, r / 1e6)
      }).toDF("id_a", "id_b", "cos_sim")
  }

  /** Sequential dot + 1e-6 quantization (round-half-away, matching
    * SQL round); the single scoring kernel all paths share.
    */
  @inline private[operators] def cosQ(va: Array[Double], vb: Array[Double]): Double = {
    var i = 0
    var dot = 0.0
    while (i < va.length) { dot += va(i) * vb(i); i += 1 }
    val q = dot * 1e6
    (if (q >= 0) math.floor(q + 0.5) else math.ceil(q - 0.5)) / 1e6
  }

  /** Broadcast a small vector set as a scoring codebook — the
    * distributed brute-force shape: the corpus streams through
    * partitions, the small side rides along broadcast. (Joining the
    * arrays instead deserializes 64 doubles per pair — measured ~10x.)
    */
  private[graft] def codebook(e: DataFrame, pred: String): Array[(Long, Array[Double])] = {
    import e.sparkSession.implicits._
    e.filter(pred).select(col("vec_id"), col("nv"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
  }

  /** Per-query top-k over a (qid, vec_id, <score>) table — queries
    * are FEW, so a single per-qid window would rank a query's every
    * candidate in one task (at v1's brute-force scale, the whole
    * corpus). Delegates to [[graft.functions.TwoLevel.topK]].
    */
  private def topK(scored: DataFrame, score: String, k: Int): DataFrame = {
    val sess = scored.sparkSession
    import sess.implicits._
    graft.functions.TwoLevel.topK(scored, Seq($"qid"),
        Seq(col(score).desc, $"vec_id"), $"vec_id", k)
      .select($"qid", $"rnk", $"vec_id", col(score))
      .orderBy($"qid", $"rnk")
  }

  // ---------- v1: brute-force cosine top-k (exact baseline) ----------

  /** The top-k every ranked KNN query emits — shared by v1/v2 and by
    * v11's recall denominator, so a future k change cannot silently
    * rescale the recall@k metric while both engines stay consistent.
    */
  private[operators] val knnK = 5

  /** Broadcast-codebook exact cosine scoring: queries from
    * `queryPred`, corpus from `corpusPred`, one (qid, vec_id,
    * cos_sim) row per pair — the scoring arm v1 ranks and v10's
    * dense arm reuses (ONE copy of the JIT dot loop).
    */
  private[operators] def denseScored(spark: SparkSession, dir: String,
      queryPred: String, corpusPred: String): DataFrame = {
    val e = vectors(spark, dir)
    denseScoredFor(e, codebook(e, queryPred), corpusPred)
  }

  /** [[denseScored]] for an ARBITRARY query array (the serving door's
    * per-micro-batch ground-truth arm): queries broadcast, corpus
    * streams — the corpus never leaves its partitions.
    */
  private[operators] def denseScoredFor(e: DataFrame,
      qs: Array[(Long, Array[Double])], corpusPred: String): DataFrame = {
    import e.sparkSession.implicits._
    val bc = e.sparkSession.sparkContext.broadcast(qs)
    e.filter(corpusPred).select($"vec_id", $"nv")
      .as[(Long, Array[Double])]
      .mapPartitions(_.flatMap { case (cid, cv) =>
        bc.value.iterator.map { case (qid, qv) => (qid, cid, cosQ(qv, cv)) }
      }).toDF("qid", "vec_id", "cos_sim")
  }

  def v1(spark: SparkSession, dir: String): DataFrame =
    topK(denseScored(spark, dir, "vec_id < 10", "vec_id >= 10"), "cos_sim", knnK)

  val v1Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |s AS (SELECT q.vec_id AS qid, c.vec_id AS vec_id,
      |        round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 AS cos_sim
      |      FROM m q JOIN m c ON q.vec_id < 10 AND c.vec_id >= 10),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk FROM s)
      |SELECT qid, rnk, vec_id, cos_sim FROM r WHERE rnk <= $knnK
      |ORDER BY qid, rnk""".stripMargin

  // ---------- v2: random-hyperplane LSH, multi-table (rows-only) ----------

  private val nTables = 8
  private val bitsPerTable = 6
  private[operators] val dim = 64

  /** Deterministic pseudo-random hyperplane row j (no RNG: fixed sine
    * mix) — shared with Dedup.d8, which draws from a disjoint j range.
    */
  private[operators] def planeRow(j: Int): Seq[Double] =
    (0 until dim).map { i =>
      val x = math.sin(j * 131.7 + i * 17.3) * 43758.5453
      x - math.floor(x) - 0.5
    }

  private def planes: Seq[Seq[Double]] =
    (0 until nTables * bitsPerTable).map(planeRow)

  def v2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    // bucket bits via a broadcast-planes JIT loop: the selectExpr
    // formulation (48 aggregate(zip_with(..)) lambdas over 64-literal
    // arrays) builds a 3000-node expression tree whose higher-order
    // functions evaluate INTERPRETED — measured ~1.5s of pure
    // expression overhead on 500 vectors. The typed loop is the same
    // sequential left-to-right dot (oracle parity) at JIT speed.
    // The dot is quantized before the sign test (same discipline as
    // every other cross-engine float path): without it the bit relies
    // on DuckDB accumulating strictly left-to-right, and a
    // vectorization change there could flip bits near zero.
    val bcPlanes = spark.sparkContext.broadcast(planes.map(_.toArray).toArray)
    val buckets = e.select($"vec_id", $"nv").as[(Long, Array[Double])]
      .mapPartitions { it =>
        val ps = bcPlanes.value
        it.flatMap { case (id, nv) =>
          (0 until nTables).iterator.map { t =>
            var b = 0
            var bit = 0
            while (bit < bitsPerTable) {
              val p = ps(t * bitsPerTable + bit)
              var dot = 0.0
              var i = 0
              while (i < dim) { dot += nv(i) * p(i); i += 1 }
              if (math.floor(dot * 1e6 + 0.5) >= 0) b |= (1 << bit)
              bit += 1
            }
            (id, nv, t, b)
          }
        }
      }.toDF("vec_id", "nv", "t", "b")
    val q = buckets.filter($"vec_id" < 10)
      .select($"vec_id".as("id_a"), $"nv".as("nv_a"), $"t", $"b")
    val c = buckets.filter($"vec_id" >= 10)
      .select($"vec_id".as("id_b"), $"nv".as("nv_b"), $"t", $"b")
    val cand = c.join(q, Seq("t", "b"))
      .select($"id_a", $"id_b", $"nv_a", $"nv_b").distinct()
    topK(cosineOf(cand)
      .select($"id_a".as("qid"), $"id_b".as("vec_id"), $"cos_sim"),
      "cos_sim", knnK)
  }

  /** Full oracle for v2: the hyperplanes are shared literal arrays
    * (shortest-repr doubles round-trip identically in both parsers),
    * and every dot product is sequential in both engines, so even the
    * bucket-bit decisions match bitwise.
    */
  val v2Sql: String = {
    def planeList(p: Seq[Double]) =
      p.map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")
    val bucketExprs = (0 until nTables).map { t =>
      val bits = (0 until bitsPerTable).map { b =>
        s"(CASE WHEN floor(list_inner_product(nv, ${planeList(planes(t * bitsPerTable + b))}) * 1e6 + 0.5) >= 0 THEN ${1 << b} ELSE 0 END)"
      }.mkString(" + ")
      s"($bits) AS b$t"
    }
    val bucketUnion = (0 until nTables)
      .map(t => s"SELECT vec_id, $t AS t, b$t AS b FROM eb")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |eb AS (SELECT vec_id, nv, ${bucketExprs.mkString(", ")} FROM m),
      |buckets AS ($bucketUnion),
      |qs AS (SELECT vec_id AS id_a, t, b FROM buckets WHERE vec_id < 10),
      |cs AS (SELECT vec_id AS id_b, t, b FROM buckets WHERE vec_id >= 10),
      |cand AS (SELECT DISTINCT id_a, id_b FROM cs JOIN qs USING (t, b)),
      |scored AS (SELECT c.id_a AS qid, c.id_b AS vec_id,
      |             round(list_inner_product(a.nv, b.nv) * 1e6) / 1e6 AS cos_sim
      |           FROM cand c JOIN m a ON a.vec_id = c.id_a JOIN m b ON b.vec_id = c.id_b),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk FROM scored)
      |SELECT qid, rnk, vec_id, cos_sim FROM r WHERE rnk <= $knnK
      |ORDER BY qid, rnk""".stripMargin
  }

  /** Full oracle for v3: centroid assignment, nprobe selection and
    * cluster-local scoring mirrored with the same tie-breaks.
    */
  val v3Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |cents AS (SELECT vec_id AS cid, nv AS cnv FROM m WHERE vec_id >= 10 AND vec_id < 18),
      |corpus AS (SELECT vec_id, nv FROM m WHERE vec_id >= 18),
      |asg AS (SELECT c.vec_id, ct.cid,
      |          round(list_inner_product(ct.cnv, c.nv) * 1e6) / 1e6 AS cs
      |        FROM corpus c CROSS JOIN cents ct),
      |assigned AS (SELECT vec_id, cid FROM
      |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn FROM asg)
      |  WHERE rn = 1),
      |qs AS (SELECT vec_id AS qid, nv AS qnv FROM m WHERE vec_id < 10),
      |ps AS (SELECT q.qid, ct.cid,
      |         round(list_inner_product(ct.cnv, q.qnv) * 1e6) / 1e6 AS cs
      |       FROM qs q CROSS JOIN cents ct),
      |probes AS (SELECT qid, cid FROM
      |  (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS rn FROM ps)
      |  WHERE rn <= 2),
      |cand AS (SELECT p.qid, a.vec_id FROM probes p JOIN assigned a USING (cid)),
      |scored AS (SELECT c.qid, c.vec_id,
      |             round(list_inner_product(q.nv, v.nv) * 1e6) / 1e6 AS cos_sim
      |           FROM cand c JOIN m q ON q.vec_id = c.qid JOIN m v ON v.vec_id = c.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk FROM scored)
      |SELECT qid, rnk, vec_id, cos_sim FROM r WHERE rnk <= 3
      |ORDER BY qid, rnk""".stripMargin

  // ---------- v4: k-means refinement (2 Lloyd iterations, rows-only) ----------
  // Iterative centroid refinement over the corpus: deterministic
  // seeds (first 8 corpus vectors), assign -> mean -> re-assign.
  // The per-iteration shape is the 100 TB shape: corpus streams once
  // against a broadcast codebook; centroid update is one groupBy.

  def v4(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir).select($"vec_id", $"nv").cache()
    val corpus = e.filter($"vec_id" >= 10)
    var cents: Array[(Long, Array[Double])] = codebook(e, "vec_id >= 10 AND vec_id < 18")
    var assigned: DataFrame = null
    for (_ <- 1 to 2) {
      val bc = spark.sparkContext.broadcast(cents)
      assigned = corpus.as[(Long, Array[Double])]
        .mapPartitions(_.map { case (id, v) =>
          var best = 0L
          var bestCos = -2.0
          bc.value.foreach { case (cid, cv) =>
            val c = cosQ(cv, v)
            if (c > bestCos || (c == bestCos && cid < best)) { best = cid; bestCos = c }
          }
          (id, best)
        }).toDF("vec_id", "cid")
      // centroid update: element-wise mean of members (then renormalize)
      val members = assigned.join(e, Seq("vec_id"))
        .selectExpr("cid", "posexplode(nv) AS (pos, x)")
        .groupBy($"cid", $"pos")
        // quantized order-free mean (bitwise deterministic)
        .agg((sum(floor($"x" * 1e12 + lit(0.5)).cast("long")) / 1e12).as("sx"),
          count(lit(1)).as("n"))
        .selectExpr("cid", "pos", "sx / CAST(n AS DOUBLE) AS m")
      cents = members.groupBy($"cid")
        .agg(expr("transform(array_sort(collect_list(named_struct('pos', pos, 'm', m))), s -> s.m) AS c"))
        .as[(Long, Array[Double])].collect()
        .map { case (cid, c) =>
          val nrm = math.sqrt(c.map(x => x * x).sum)
          (cid, c.map(_ / nrm))
        }.sortBy(_._1)
    }
    assigned.groupBy($"cid")
      .agg(count(lit(1)).as("cluster_size"))
      .transform(graft.Tables.ordered(_, $"cid"))
  }

  /** Full v4 oracle: both Lloyd iterations unrolled as CTEs — the
    * same deterministic seeds (corpus ids 10-17), round-quantized
    * cosine assignment with (cos DESC, cid) tie-break, integerized
    * order-free element means, and a renormalize whose norm
    * accumulates in array order exactly like the Scala fold.
    */
  val v4Sql: String = {
    def assign(centTab: String, out: String) =
      s"""s_$out AS (SELECT corpus.vec_id, $centTab.cid,
        |         round(list_inner_product($centTab.cv, corpus.nv) * 1e6) / 1e6 AS cos_sim
        |       FROM corpus CROSS JOIN $centTab),
        |$out AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, cid) AS rnk
        |         FROM s_$out) WHERE rnk = 1)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |corpus AS (SELECT vec_id, nv FROM m WHERE vec_id >= 10),
      |c0 AS (SELECT vec_id AS cid, nv AS cv FROM m WHERE vec_id >= 10 AND vec_id < 18),
      |${assign("c0", "a1")},
      |mem1 AS (SELECT a1.cid, p.pos, corpus.nv[p.pos + 1] AS x
      |         FROM a1 JOIN corpus USING (vec_id)
      |         CROSS JOIN (SELECT unnest(range(0, $dim)) AS pos) p),
      |upd1 AS (SELECT cid, pos,
      |           (CAST(sum(CAST(floor(x * 1e12 + 0.5) AS BIGINT)) AS BIGINT) / 1e12)
      |             / CAST(count(*) AS DOUBLE) AS m
      |         FROM mem1 GROUP BY cid, pos),
      |c1l AS (SELECT cid, list(m ORDER BY pos) AS c FROM upd1 GROUP BY cid),
      |c1 AS (SELECT cid, list_transform(c, x -> x / sqrt(list_inner_product(c, c))) AS cv FROM c1l),
      |${assign("c1", "a2")}
      |SELECT cid, count(*) AS cluster_size FROM a2 GROUP BY cid ORDER BY cid""".stripMargin
  }

  /** All query × corpus exact cosines, unranked (spec support). */
  private[graft] def v1All(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val bc = spark.sparkContext.broadcast(codebook(e, "vec_id < 10"))
    e.filter($"vec_id" >= 10).select($"vec_id", $"nv")
      .as[(Long, Array[Double])]
      .mapPartitions(_.flatMap { case (cid, cv) =>
        bc.value.iterator.map { case (qid, qv) => (qid, cid, cosQ(qv, cv)) }
      }).toDF("qid", "vec_id", "cos_sim")
  }

  // ---------- v5: product-quantization ANN (asymmetric distance) ----------

  private val pqSub = 8     // subspaces
  private val pqSubDim = dim / pqSub
  private val pqCodes = 16  // codes per subspace (corpus ids 10-25)

  /** v5: PQ — the memory-compression ANN path. Each corpus vector is
    * encoded as 8 one-byte codes (one per 8-dim subspace, nearest of
    * 4 deterministic codebook entries by quantized L2); queries score
    * corpus vectors with an ADC lookup table (query·code partial dots,
    * integerized so the 8-term reassembly is order-free). At 100 TB
    * the corpus side carries ONLY (vec_id, 8 codes) ≈ 16 bytes/vector
    * through the scan, the codebook and per-query LUT broadcast, and
    * scoring is a narrow map + bounded top-k — no vector ever moves
    * after encoding.
    */
  def v5(spark: SparkSession, dir: String): DataFrame =
    topK(pqAdcScored(spark, dir), "score", 5)

  /** The PQ encode + ADC scoring arm shared by v5 (ranks it
    * directly) and v14 (shortlists from it, then re-ranks exactly):
    * one (qid, vec_id, score) row per query x corpus pair, scores
    * integerized ADC reassemblies.
    */
  private[operators] def pqAdcScored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val cb = codebook(e, s"vec_id >= 10 AND vec_id < ${10 + pqCodes}")
    val qs = codebook(e, "vec_id < 10")
    val bcCb = spark.sparkContext.broadcast(cb)
    // encode: nearest codebook entry per subspace by quantized L2
    val enc = e.filter($"vec_id" >= 10).select($"vec_id", $"nv")
      .as[(Long, Array[Double])]
      .mapPartitions(_.map { case (id, v) =>
        val codes = Array.tabulate(pqSub) { s =>
          var bestCode = 0L
          var bestD = Long.MaxValue
          bcCb.value.foreach { case (cid, cv) =>
            var d = 0.0
            var i = 0
            while (i < pqSubDim) {
              val dx = v(s * pqSubDim + i) - cv(s * pqSubDim + i)
              d += dx * dx
              i += 1
            }
            val dq = math.floor(d * 1e12 + 0.5).toLong
            if (dq < bestD || (dq == bestD && cid < bestCode)) { bestD = dq; bestCode = cid }
          }
          bestCode
        }
        (id, codes)
      })
    // ADC lookup table: query x subspace x code -> integerized partial dot
    val lut: Array[(Long, Map[(Int, Long), Long])] = qs.map { case (qid, qv) =>
      qid -> (for {
        s <- 0 until pqSub
        (cid, cv) <- cb
      } yield {
        var p = 0.0
        var i = 0
        while (i < pqSubDim) { p += qv(s * pqSubDim + i) * cv(s * pqSubDim + i); i += 1 }
        (s, cid) -> math.floor(p * 1e6 + 0.5).toLong
      }).toMap
    }
    val bcLut = spark.sparkContext.broadcast(lut)
    val scored = enc.mapPartitions(_.flatMap { case (id, codes) =>
      bcLut.value.iterator.map { case (qid, tab) =>
        var acc = 0L
        var s = 0
        while (s < pqSub) { acc += tab((s, codes(s))); s += 1 }
        (qid, id, acc / 1e6)
      }
    }).toDF("qid", "vec_id", "score")
    scored
  }

  /** The PQ encode + ADC scoring CTE chain (through `sc`) shared by
    * the v5 and v14 oracles: subvector slicing, quantized-L2
    * encoding with (distance, code) tie-break, integerized ADC
    * partials and order-free reassembly, over the same normalized
    * vectors.
    */
  private val pqScoredCtes: String = {
    val diffs = s"list_transform(range(1, ${pqSubDim + 1}), i -> c.sv[i] - cb.cv[i])"
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |subv AS (SELECT vec_id, p.s,
      |           nv[(p.s * $pqSubDim + 1):(p.s * $pqSubDim + $pqSubDim)] AS sv
      |         FROM m CROSS JOIN (SELECT unnest(range(0, $pqSub)) AS s) p),
      |cb AS (SELECT vec_id AS code_id, s, sv AS cv FROM subv
      |       WHERE vec_id >= 10 AND vec_id < ${10 + pqCodes}),
      |enc0 AS (SELECT c.vec_id, c.s, cb.code_id,
      |           CAST(floor(list_inner_product($diffs, $diffs) * 1e12 + 0.5) AS BIGINT) AS d12
      |         FROM subv c JOIN cb USING (s) WHERE c.vec_id >= 10),
      |enc AS (SELECT vec_id, s, code_id FROM (
      |          SELECT vec_id, s, code_id,
      |            row_number() OVER (PARTITION BY vec_id, s ORDER BY d12, code_id) AS rnk
      |          FROM enc0) WHERE rnk = 1),
      |adc AS (SELECT q.vec_id AS qid, q.s, cb.code_id,
      |          CAST(floor(list_inner_product(q.sv, cb.cv) * 1e6 + 0.5) AS BIGINT) AS p6
      |        FROM subv q JOIN cb USING (s) WHERE q.vec_id < 10),
      |sc AS (SELECT adc.qid, enc.vec_id, CAST(sum(p6) AS BIGINT) / 1e6 AS score
      |       FROM enc JOIN adc ON adc.s = enc.s AND adc.code_id = enc.code_id
      |       GROUP BY adc.qid, enc.vec_id)""".stripMargin
  }

  val v5Sql: String =
    s"""WITH $pqScoredCtes,
      |r AS (SELECT qid, vec_id, score,
      |        row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
      |      FROM sc)
      |SELECT qid, rnk, vec_id, score FROM r WHERE rnk <= 5
      |ORDER BY qid, rnk""".stripMargin

  // ---------- v14: PQ shortlist + exact refine (two-stage search) ----------

  /** Refine shortlist depth: candidates per query surviving the ADC
    * stage into exact re-ranking (FAISS's IndexRefineFlat `k_factor`
    * x k shape: 4 x 5).
    */
  private[operators] val refineR = 20

  /** v14: two-stage retrieval — PQ/ADC scores shortlist [[refineR]]
    * candidates per query, then ONLY those re-rank by exact cosine
    * (the FAISS refine pattern: IVFADC recall at PQ cost, final
    * ordering at full precision). This is the standard serving
    * compromise: the corpus-wide pass touches 16-byte codes, full
    * vectors are fetched for refineR << |corpus| rows per query.
    *
    * Scale shape: shortlist via the salted two-level top-k (no
    * per-query hot partition), then an equality join on vec_id
    * pulls exactly the shortlisted vectors (at 100 TB: a point-lookup
    * join against the vector store, not a scan), queries broadcast,
    * exact scoring a narrow map, final top-k bounded. Refine can
    * only IMPROVE ranking vs v5 — the spec pins recall@5 vs exact
    * v1 for both.
    */
  def v14(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val short = graft.functions.TwoLevel.topK(pqAdcScored(spark, dir), Seq($"qid"),
        Seq($"score".desc, $"vec_id"), $"vec_id", refineR)
      .select($"qid", $"vec_id")
    val e = vectors(spark, dir)
    val bcQ = spark.sparkContext.broadcast(codebook(e, "vec_id < 10").toMap)
    val exact = short.join(e.select($"vec_id", $"nv"), Seq("vec_id"))
      .select($"qid", $"vec_id", $"nv")
      .as[(Long, Long, Array[Double])]
      .mapPartitions(_.map { case (qid, cid, cv) =>
        (qid, cid, cosQ(bcQ.value(qid), cv))
      }).toDF("qid", "vec_id", "cos_sim")
    topK(exact, "cos_sim", knnK)
  }

  /** v14 oracle: v5's CTE chain to ADC scores, the same top-20
    * shortlist, exact-cosine re-rank with v1's quantization.
    */
  val v14Sql: String =
    s"""WITH $pqScoredCtes,
      |shortl AS (SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id,
      |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS srnk
      |    FROM sc) WHERE srnk <= $refineR),
      |ex AS (SELECT s.qid, s.vec_id,
      |         round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 AS cos_sim
      |       FROM shortl s JOIN m q ON q.vec_id = s.qid
      |       JOIN m c ON c.vec_id = s.vec_id),
      |r AS (SELECT qid, vec_id, cos_sim,
      |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk
      |      FROM ex)
      |SELECT qid, rnk, vec_id, cos_sim FROM r WHERE rnk <= $knnK
      |ORDER BY qid, rnk""".stripMargin

  // ---------- v6: int8 scalar quantization (SQ) ANN ----------

  /** v6: scalar quantization — every dimension of the normalized
    * vector clamps to an int8 (`round(x * 127)`), scoring is a pure
    * INTEGER dot product rescaled once at the end. The second
    * memory-compression path next to PQ (v5): 64 B/vector, exact
    * integer arithmetic (order-free by construction — no float
    * accumulation anywhere), SIMD-friendly on real hardware. Corpus
    * streams once; quantized queries broadcast.
    */
  def v6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qexpr = "transform(nv, x -> greatest(-127L, least(127L, " +
      "CAST(CASE WHEN x >= 0 THEN floor(x * 127.0 + 0.5) ELSE ceil(x * 127.0 - 0.5) END AS BIGINT))))"
    val qv = vectors(spark, dir).selectExpr("vec_id", s"$qexpr AS qv")
    val queries = {
      import qv.sparkSession.implicits._
      qv.filter($"vec_id" < 10).as[(Long, Array[Long])].collect().sortBy(_._1)
    }
    val bc = spark.sparkContext.broadcast(queries)
    val scored = qv.filter($"vec_id" >= 10).as[(Long, Array[Long])]
      .mapPartitions(_.flatMap { case (cid, cv) =>
        bc.value.iterator.map { case (qid, qq) =>
          var dot = 0L
          var i = 0
          while (i < cv.length) { dot += qq(i) * cv(i); i += 1 }
          (qid, cid, dot / 16129.0) // 127^2: back to cosine scale
        }
      }).toDF("qid", "vec_id", "score")
    topK(scored, "score", 5)
  }

  /** Full v6 oracle: identical int8 clamp, exact integer dot (values
    * bounded by 127²·64 ≈ 2^20, exact in doubles regardless of order)
    * and one final rescale division.
    */
  val v6Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |q AS (SELECT vec_id, list_transform(nv, x -> CAST(greatest(-127, least(127,
      |        CAST(CASE WHEN x >= 0 THEN floor(x * 127.0 + 0.5) ELSE ceil(x * 127.0 - 0.5) END AS BIGINT))) AS DOUBLE)) AS qv
      |      FROM m),
      |s AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id,
      |        list_inner_product(a.qv, b.qv) / 16129.0 AS score
      |      FROM q a JOIN q b ON a.vec_id < 10 AND b.vec_id >= 10),
      |r AS (SELECT qid, vec_id, score,
      |        row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
      |      FROM s)
      |SELECT qid, rnk, vec_id, score FROM r WHERE rnk <= 5
      |ORDER BY qid, rnk""".stripMargin

  // ---------- v7: range (radius) similarity search ----------

  /** v7: threshold similarity search — every (query, corpus) pair with
    * cosine ≥ τ, unranked. The output-bounded scan path: no top-k
    * window, no shuffle at all — queries broadcast, the corpus
    * streams once through a JIT dot loop and a filter. At 100 TB this
    * is the cheapest similarity surface there is (one narrow pass;
    * output size is the match count), and any ANN prefilter (v2/v3)
    * composes in front of it unchanged.
    */
  def v7(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    v1All(spark, dir)
      .filter($"cos_sim" >= 0.2)
      .orderBy($"qid", $"vec_id")
  }

  val v7Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |s AS (SELECT q.vec_id AS qid, c.vec_id AS vec_id,
      |        round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 AS cos_sim
      |      FROM m q JOIN m c ON q.vec_id < 10 AND c.vec_id >= 10)
      |SELECT qid, vec_id, cos_sim FROM s WHERE cos_sim >= 2e-1
      |ORDER BY qid, vec_id""".stripMargin

  // ---------- v8: MMR diversity re-rank ----------

  private val mmrPool = 10  // candidate pool per query (any ANN path feeds this)
  private val mmrK = 5      // selected per query
  private val mmrLambda = 0.7
  // NOT computed as 1.0 - mmrLambda: that IEEE-rounds to
  // 0.30000000000000004, while the oracle's 3e-1 literal is 0.3.
  private val mmrDiversity = 0.3

  /** v8: maximal-marginal-relevance re-rank — the diversity pass
    * training-data curation runs after retrieval: from each query's
    * top-`mmrPool` candidates, greedily select `mmrK` maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-selected.
    *
    * Scale shape: the greedy recursion is inherently sequential but
    * only ever touches ONE query's bounded candidate pool (O(pool²)
    * dots), so it runs as mapGroups after the top-pool window — the
    * same "prune globally, refine locally" split as v2/v3. All inputs
    * to the greedy step are 1e-6-quantized, and λ-arithmetic is
    * single IEEE ops, so selection order is bitwise cross-engine.
    *
    * The candidates carry their vectors into the pool window, which
    * is safe because WindowGroupLimit prunes to ≤pool rows per query
    * PER INPUT PARTITION before the exchange — shuffle volume is
    * O(partitions · pool · dim) per query, independent of corpus
    * size. (With pool sizes beyond ~100, switch to the d8 discipline:
    * rank ids only, join vectors back for the pool.)
    */
  def v8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val bc = spark.sparkContext.broadcast(codebook(e, "vec_id < 10"))
    val scored = e.filter($"vec_id" >= 10).select($"vec_id", $"nv")
      .as[(Long, Array[Double])]
      .mapPartitions(_.flatMap { case (cid, cv) =>
        bc.value.iterator.map { case (qid, qv) => (qid, cid, cosQ(qv, cv), cv) }
      }).toDF("qid", "vec_id", "rel", "nv")
    // queries are few — two-level pool prune (TwoLevel.topK): no
    // task ever holds a query's full candidate set.
    val pool = graft.functions.TwoLevel.topK(scored, Seq($"qid"),
        Seq($"rel".desc, $"vec_id"), $"vec_id", mmrPool, rankName = "rn")
      .select($"qid", $"vec_id", $"rel", $"nv")
      .as[(Long, Long, Double, Array[Double])]
    pool.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cands = it.toArray.sortBy { case (_, cid, rel, _) => (-rel, cid) }
        val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
        val remaining = scala.collection.mutable.ArrayBuffer(cands.map {
          case (_, cid, rel, nv) => (cid, rel, nv)
        }: _*)
        while (selected.length < mmrK && remaining.nonEmpty) {
          var bestIdx = 0
          var bestScore = Double.NegativeInfinity
          var bestCid = Long.MaxValue
          var i = 0
          while (i < remaining.length) {
            val (cid, rel, nv) = remaining(i)
            // true max over selected (can be negative — no 0 clamp,
            // matching the oracle's max(sim)); step 1 has no term
            var mx = Double.NegativeInfinity
            selected.foreach { case (_, snv, _) =>
              val s = cosQ(nv, snv)
              if (s > mx) mx = s
            }
            val sc =
              if (selected.isEmpty) mmrLambda * rel
              else mmrLambda * rel - mmrDiversity * mx
            if (sc > bestScore || (sc == bestScore && cid < bestCid)) {
              bestIdx = i; bestScore = sc; bestCid = cid
            }
            i += 1
          }
          val (cid, _, nv) = remaining.remove(bestIdx)
          selected += ((cid, nv, bestScore))
        }
        selected.iterator.zipWithIndex.map { case ((cid, _, sc), step) =>
          (qid, step + 1, cid, sc)
        }
      }.toDF("qid", "rnk", "vec_id", "mmr_score")
      .orderBy($"qid", $"rnk")
  }

  /** Full v8 oracle: the greedy recursion unrolled as one CTE pair
    * (score → argmax-select) per step, with the max-sim-to-selected
    * term joined from a candidate-pairs table. λ literals in
    * scientific notation (§8.2), every similarity 1e-6-quantized
    * before the λ-arithmetic — both engines walk the same argmax path.
    */
  val v8Sql: String = {
    val steps = (2 to mmrK).map { k =>
      val prev = (1 until k).map(j => s"SELECT qid, cid FROM sel$j").mkString(" UNION ALL ")
      s"""acc$k AS ($prev),
        |rem$k AS (SELECT c.* FROM cand c ANTI JOIN acc$k a USING (qid, cid)),
        |mx$k AS (SELECT pw.qid, pw.ca AS cid, max(pw.sim) AS mx
        |         FROM pw JOIN acc$k a ON pw.qid = a.qid AND pw.cb = a.cid
        |         GROUP BY 1, 2),
        |p$k AS (SELECT r.qid, r.cid, 7e-1 * r.rel - 3e-1 * m.mx AS sc
        |        FROM rem$k r JOIN mx$k m ON m.qid = r.qid AND m.cid = r.cid),
        |sel$k AS (SELECT qid, cid, sc FROM (
        |          SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sc DESC, cid) AS rn
        |          FROM p$k) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to mmrK)
      .map(k => s"SELECT qid, $k AS rnk, cid AS vec_id, sc AS mmr_score FROM sel$k")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |s AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
      |        round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 AS rel
      |      FROM m q JOIN m c ON q.vec_id < 10 AND c.vec_id >= 10),
      |cand AS (SELECT qid, cid, rel FROM (
      |         SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn
      |         FROM s) WHERE rn <= $mmrPool),
      |pw AS (SELECT a.qid, a.cid AS ca, b.cid AS cb,
      |         round(list_inner_product(x.nv, y.nv) * 1e6) / 1e6 AS sim
      |       FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid
      |       JOIN m x ON x.vec_id = a.cid JOIN m y ON y.vec_id = b.cid),
      |p1 AS (SELECT qid, cid, 7e-1 * rel AS sc FROM cand),
      |sel1 AS (SELECT qid, cid, sc FROM (
      |         SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sc DESC, cid) AS rn
      |         FROM p1) WHERE rn = 1),
      |$steps
      |$out
      |ORDER BY qid, rnk""".stripMargin
  }

  // ---------- v3: IVF-style coarse quantizer + nprobe (rows-only) ----------

  def v3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    // deterministic coarse centroids: the first 8 corpus vectors
    val cents = e.filter($"vec_id" >= 10 && $"vec_id" < 18)
      .select($"vec_id".as("id_a"), $"nv".as("nv_a"), lit(1).as("one"))
    // assign each corpus vector to its nearest centroid
    val corpus = e.filter($"vec_id" >= 18)
      .select($"vec_id".as("id_b"), $"nv".as("nv_b"), lit(1).as("one"))
    val wAssign = Window.partitionBy($"id_b").orderBy($"cos_sim".desc, $"id_a")
    val assigned = cosineOf(corpus.join(broadcast(cents), Seq("one")))
      .withColumn("arnk", row_number().over(wAssign))
      .filter($"arnk" === 1)
      .select($"id_b".as("vec_id"), $"id_a".as("cid"))
      .join(e.select($"vec_id", $"nv"), Seq("vec_id"))
    // per query: probe the 2 nearest centroids
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("id_b"), $"nv".as("nv_b"), lit(1).as("one"))
    val wProbe = Window.partitionBy($"id_b").orderBy($"cos_sim".desc, $"id_a")
    val probes = cosineOf(queries.join(broadcast(cents), Seq("one")))
      .withColumn("prnk", row_number().over(wProbe))
      .filter($"prnk" <= 2)
      .select($"id_b".as("qid"), $"id_a".as("cid"))
      .join(e.select($"vec_id".as("qid"), $"nv".as("qnv")), Seq("qid"))
    // search only the probed clusters
    val cand = probes.join(assigned, Seq("cid"))
      .select($"qid".as("id_a"), $"qnv".as("nv_a"),
        $"vec_id".as("id_b"), $"nv".as("nv_b"))
    topK(cosineOf(cand)
      .select($"id_a".as("qid"), $"id_b".as("vec_id"), $"cos_sim"),
      "cos_sim", 3)
  }

  // ---------- v9: IVF-PQ (IVFADC) — pruning and compression composed ----------

  private val ivfProbe = 2 // clusters probed per query (of 8)

  /** v9: IVF-PQ — v3's coarse-quantizer pruning composed with v5's
    * product-quantized scoring (the FAISS IVFADC architecture, Jégou
    * et al. 2011 — the shape billion-vector serving actually runs).
    * One narrow pass assigns each corpus vector to its nearest coarse
    * centroid AND PQ-encodes the RESIDUAL (v − centroid) in 8
    * subspace codes; queries probe their `ivfProbe` nearest centroids
    * and score only those clusters' members via broadcast ADC tables.
    *
    * Inner-product ADC decomposes exactly: q·(c + r̂) = q·c + Σₛ
    * q_s·code_s — the per-(query, centroid) term and the per-(subspace,
    * code) lookup table are both integerized (1e6), so the reassembly
    * sum is order-free and bitwise cross-engine.
    *
    * 100 TB shape: after the one-time encode, the corpus moves as
    * (vec_id, cid, 8 codes) ≈ 17 bytes/vector; centroids, codebooks
    * and per-query LUTs broadcast (nlist·dim + queries·pqSub·pqCodes
    * entries — KBs); probing prunes scoring to nprobe/nlist of the
    * corpus, scoring is a narrow map over the encoded rows, and the
    * final top-k is the two-level (qid, salt) rank. No vector ever
    * moves after encoding, and nothing shuffles but the bounded
    * ranked candidates. The codebook entries reuse v5's deterministic
    * corpus-slice seeds (ids 10-25) — codebook TRAINING (k-means in
    * residual space, v4's kernel per subspace) is orthogonal to the
    * serving shape measured here.
    */
  def v9(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val cents = codebook(e, "vec_id >= 10 AND vec_id < 18")
    val cb = codebook(e, s"vec_id >= 10 AND vec_id < ${10 + pqCodes}")
    val qs = codebook(e, "vec_id < 10")
    val bcCents = spark.sparkContext.broadcast(cents)
    val bcCb = spark.sparkContext.broadcast(cb)
    // 1. assign + residual-encode in ONE narrow pass (no shuffle)
    val enc = e.filter($"vec_id" >= 18).select($"vec_id", $"nv")
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bcCb.value
        val cn = bcCents.value
        it.map { case (id, v) =>
          var bestCid = 0L
          var bestCos = -2.0
          var bestCnv: Array[Double] = null
          cn.foreach { case (cid, cnv) =>
            val c = cosQ(cnv, v)
            if (c > bestCos || (c == bestCos && cid < bestCid)) {
              bestCid = cid; bestCos = c; bestCnv = cnv
            }
          }
          val codes = Array.tabulate(pqSub) { s =>
            var bestCode = 0L
            var bestD = Long.MaxValue
            cs.foreach { case (kid, kv) =>
              var d = 0.0
              var i = 0
              while (i < pqSubDim) {
                val dx = (v(s * pqSubDim + i) - bestCnv(s * pqSubDim + i)) - kv(s * pqSubDim + i)
                d += dx * dx
                i += 1
              }
              val dq = math.floor(d * 1e12 + 0.5).toLong
              if (dq < bestD || (dq == bestD && kid < bestCode)) { bestD = dq; bestCode = kid }
            }
            bestCode
          }
          (id, bestCid, codes)
        }
      }
    // 2. driver-built probe tables (|queries| × nprobe — tiny):
    //    cid -> [(qid, q·centroid term, (subspace, code) -> partial dot)]
    val probes: Map[Long, Array[(Long, Long, Map[(Int, Long), Long])]] =
      qs.flatMap { case (qid, qv) =>
        cents.map { case (cid, cnv) => (cid, cnv, cosQ(cnv, qv)) }
          .sortBy { case (cid, _, c) => (-c, cid) }
          .take(ivfProbe)
          .map { case (cid, cnv, _) =>
            var qc = 0.0
            var i = 0
            while (i < dim) { qc += qv(i) * cnv(i); i += 1 }
            val lut = (for {
              s <- 0 until pqSub
              (kid, kv) <- cb
            } yield {
              var p = 0.0
              var j = 0
              while (j < pqSubDim) { p += qv(s * pqSubDim + j) * kv(s * pqSubDim + j); j += 1 }
              (s, kid) -> math.floor(p * 1e6 + 0.5).toLong
            }).toMap
            (cid, qid, math.floor(qc * 1e6 + 0.5).toLong, lut)
          }
      }.groupBy(_._1)
        .map { case (cid, xs) => cid -> xs.map(t => (t._2, t._3, t._4)).toArray.sortBy(_._1) }
    val bcProbes = spark.sparkContext.broadcast(probes)
    // 3. ADC-score probed clusters only: a narrow map over encoded rows
    val scored = enc.mapPartitions(_.flatMap { case (id, cid, codes) =>
      bcProbes.value.getOrElse(cid, Array.empty[(Long, Long, Map[(Int, Long), Long])])
        .iterator.map { case (qid, qc6, tab) =>
          var acc = qc6
          var s = 0
          while (s < pqSub) { acc += tab((s, codes(s))); s += 1 }
          (qid, id, acc / 1e6)
        }
    }).toDF("qid", "vec_id", "score")
    topK(scored, "score", 3)
  }

  /** Full v9 oracle: coarse assignment (v3's CTEs), residual slicing,
    * quantized-L2 residual encoding (v5's CTEs in residual space),
    * probe selection, and the integerized q·centroid + ADC-sum
    * reassembly — every tie-break and quantization mirrored.
    */
  val v9Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |cents AS (SELECT vec_id AS cid, nv AS cnv FROM m WHERE vec_id >= 10 AND vec_id < 18),
      |corpus AS (SELECT vec_id, nv FROM m WHERE vec_id >= 18),
      |asg0 AS (SELECT c.vec_id, ct.cid,
      |           round(list_inner_product(ct.cnv, c.nv) * 1e6) / 1e6 AS cs
      |         FROM corpus c CROSS JOIN cents ct),
      |assigned AS (SELECT vec_id, cid FROM
      |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn FROM asg0)
      |  WHERE rn = 1),
      |resid AS (SELECT a.vec_id, a.cid,
      |            list_transform(range(1, ${dim + 1}), i -> c.nv[i] - ct.cnv[i]) AS r
      |          FROM assigned a JOIN corpus c USING (vec_id) JOIN cents ct USING (cid)),
      |sp AS (SELECT unnest(range(0, $pqSub)) AS s),
      |rsub AS (SELECT vec_id, cid, sp.s,
      |           r[(sp.s * $pqSubDim + 1):(sp.s * $pqSubDim + $pqSubDim)] AS sv
      |         FROM resid CROSS JOIN sp),
      |cb AS (SELECT vec_id AS code_id, sp.s,
      |         nv[(sp.s * $pqSubDim + 1):(sp.s * $pqSubDim + $pqSubDim)] AS cv
      |       FROM m CROSS JOIN sp WHERE vec_id >= 10 AND vec_id < ${10 + pqCodes}),
      |enc0 AS (SELECT c.vec_id, c.s, cb.code_id,
      |           CAST(floor(list_inner_product(
      |             list_transform(range(1, ${pqSubDim + 1}), i -> c.sv[i] - cb.cv[i]),
      |             list_transform(range(1, ${pqSubDim + 1}), i -> c.sv[i] - cb.cv[i])) * 1e12 + 0.5) AS BIGINT) AS d12
      |         FROM rsub c JOIN cb USING (s)),
      |enc AS (SELECT vec_id, s, code_id FROM (
      |          SELECT vec_id, s, code_id,
      |            row_number() OVER (PARTITION BY vec_id, s ORDER BY d12, code_id) AS rnk
      |          FROM enc0) WHERE rnk = 1),
      |qs AS (SELECT vec_id AS qid, nv FROM m WHERE vec_id < 10),
      |pr0 AS (SELECT q.qid, ct.cid,
      |          round(list_inner_product(ct.cnv, q.nv) * 1e6) / 1e6 AS cs
      |        FROM qs q CROSS JOIN cents ct),
      |probes AS (SELECT qid, cid FROM
      |  (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS rn FROM pr0)
      |  WHERE rn <= $ivfProbe),
      |qc AS (SELECT p.qid, p.cid,
      |         CAST(floor(list_inner_product(q.nv, ct.cnv) * 1e6 + 0.5) AS BIGINT) AS qc6
      |       FROM probes p JOIN qs q USING (qid) JOIN cents ct USING (cid)),
      |qsub AS (SELECT qid, sp.s,
      |           nv[(sp.s * $pqSubDim + 1):(sp.s * $pqSubDim + $pqSubDim)] AS sv
      |         FROM qs CROSS JOIN sp),
      |adc AS (SELECT q.qid, q.s, cb.code_id,
      |          CAST(floor(list_inner_product(q.sv, cb.cv) * 1e6 + 0.5) AS BIGINT) AS p6
      |        FROM qsub q JOIN cb USING (s)),
      |sc AS (SELECT qc.qid, a.vec_id,
      |         (max(qc.qc6) + CAST(sum(adc.p6) AS BIGINT)) / 1e6 AS score
      |       FROM qc JOIN assigned a ON a.cid = qc.cid
      |       JOIN enc ON enc.vec_id = a.vec_id
      |       JOIN adc ON adc.qid = qc.qid AND adc.s = enc.s AND adc.code_id = enc.code_id
      |       GROUP BY qc.qid, a.vec_id),
      |r AS (SELECT qid, vec_id, score,
      |        row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
      |      FROM sc)
      |SELECT qid, rnk, vec_id, score FROM r WHERE rnk <= 3
      |ORDER BY qid, rnk""".stripMargin

  // ---------- v11: ANN recall evaluation (index-quality tracking) ----------

  /** v11: recall@k of the LSH index (v2) against the exact baseline
    * (v1) — the index-quality regression job every production ANN
    * deployment schedules: when a re-trained embedding or a re-drawn
    * hash family silently degrades recall, THIS query is the alarm.
    * Per query: |approx top-k ∩ exact top-k| / k (k = [[knnK]],
    * shared with both arms), via one left join
    * of two k-bounded result sets — evaluation cost is independent of
    * corpus size (both arms' own scale shapes do the heavy lifting).
    * recall is a single IEEE division of exact integers — bitwise.
    */
  def v11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exact = v1(spark, dir).select($"qid", $"vec_id")
    val approx = v2(spark, dir).select($"qid", $"vec_id", lit(1).as("hit"))
    exact.join(approx, Seq("qid", "vec_id"), "left_outer")
      .groupBy($"qid")
      .agg(count($"hit").as("n_overlap"))
      .select($"qid", $"n_overlap",
        ($"n_overlap".cast("double") / knnK).as("recall"))
      .transform(graft.Tables.ordered(_, $"qid"))
  }

  /** v11 oracle: v1Sql and v2Sql embedded whole as subqueries (their
    * CTE scopes stay separate), left join, matched count / 5.
    */
  val v11Sql: String =
    s"""WITH a AS (SELECT qid, vec_id FROM ($v1Sql)),
      |b AS (SELECT qid, vec_id FROM ($v2Sql)),
      |o AS (SELECT a.qid, count(b.vec_id) AS n_overlap
      |      FROM a LEFT JOIN b ON a.qid = b.qid AND a.vec_id = b.vec_id
      |      GROUP BY a.qid)
      |SELECT qid, n_overlap, CAST(n_overlap AS DOUBLE) / $knnK AS recall
      |FROM o
      |ORDER BY qid""".stripMargin

  // ---------- v12: cluster-quality evaluation (simplified silhouette) ----------

  /** v12: simplified silhouette (Rousseeuw 1987, centroid variant) —
    * the clustering-quality sibling of v11's recall eval: semantic
    * dedup (d9) and IVF partitioning (v3/v9) both ride a centroid
    * set, and when a re-trained embedding degrades cluster
    * separation, THIS query is the alarm. Per corpus vector: a =
    * cosine distance to its own (nearest) centroid, b = distance to
    * the second-nearest, s = (b − a)/b ∈ [0, 1] (b ≥ a by rank;
    * b = 0 guards to 0) — the centroid-based simplification that
    * avoids the O(n²) pairwise silhouette while preserving the
    * separation-vs-cohesion reading. s quantizes to 1e6 BEFORE the
    * per-cluster mean so the aggregate is an order-free integer sum.
    *
    * Scale: centroids broadcast; ONE narrow pass scores every vector
    * against all centroids (the v3/v9 assignment loop, JIT dot);
    * one cid aggregate. Evaluation cost = one corpus scan regardless
    * of corpus size.
    */
  def v12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val bc = spark.sparkContext.broadcast(
      codebook(e, "vec_id >= 10 AND vec_id < 18"))
    e.filter($"vec_id" >= 18).select($"vec_id", $"nv")
      .as[(Long, Array[Double])]
      .mapPartitions(_.map { case (_, v) =>
        // best + second-best cosine over the centroid set, (cs DESC,
        // cid ASC) total order — the v4 assignment tie-break
        var c1 = -2.0; var id1 = Long.MaxValue
        var c2 = -2.0
        bc.value.foreach { case (cid, cv) =>
          val c = cosQ(cv, v)
          if (c > c1 || (c == c1 && cid < id1)) { c2 = c1; c1 = c; id1 = cid }
          else if (c > c2) c2 = c
        }
        val da = 1.0 - c1
        val db = 1.0 - c2
        val s6 = if (db == 0.0) 0L
          else math.floor(((db - da) / db) * 1e6 + 0.5).toLong
        (id1, s6)
      }).toDF("cid", "s6")
      .groupBy($"cid")
      .agg(count(lit(1)).as("n_members"),
        (sum($"s6") / count(lit(1)) / 1e6).as("mean_silhouette"))
      .transform(graft.Tables.ordered(_, $"cid"))
  }

  /** v12 oracle: v1's normalization CTEs, rank-1/rank-2 centroid
    * distances per vector, the same guarded ratio quantized at 1e6,
    * integer-mean per cluster. CAST(1 AS DOUBLE) — a bare 1.0 is
    * DECIMAL in DuckDB.
    */
  val v12Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |cents AS (SELECT vec_id AS cid, nv FROM m WHERE vec_id >= 10 AND vec_id < 18),
      |corpus AS (SELECT vec_id, nv FROM m WHERE vec_id >= 18),
      |sc AS (SELECT c.vec_id, ct.cid,
      |         round(list_inner_product(ct.nv, c.nv) * 1e6) / 1e6 AS cs
      |       FROM corpus c CROSS JOIN cents ct),
      |r AS (SELECT vec_id, cid, cs,
      |        row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
      |      FROM sc),
      |ab AS (SELECT a.vec_id, a.cid,
      |         CAST(1 AS DOUBLE) - a.cs AS da,
      |         CAST(1 AS DOUBLE) - b.cs AS db
      |       FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2),
      |s AS (SELECT vec_id, cid,
      |        CASE WHEN db = 0 THEN CAST(0 AS BIGINT)
      |             ELSE CAST(floor(((db - da) / db) * 1e6 + 0.5) AS BIGINT) END AS s6
      |      FROM ab)
      |SELECT cid, count(*) AS n_members,
      |  (CAST(sum(s6) AS BIGINT) / count(*)) / 1e6 AS mean_silhouette
      |FROM s GROUP BY cid
      |ORDER BY cid""".stripMargin

  // ---------- v13: embedding-distribution drift monitor ----------

  /** v13: embedding drift monitoring — the scheduled data-ops job a
    * production corpus runs BETWEEN retrains: has the incoming
    * distribution moved relative to the reference snapshot the
    * centroids (and everything built on them — d9's semantic dedup,
    * v3/v9's IVF partitions) were fit on? Two snapshot halves (even
    * vec_id = reference, odd = current) assign to the SAME centroid
    * set; per cluster the monitor reports member counts, integerized
    * dispersion sums (Σ quantized cosine distance to the centroid),
    * and the population-shift signal: |share_ref − share_cur| in
    * exact permille — the first-line drift alarm (a cluster gaining
    * or losing corpus share means the new data lives elsewhere in
    * embedding space). Dispersion sums quantize BEFORE summing
    * (order-free integers, §8.4/§8.1); the share delta uses integer
    * division on non-negative operands only (Spark div == DuckDB //
    * there), totals ride a 1-row broadcast.
    *
    * Scale: centroids broadcast; ONE narrow pass assigns both halves
    * (the v3/v9/v12 loop); one (cid, half) aggregate + a full-outer
    * stitch of two k-row tables. Monitoring cost = one corpus scan,
    * independent of corpus size — run it per ingest batch.
    */
  def v13(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val bc = spark.sparkContext.broadcast(
      codebook(e, "vec_id >= 10 AND vec_id < 18"))
    val assigned = e.filter($"vec_id" >= 18).select($"vec_id", $"nv")
      .as[(Long, Array[Double])]
      .mapPartitions(_.map { case (id, v) =>
        // nearest centroid, (cs DESC, cid ASC) total order — the v4
        // assignment tie-break
        var c1 = -2.0; var id1 = Long.MaxValue
        bc.value.foreach { case (cid, cv) =>
          val c = cosQ(cv, v)
          if (c > c1 || (c == c1 && cid < id1)) { c1 = c; id1 = cid }
        }
        val d6 = math.floor((1.0 - c1) * 1e6 + 0.5).toLong
        (id1, id % 2, d6)
      }).toDF("cid", "half", "d6")
    val agg = assigned.groupBy($"cid", $"half")
      .agg(count(lit(1)).as("n"), sum($"d6").as("sd")).cache()
    val ref = agg.filter($"half" === 0)
      .select($"cid", $"n".as("n_ref"), $"sd".as("dist_ref"))
    val cur = agg.filter($"half" === 1)
      .select($"cid", $"n".as("n_cur"), $"sd".as("dist_cur"))
    val totals = agg.agg(
      sum(when($"half" === 0, $"n").otherwise(0L)).as("nrt"),
      sum(when($"half" === 1, $"n").otherwise(0L)).as("nct"))
    ref.join(cur, Seq("cid"), "full_outer")
      .select($"cid",
        coalesce($"n_ref", lit(0L)).as("n_ref"),
        coalesce($"n_cur", lit(0L)).as("n_cur"),
        coalesce($"dist_ref", lit(0L)).as("dist_ref"),
        coalesce($"dist_cur", lit(0L)).as("dist_cur"))
      .crossJoin(broadcast(totals))
      .selectExpr("cid", "n_ref", "n_cur", "dist_ref", "dist_cur",
        "abs((n_ref * 1000) div nrt - (n_cur * 1000) div nct) AS share_delta_pm")
      .transform(graft.Tables.ordered(_, $"cid"))
  }

  /** v13 oracle: v12's normalization + rank-1 assignment CTEs over
    * both halves, (cid, half) aggregate, full-outer stitch, 1-row
    * totals; all divisions integer on non-negative operands.
    */
  val v13Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |cents AS (SELECT vec_id AS cid, nv FROM m WHERE vec_id >= 10 AND vec_id < 18),
      |corpus AS (SELECT vec_id, nv FROM m WHERE vec_id >= 18),
      |sc AS (SELECT c.vec_id, ct.cid,
      |         round(list_inner_product(ct.nv, c.nv) * 1e6) / 1e6 AS cs
      |       FROM corpus c CROSS JOIN cents ct),
      |r AS (SELECT vec_id, cid, cs,
      |        row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
      |      FROM sc),
      |asg AS (SELECT vec_id % 2 AS half, cid,
      |          CAST(floor((CAST(1 AS DOUBLE) - cs) * 1e6 + 0.5) AS BIGINT) AS d6
      |        FROM r WHERE rn = 1),
      |a AS (SELECT cid, half, count(*) AS n, CAST(sum(d6) AS BIGINT) AS sd
      |      FROM asg GROUP BY 1, 2),
      |t AS (SELECT CAST(sum(CASE WHEN half = 0 THEN n ELSE 0 END) AS BIGINT) AS nrt,
      |             CAST(sum(CASE WHEN half = 1 THEN n ELSE 0 END) AS BIGINT) AS nct
      |      FROM a),
      |f AS (SELECT coalesce(rf.cid, cu.cid) AS cid,
      |        coalesce(rf.n, 0) AS n_ref, coalesce(cu.n, 0) AS n_cur,
      |        coalesce(rf.sd, 0) AS dist_ref, coalesce(cu.sd, 0) AS dist_cur
      |      FROM (SELECT * FROM a WHERE half = 0) rf
      |      FULL JOIN (SELECT * FROM a WHERE half = 1) cu ON cu.cid = rf.cid)
      |SELECT cid, n_ref, n_cur, dist_ref, dist_cur,
      |  CAST(abs((n_ref * 1000) // t.nrt - (n_cur * 1000) // t.nct) AS BIGINT) AS share_delta_pm
      |FROM f, t
      |ORDER BY cid""".stripMargin

  // ---------- v10: hybrid retrieval — BM25 ⊕ dense, RRF fusion ----------

  /** v10: hybrid retrieval with reciprocal-rank fusion (Cormack et
    * al. 2009) — the production retrieval shape behind RAG serving
    * and hard-negative mining: a lexical arm (t16's BM25 over the
    * documents table) and a dense arm (v1's exact quantized cosine
    * over the 1:1-aligned embeddings table) each rank their top-20
    * per query, then fuse by Σ 1/(60 + rank) with absent arms
    * contributing 0 — rank-based fusion needs no score calibration
    * between arms, which is exactly why RRF is the default fusion in
    * hybrid search engines.
    *
    * Determinism: each RRF term is a single IEEE division of exact
    * integers and the two-term sum is evaluated in a fixed order
    * (lex + vec), so the fused score is bitwise cross-engine (the
    * q29 percent_rank argument); ties break on doc_id.
    *
    * Scale: both arms are the already-proven shapes (BM25's one
    * term-shuffle with broadcast queries; the dense arm broadcast
    * codebook + narrow JIT scoring, or any v2-v9 ANN variant in
    * front); arm ranking is the two-level (qid, salt) top-k, the
    * fusion joins two ≤(k·queries)-row tables — negligible at any
    * corpus size. One extra shuffle total.
    */
  def v10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lex = graft.functions.TwoLevel.topK(
        TextStats.bm25Scores(spark, dir).filter($"doc_id" >= 10),
        Seq($"qid"), Seq($"score".desc, $"doc_id"), $"doc_id", 20)
      .select($"qid", $"doc_id", $"rnk".as("lex_rnk"))
    val scored = denseScored(spark, dir, "vec_id < 3", "vec_id >= 10")
    val vec = graft.functions.TwoLevel.topK(scored, Seq($"qid"),
        Seq($"cos_sim".desc, $"vec_id"), $"vec_id", 20)
      .select($"qid", $"vec_id".as("doc_id"), $"rnk".as("vec_rnk"))
    val fused = lex.join(vec, Seq("qid", "doc_id"), "full_outer")
      .select($"qid", $"doc_id",
        (coalesce(lit(1.0) / ($"lex_rnk" + lit(60)), lit(0.0)) +
          coalesce(lit(1.0) / ($"vec_rnk" + lit(60)), lit(0.0))).as("rrf"),
        coalesce($"lex_rnk", lit(0)).as("lex_rnk"),
        coalesce($"vec_rnk", lit(0)).as("vec_rnk"))
    graft.functions.TwoLevel.topK(fused, Seq($"qid"),
        Seq($"rrf".desc, $"doc_id"), $"doc_id", 10)
      .select($"qid", $"rnk", $"doc_id", $"rrf", $"lex_rnk", $"vec_rnk")
      .transform(graft.Tables.ordered(_, $"qid", $"rnk"))
  }

  /** v10 oracle: t16's BM25 CTE chain + v1's normalized-cosine CTEs,
    * both ranked to 20, FULL OUTER joined and RRF-fused with the
    * identical fixed-order double arithmetic (CAST(1 AS DOUBLE)
    * divisions — a bare 1.0 literal would be DECIMAL in DuckDB and
    * diverge from IEEE).
    */
  val v10Sql: String =
    s"""WITH ${TextStats.bm25Ctes},
      |lexr AS (SELECT qid, doc_id,
      |           CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INTEGER) AS lex_rnk
      |         FROM s WHERE doc_id >= 10 QUALIFY lex_rnk <= 20),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |vs AS (SELECT q.vec_id AS qid, c.vec_id AS doc_id,
      |         round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 AS cos_sim
      |       FROM m q JOIN m c ON q.vec_id < 3 AND c.vec_id >= 10),
      |vecr AS (SELECT qid, doc_id,
      |           CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, doc_id) AS INTEGER) AS vec_rnk
      |         FROM vs QUALIFY vec_rnk <= 20),
      |f AS (SELECT coalesce(l.qid, v.qid) AS qid,
      |        coalesce(l.doc_id, v.doc_id) AS doc_id,
      |        coalesce(CAST(1 AS DOUBLE) / (l.lex_rnk + 60), CAST(0 AS DOUBLE))
      |          + coalesce(CAST(1 AS DOUBLE) / (v.vec_rnk + 60), CAST(0 AS DOUBLE)) AS rrf,
      |        coalesce(l.lex_rnk, 0) AS lex_rnk,
      |        coalesce(v.vec_rnk, 0) AS vec_rnk
      |      FROM lexr l FULL JOIN vecr v ON l.qid = v.qid AND l.doc_id = v.doc_id),
      |r AS (SELECT qid, doc_id, rrf, lex_rnk, vec_rnk,
      |        CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS INTEGER) AS rnk
      |      FROM f)
      |SELECT qid, rnk, doc_id, rrf, lex_rnk, vec_rnk FROM r WHERE rnk <= 10
      |ORDER BY qid, rnk""".stripMargin

  // ---------- v15: binary-signature hamming search + exact rerank ----------

  private val v15PlaneOffset = 300 // disjoint from v2's 0-47 and d8's 100-199
  private val v15Bits = 63         // bit 63 unused: signatures stay non-negative
                                   // BIGINTs (m6's discipline), so ^ and
                                   // bit_count agree cross-engine with no
                                   // two's-complement edge
  private val v15Shortlist = 20

  /** v15: 1-BIT QUANTIZATION — each vector compressed to a 63-bit
    * sign signature (sign of 63 fixed hyperplane projections), ranked
    * by hamming distance, then the top-[[v15Shortlist]] shortlist
    * exact-reranked to the final top-[[knnK]]. This is the
    * binary-quantization serving shape (8 B/vector — even leaner than
    * v6's int8 and v5/v9's PQ codes; Charikar 2002 simhash over
    * real vectors): the hamming scan is pure integer xor+popcount on
    * a 64-bit word, so the first-stage scan needs no floats at all.
    *
    * Scale shape: signatures build in one narrow JIT pass (the v2
    * plane loop); the hamming scan is a broadcast of the ≤10 query
    * signatures — 16 bytes/row × corpus, all inside codegen
    * (`bit_count(sig ^ qsig)`, no JIT boundary) — pruned to the
    * shortlist by the salted two-level top-k; only shortlist rows
    * (|q|·20) ever touch a float vector again (one equality join +
    * broadcast-codebook rerank). Embeddings never ride a shuffle.
    */
  def v15(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val bcPlanes = spark.sparkContext.broadcast(
      (0 until v15Bits).map(b => planeRow(v15PlaneOffset + b).toArray).toArray)
    // signatures for an already-filtered side: the query and corpus
    // sides each run the 63-plane loop over THEIR OWN rows only — a
    // single shared signature pass would execute twice (the vec_id
    // filters cannot push through an opaque mapPartitions), doubling
    // the dominant narrow stage
    def sigOf(side: DataFrame): DataFrame =
      side.select($"vec_id", $"nv").as[(Long, Array[Double])]
        .mapPartitions { it =>
          val ps = bcPlanes.value
          it.map { case (id, nv) =>
            var sig = 0L
            var b = 0
            while (b < v15Bits) {
              val p = ps(b)
              var dot = 0.0
              var i = 0
              while (i < dim) { dot += nv(i) * p(i); i += 1 }
              if (math.floor(dot * 1e6 + 0.5) >= 0) sig |= (1L << b)
              b += 1
            }
            (id, sig)
          }
        }.toDF("vec_id", "sig")
    val qs = sigOf(e.filter($"vec_id" < 10))
      .select($"vec_id".as("qid"), $"sig".as("qsig"))
    val ham = sigOf(e.filter($"vec_id" >= 10))
      .crossJoin(broadcast(qs))
      .selectExpr("qid", "vec_id", "CAST(bit_count(sig ^ qsig) AS INT) AS ham")
    val short = graft.functions.TwoLevel.topK(ham, Seq($"qid"),
      Seq($"ham", $"vec_id"), $"vec_id", v15Shortlist)
    val bcQ = spark.sparkContext.broadcast(codebook(e, "vec_id < 10").toMap)
    val rer = short.select($"qid", $"vec_id", $"ham")
      .join(e.select($"vec_id", $"nv"), Seq("vec_id"))
      .select($"qid", $"vec_id", $"ham", $"nv")
      .as[(Long, Long, Int, Array[Double])]
      .mapPartitions(_.map { case (qid, cid, hm, cv) =>
        (qid, cid, hm, cosQ(bcQ.value(qid), cv))
      }).toDF("qid", "vec_id", "ham", "cos_sim")
    graft.functions.TwoLevel.topK(rer, Seq($"qid"),
        Seq($"cos_sim".desc, $"vec_id"), $"vec_id", knnK)
      .select($"qid", $"rnk", $"vec_id", $"ham", $"cos_sim")
      .orderBy($"qid", $"rnk")
  }

  /** v15 oracle: the signatures are 63 shared-literal hyperplane sign
    * bits (v2's bitwise-deterministic quantized sign test), so the
    * hamming ranks, the shortlist cut and the rerank all mirror
    * exactly; xor/bit_count run on non-negative BIGINTs in both
    * engines.
    */
  val v15Sql: String = {
    def planeList(p: Seq[Double]) =
      p.map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")
    val sigExpr = (0 until v15Bits).map { b =>
      s"(CASE WHEN floor(list_inner_product(nv, ${planeList(planeRow(v15PlaneOffset + b))}) * 1e6 + 0.5) >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |sg AS (SELECT vec_id, CAST($sigExpr AS BIGINT) AS sig FROM m),
      |h AS (SELECT q.vec_id AS qid, c.vec_id AS vec_id,
      |        CAST(bit_count(xor(c.sig, q.sig)) AS INTEGER) AS ham
      |      FROM sg q JOIN sg c ON q.vec_id < 10 AND c.vec_id >= 10),
      |sh AS (SELECT qid, vec_id, ham,
      |         row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS srn
      |       FROM h QUALIFY srn <= $v15Shortlist),
      |rr AS (SELECT s.qid, s.vec_id, s.ham,
      |         round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 AS cos_sim
      |       FROM sh s JOIN m q ON q.vec_id = s.qid JOIN m c ON c.vec_id = s.vec_id),
      |r AS (SELECT qid, vec_id, ham, cos_sim,
      |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rnk
      |      FROM rr)
      |SELECT qid, rnk, vec_id, ham, cos_sim FROM r WHERE rnk <= $knnK
      |ORDER BY qid, rnk""".stripMargin
  }

  // ---------- v16: kNN GRAPH — the all-corpus self-join ----------

  /** Bucket-size cap for the v16 self-join (mirrored in the oracle):
    * a hyperplane bucket is a skew hazard exactly like d2's band
    * buckets — a dense embedding cluster can pull thousands of
    * vectors into one (t, b) cell, turning the self-join quadratic.
    */
  private[operators] val v16Cap = 100

  /** v16: k-NEAREST-NEIGHBOR GRAPH over the corpus — every vector's
    * top-k most-similar OTHER vectors, the structure semantic dedup
    * clustering (d9), graph-based ANN indexes, and
    * diversity/coverage analysis all build FIRST. v1-v15 answer
    * query→corpus; v16 is corpus→corpus, where brute force is
    * O(n²) and unthinkable at 10⁹ vectors — so candidates come
    * from v2's EXACT machinery run as a SELF-join: the same 8
    * deterministic hyperplane tables and quantized sign bits
    * (one discipline, one oracle mirror), buckets capped at
    * [[v16Cap]] ([[graft.operators.Dedup.bucketCap]]'s argument on
    * the embedding grain), candidate pairs are bucket-mates in ≥ 1
    * table. Deliberately UNLIKE v2's query path, vectors do NOT
    * ride the bucket join — candidates are (id, id) pairs and the
    * normalized vectors attach by pk equality join only at scoring
    * (the d4 discipline applied to floats: at 8-17-64 B/vector
    * tiers the payload is the cost, and it moves exactly twice —
    * once per side — regardless of how many buckets collide).
    * Scoring is the shared quantized-dot kernel; ranking is the
    * two-level salted top-k per SOURCE node (every node is a
    * "query" here, so the per-qid window of the query path would
    * put the whole corpus in one task class — the salt grain is
    * what makes the graph build shuffle-balanced).
    *
    * A node whose every bucket is capped (or solo) emits no edges —
    * the documented recall cut, same contract as d2; the spec
    * replays a sample's bucket signatures to prove every emitted
    * edge really is a bucket collision (candidate honesty), and
    * pins the per-node rank/shape invariants.
    */
  /** Id-only (vec_id, t, b) bucket table over a (vec_id, nv) frame —
    * v2's signature loop and quantization minus the carried vector;
    * shared by [[v16]] and [[v17]].
    */
  private[operators] def lshBucketIds(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val bcPlanes = spark.sparkContext.broadcast(planes.map(_.toArray).toArray)
    e.select($"vec_id", $"nv").as[(Long, Array[Double])]
      .mapPartitions { it =>
        val ps = bcPlanes.value
        it.flatMap { case (id, nv) =>
          (0 until nTables).iterator.map { t =>
            var b = 0
            var bit = 0
            while (bit < bitsPerTable) {
              val p = ps(t * bitsPerTable + bit)
              var dot = 0.0
              var i = 0
              while (i < dim) { dot += nv(i) * p(i); i += 1 }
              if (math.floor(dot * 1e6 + 0.5) >= 0) b |= (1 << bit)
              bit += 1
            }
            (id, t, b)
          }
        }
      }.toDF("vec_id", "t", "b")
  }

  /** The generated eb/buckets oracle CTE pair over a (vec_id, nv)
    * CTE named `src` — one source of the plane literals for
    * v2/v16/v17 (src = m) and v21's corpus-only graph (src = mc).
    */
  private def lshBucketCtes(src: String): String = {
    def planeList(p: Seq[Double]) =
      p.map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")
    val bucketExprs = (0 until nTables).map { t =>
      val bits = (0 until bitsPerTable).map { b =>
        s"(CASE WHEN floor(list_inner_product(nv, ${planeList(planes(t * bitsPerTable + b))}) * 1e6 + 0.5) >= 0 THEN ${1 << b} ELSE 0 END)"
      }.mkString(" + ")
      s"($bits) AS b$t"
    }
    val bucketUnion = (0 until nTables)
      .map(t => s"SELECT vec_id, $t AS t, b$t AS b FROM eb")
      .mkString(" UNION ALL ")
    s"""eb AS (SELECT vec_id, nv, ${bucketExprs.mkString(", ")} FROM $src),
      |buckets AS ($bucketUnion)""".stripMargin
  }

  /** The capped-bucket LSH kNN-graph build over a (vec_id, nrm, nv)
    * frame — v16's whole body, factored so v21's corpus-only graph
    * is literally the same construction: candidate pairs are id-only
    * bucket-mates (≥ 1 of the 8 tables, bucket ≤ [[v16Cap]]),
    * vectors attach by pk equality join only at scoring, ranking is
    * the two-level salted top-[[knnK]] per source node.
    */
  private[operators] def knnGraphEdges(e: DataFrame, degree: Int = knnK): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val buckets = lshBucketIds(e)
    val bounded = buckets
      .join(buckets.groupBy($"t", $"b").agg(count(lit(1)).as("bsz")),
        Seq("t", "b"))
      .filter($"bsz" <= v16Cap)
    val cand = bounded.as("a")
      .join(bounded.as("b"),
        $"a.t" === $"b.t" && $"a.b" === $"b.b" && $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("id_a"), $"b.vec_id".as("id_b"))
      .distinct()
    val scored = cosineOf(cand
      .join(e.select($"vec_id".as("id_a"), $"nv".as("nv_a")), Seq("id_a"))
      .join(e.select($"vec_id".as("id_b"), $"nv".as("nv_b")), Seq("id_b")))
    graft.functions.TwoLevel.topK(
        scored.select($"id_a".as("src_id"), $"id_b".as("nbr_id"), $"cos_sim"),
        Seq($"src_id"), Seq($"cos_sim".desc, $"nbr_id"), $"nbr_id", degree)
  }

  def v16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    knnGraphEdges(vectors(spark, dir))
      .select($"src_id", $"rnk", $"nbr_id", $"cos_sim")
      .transform(graft.Tables.ordered(_, $"src_id", $"rnk"))
  }

  /** v16 oracle: v2's generated plane/bucket CTEs as a SELF-join
    * with the same cap, scoring and (cos DESC, id) total order.
    */
  val v16Sql: String = {
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |${lshBucketCtes("m")},
      |bc AS (SELECT t, b, count(*) AS bsz FROM buckets GROUP BY 1, 2),
      |bb AS (SELECT vec_id, t, b FROM buckets JOIN bc USING (t, b) WHERE bsz <= $v16Cap),
      |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |         FROM bb a JOIN bb b ON a.t = b.t AND a.b = b.b AND a.vec_id <> b.vec_id),
      |scored AS (SELECT c.id_a, c.id_b,
      |             round(list_inner_product(a.nv, b.nv) * 1e6) / 1e6 AS cos_sim
      |           FROM cand c JOIN m a ON a.vec_id = c.id_a JOIN m b ON b.vec_id = c.id_b),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY id_a ORDER BY cos_sim DESC, id_b) AS INTEGER) AS rnk FROM scored)
      |SELECT id_a AS src_id, rnk, id_b AS nbr_id, cos_sim FROM r WHERE rnk <= $knnK
      |ORDER BY src_id, rnk""".stripMargin
  }

  // ---------- v17: semantic-duplicate cluster pruning (SemDeDup) ----------

  /** The sequential-dot self-product expression both engines share
    * (Spark spelling; the oracle uses list_inner_product).
    */
  private val dotVV =
    "aggregate(zip_with(v, v, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)"

  /** v17: SEMANTIC DEDUP as cluster pruning (the SemDeDup recipe —
    * Abbas et al. 2023, arXiv:2303.09540: embed, group semantic
    * duplicates into clusters, keep ONE representative per
    * cluster) — the operator d9 approximates with k-means cells,
    * rebuilt on the exact machinery this round added: v16's capped
    * bucket self-join proposes pairs, the quantized cosine keeps
    * those ≥ 0.9 as SEMANTIC-DUPLICATE edges, d6's stars
    * contraction (ccStars) closes them into clusters, and the
    * min-id member of each cluster is the kept representative —
    * every other member is pruned. The whole composition is the
    * production topology: candidates bucketed (never all-pairs),
    * components over DUP-PAIR nodes only, corpus rows touched once.
    *
    * The fixture seeds ground truth the d17 way: every 25th vector
    * gets a +10⁶-id copy (the offset clears the id range at every
    * testdata scale — a +1000 offset collided with real ids at
    * sf0.1's 2000 vectors and corrupted the corpus, caught by the
    * three-scale oracle run) with its first coordinate shifted by
    * 0.1·‖v‖ — cos(v, v′) ≥ 0.99 by construction, while the
    * corpus's natural pair maximum is ~0.47 (measured) — so
    * exactly the seeded pairs (and their transitive closures)
    * cluster, and the spec can assert every copy is pruned and
    * every source kept. Both engines derive the copies from the
    * same single-IEEE-op expression (sqrt is exact; one multiply,
    * one add), so the oracle is bitwise: bucket literals, cap,
    * cosine quantization, min-label closure (recursive CTE),
    * sizes, and the keep flag.
    *
    * Wall-time attribution (round 12, closing round-11 verdict #8
    * — the 5.2 → 7.4 s isolated growth at sf0.1 adjudicated by a
    * stage-timed profile): the cost is ~4 s scoring the 273,751
    * LSH candidate pairs (the by-design bucket-cap volume — the
    * data-dependent piece, identical plan to v16), ~2 s of FIXED
    * ccStars round latency (converges in ONE round on the 80
    * actual dup edges — pure stage overhead, not data), and
    * normalization/JIT for the rest. Nothing in the v21 refactor
    * touched this path (it uses lshBucketIds directly, not
    * knnGraphEdges); the earlier 5.2 s was the same plan under a
    * luckier JIT/machine draw. At 100 TB the fixed round latency
    * amortizes to noise and the candidate volume stays cap-bounded
    * per bucket.
    */
  /** The clustering core of [[v17]] over an arbitrary (vec_id, v)
    * corpus — factored (round 10) so the spec can drive it with a
    * hand-built TRANSITIVE CHAIN (a–b and b–c over the 0.9 cut but
    * a–c under it) and prove which representative survives chaining.
    */
  private[graft] def v17Clusters(rawCorpus: DataFrame): DataFrame = {
    val spark = rawCorpus.sparkSession
    import spark.implicits._
    val corpus = rawCorpus
      .selectExpr("vec_id", "v", s"sqrt($dotVV) AS nrm")
      .selectExpr("vec_id", "transform(v, x -> x / nrm) AS nv")
      .cache()
    val buckets = lshBucketIds(corpus)
    val bounded = buckets
      .join(buckets.groupBy($"t", $"b").agg(count(lit(1)).as("bsz")),
        Seq("t", "b"))
      .filter($"bsz" <= v16Cap)
    val cand = bounded.as("a")
      .join(bounded.as("b"),
        $"a.t" === $"b.t" && $"a.b" === $"b.b" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("id_a"), $"b.vec_id".as("id_b"))
      .distinct()
    val edges = cosineOf(cand
      .join(corpus.select($"vec_id".as("id_a"), $"nv".as("nv_a")), Seq("id_a"))
      .join(corpus.select($"vec_id".as("id_b"), $"nv".as("nv_b")), Seq("id_b")))
      .filter($"cos_sim" >= 0.9)
      .select($"id_a".as("src"), $"id_b".as("dst"))
    val (labels, _, conv) = graft.operators.Dedup.ccStars(edges, 50)
    require(conv, "v17 ccStars did not converge within 50 rounds")
    val labeled = corpus.select($"vec_id".as("id"))
      .join(labels, Seq("id"), "left_outer")
      .select($"id".as("vec_id"), coalesce($"lbl", $"id").as("cluster"))
    labeled
      .join(labeled.groupBy($"cluster").agg(count(lit(1)).as("csize")),
        Seq("cluster"))
      .selectExpr("vec_id", "cluster", "csize", "vec_id = cluster AS keep")
  }

  def v17(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raw = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    val copies = raw.filter($"vec_id" % 25 === 0)
      .selectExpr("vec_id + 1000000 AS vec_id",
        s"concat(array(element_at(v, 1) + 0.1 * sqrt($dotVV)), slice(v, 2, ${dim - 1})) AS v")
    val base = v17Clusters(raw.unionByName(copies))
    // max cluster size surfaced in-row (round-9 verdict #5): the
    // giant-cluster alarm a SemDeDup run reads before trusting the
    // pruning — chaining concentrates mass on one representative,
    // and this is the number that says how much (d21's audit idiom
    // at the semantic grain). 1-row broadcast; labels/corpus are
    // checkpointed/cached so the second consumer re-reads, not
    // re-clusters.
    base.crossJoin(broadcast(base.agg(max($"csize").as("max_csize"))))
      .transform(graft.Tables.ordered(_, $"vec_id"))
  }

  /** v17 oracle: seeded copies from the same arithmetic, the
    * generated bucket CTEs, capped self-join, quantized-cosine edge
    * cut, min-label recursive closure, sizes and keep flag.
    */
  val v17Sql: String = {
    s"""WITH RECURSIVE raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cp AS (SELECT vec_id + 1000000 AS vec_id,
      |         list_concat([v[1] + 0.1 * sqrt(list_inner_product(v, v))], v[2:$dim]) AS v
      |       FROM raw WHERE vec_id % 25 = 0),
      |corpus AS (SELECT * FROM raw UNION ALL SELECT * FROM cp),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM corpus),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |${lshBucketCtes("m")},
      |bc AS (SELECT t, b, count(*) AS bsz FROM buckets GROUP BY 1, 2),
      |bb AS (SELECT vec_id, t, b FROM buckets JOIN bc USING (t, b) WHERE bsz <= $v16Cap),
      |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |         FROM bb a JOIN bb b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id),
      |ed AS (SELECT id_a AS src, id_b AS dst
      |       FROM cand c JOIN m a ON a.vec_id = c.id_a JOIN m b ON b.vec_id = c.id_b
      |       WHERE round(list_inner_product(a.nv, b.nv) * 1e6) / 1e6 >= 0.9),
      |und AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
      |nodes AS (SELECT vec_id AS id FROM corpus),
      |reach(id, lbl) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.id),
      |comp AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
      |sz AS (SELECT cluster, count(*) AS csize FROM comp GROUP BY cluster),
      |mx AS (SELECT max(csize) AS max_csize FROM sz)
      |SELECT c.id AS vec_id, c.cluster, sz.csize, c.id = c.cluster AS keep, mx.max_csize
      |FROM comp c JOIN sz USING (cluster), mx
      |ORDER BY vec_id""".stripMargin
  }

  // ---------- v18: filtered (metadata-constrained) kNN ----------

  /** v18: FILTERED VECTOR SEARCH — top-k under a metadata predicate
    * (here: candidate label must equal the query's label), the
    * constrained-ANN shape every production vector store serves
    * ("similar documents from the SAME source/language/licence
    * tier"). This is PRE-FILTERING: the predicate prunes the
    * candidate set BEFORE scoring, so top-k is exact within the
    * filtered set — post-filtering (rank first, filter the top-k
    * after) returns < k or misses qualifying neighbors whenever the
    * filter is selective, which is the documented failure mode this
    * operator exists to avoid.
    *
    * Scale shape: queries broadcast WITH their filter values; the
    * corpus streams once through the JIT dot-product loop scoring
    * only label-matching queries (the filter is a per-row equality
    * check against the broadcast side — no join, no shuffle of
    * vectors); per-query top-k is the two-level salted rank. At
    * 100 TB the corpus is PARTITIONED BY the filter column, so the
    * predicate becomes partition pruning at the scan and each
    * query's scoring touches only its label's files — selectivity
    * turns into proportional scan savings, the pre-filtering
    * payoff.
    */
  def v18(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
      .join(Tables.embeddings(spark, dir).select($"vec_id", $"label"), Seq("vec_id"))
    val bc = spark.sparkContext.broadcast(
      e.filter("vec_id < 10").select($"vec_id", $"label", $"nv")
        .as[(Long, Int, Array[Double])].collect().sortBy(_._1))
    val scored = e.filter("vec_id >= 10").select($"vec_id", $"label", $"nv")
      .as[(Long, Int, Array[Double])]
      .mapPartitions(_.flatMap { case (cid, clb, cv) =>
        bc.value.iterator.filter(_._2 == clb).map { case (qid, _, qv) =>
          (qid, cid, clb, cosQ(qv, cv))
        }
      }).toDF("qid", "vec_id", "label", "cos_sim")
    graft.functions.TwoLevel.topK(scored, Seq($"qid"),
        Seq($"cos_sim".desc, $"vec_id"), $"vec_id", knnK)
      .select($"qid", $"rnk", $"vec_id", $"label", $"cos_sim")
      .orderBy($"qid", $"rnk")
  }

  /** v18 oracle: v1's exact ranking with the label-equality
    * predicate inside the pair join.
    */
  val v18Sql: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, label, list_transform(v, x -> x / nrm) AS nv FROM n),
      |s AS (SELECT q.vec_id AS qid, c.vec_id AS vec_id, c.label AS label,
      |        round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 AS cos_sim
      |      FROM m q JOIN m c
      |        ON q.vec_id < 10 AND c.vec_id >= 10 AND c.label = q.label),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk FROM s)
      |SELECT qid, rnk, vec_id, label, cos_sim FROM r WHERE rnk <= $knnK
      |ORDER BY qid, rnk""".stripMargin

  // ---------- v19: IVF tuning sweep (recall vs probe cost) ----------

  private val v19MaxProbe = 4
  private val v19K = 3

  /** v19: the INDEX-TUNING SWEEP — recall@k versus scan cost as a
    * function of nprobe (the dial every IVF deployment turns; the
    * recall/latency trade FAISS documents as THE operating decision
    * for IVF indexes). One run emits the whole curve: for nprobe =
    * 1..[[v19MaxProbe]], the summed exact-overlap of the pruned
    * top-[[v19K]] against the exhaustive top-[[v19K]], the
    * candidate-pair count actually scored, and both as integer
    * MICRO-ratios (truncating division — no float aggregate
    * anywhere): recall_micro rises with nprobe while
    * cand_frac_micro grows linearly, and where the recall curve
    * flattens is the operating point.
    *
    * The sweep is ONE plan, not four runs: candidates carry the
    * MINIMUM nprobe at which their cluster is probed (= the
    * cluster's probe rank), a 4-row probe-level grid expands them
    * (row-local, bounded ×4), and one (nprobe, qid) two-level rank
    * prunes each level's top-k. Assignment and candidate scoring
    * happen ONCE on the distinct pair set; the exhaustive arm is
    * v1's broadcast-codebook scan at k = [[v19K]]. Counts ride
    * 1-row broadcasts (g2's idiom).
    */
  /** The sweep's internals (lev = per-level candidate pairs, approx
    * = per-level pruned top-k) — exposed so the spec can pin
    * approx@nprobe=2 == v3's independently-oracled result.
    */
  private[graft] def v19Parts(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val cents = e.filter($"vec_id" >= 10 && $"vec_id" < 18)
      .select($"vec_id".as("id_a"), $"nv".as("nv_a"), lit(1).as("one"))
    val corpus = e.filter($"vec_id" >= 18)
      .select($"vec_id".as("id_b"), $"nv".as("nv_b"), lit(1).as("one"))
    val wAssign = Window.partitionBy($"id_b").orderBy($"cos_sim".desc, $"id_a")
    val assigned = cosineOf(corpus.join(broadcast(cents), Seq("one")))
      .withColumn("arnk", row_number().over(wAssign))
      .filter($"arnk" === 1)
      .select($"id_b".as("vec_id"), $"id_a".as("cid"))
    val queries = e.filter($"vec_id" < 10)
      .select($"vec_id".as("id_b"), $"nv".as("nv_b"), lit(1).as("one"))
    val wProbe = Window.partitionBy($"id_b").orderBy($"cos_sim".desc, $"id_a")
    val probes = cosineOf(queries.join(broadcast(cents), Seq("one")))
      .withColumn("prnk", row_number().over(wProbe))
      .filter($"prnk" <= v19MaxProbe)
      .select($"id_b".as("qid"), $"id_a".as("cid"), $"prnk")
    // distinct candidate pairs scored ONCE, tagged with the minimum
    // probe level that reaches them
    val scored = cosineOf(
      probes.join(assigned, Seq("cid"))
        .select($"qid", $"prnk", $"vec_id")
        .join(e.select($"vec_id".as("qid"), $"nv".as("nv_a")), Seq("qid"))
        .join(e.select($"vec_id", $"nv".as("nv_b")), Seq("vec_id"))
        .select($"qid".as("id_a"), $"vec_id".as("id_b"), $"nv_a", $"nv_b", $"prnk")
        .withColumnRenamed("prnk", "minp"))
      .join(probes.join(assigned, Seq("cid"))
          .select($"qid".as("id_a"), $"vec_id".as("id_b"), $"prnk".as("minp")),
        Seq("id_a", "id_b"))
    // expand by probe level (row-local, bounded x4) and rank per level
    val grid = spark.range(1, v19MaxProbe + 1).toDF("nprobe")
    val lev = scored.join(broadcast(grid), $"minp" <= $"nprobe")
      .select($"nprobe", $"id_a".as("qid"), $"id_b".as("vec_id"), $"cos_sim")
    val approx = graft.functions.TwoLevel.topK(lev, Seq($"nprobe", $"qid"),
      Seq($"cos_sim".desc, $"vec_id"), $"vec_id", v19K)
    (lev, approx)
  }

  def v19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val (lev, approx) = v19Parts(spark, dir)
    val exact = graft.functions.TwoLevel.topK(
      denseScored(spark, dir, "vec_id < 10", "vec_id >= 18"),
      Seq($"qid"), Seq($"cos_sim".desc, $"vec_id"), $"vec_id", v19K)
      .select($"qid", $"vec_id", lit(1).as("hit"))
    val nq = e.filter($"vec_id" < 10).agg(count(lit(1)).as("nq"))
    val nc = e.filter($"vec_id" >= 18).agg(count(lit(1)).as("ncorp"))
    val perLevel = lev.groupBy($"nprobe").agg(count(lit(1)).as("n_cand"))
    approx.join(exact, Seq("qid", "vec_id"), "left_outer")
      .groupBy($"nprobe").agg(sum(coalesce($"hit", lit(0))).as("sum_overlap"))
      .join(perLevel, Seq("nprobe"))
      .crossJoin(broadcast(nq)).crossJoin(broadcast(nc))
      .selectExpr("nprobe", "CAST(sum_overlap AS BIGINT) AS sum_overlap",
        s"(CAST(sum_overlap AS BIGINT) * 1000000) div (nq * $v19K) AS recall_micro",
        "n_cand",
        "(n_cand * 1000000) div (nq * ncorp) AS cand_frac_micro")
      .transform(graft.Tables.ordered(_, $"nprobe"))
  }

  /** v19 oracle: assignment + probe ranks + the minp expansion over
    * an unnested probe grid, per-level ranking, exhaustive top-k and
    * the integer micro-ratios — v3Sql's CTE conventions throughout.
    */
  val v19Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |cents AS (SELECT vec_id AS cid, nv AS cnv FROM m WHERE vec_id >= 10 AND vec_id < 18),
      |corpus AS (SELECT vec_id, nv FROM m WHERE vec_id >= 18),
      |asg AS (SELECT c.vec_id, ct.cid,
      |          round(list_inner_product(ct.cnv, c.nv) * 1e6) / 1e6 AS cs
      |        FROM corpus c CROSS JOIN cents ct),
      |assigned AS (SELECT vec_id, cid FROM
      |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn FROM asg)
      |  WHERE rn = 1),
      |qs AS (SELECT vec_id AS qid, nv AS qnv FROM m WHERE vec_id < 10),
      |ps AS (SELECT q.qid, ct.cid,
      |         round(list_inner_product(ct.cnv, q.qnv) * 1e6) / 1e6 AS cs
      |       FROM qs q CROSS JOIN cents ct),
      |probes AS (SELECT qid, cid, rn AS prnk FROM
      |  (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS rn FROM ps)
      |  WHERE rn <= $v19MaxProbe),
      |scored AS (SELECT p.qid, a.vec_id, p.prnk AS minp,
      |             round(list_inner_product(q.nv, v.nv) * 1e6) / 1e6 AS cos_sim
      |           FROM probes p JOIN assigned a USING (cid)
      |           JOIN m q ON q.vec_id = p.qid JOIN m v ON v.vec_id = a.vec_id),
      |grid AS (SELECT unnest(range(1, ${v19MaxProbe + 1})) AS nprobe),
      |lev AS (SELECT g.nprobe, s.qid, s.vec_id, s.cos_sim
      |        FROM scored s JOIN grid g ON s.minp <= g.nprobe),
      |ar AS (SELECT *, row_number() OVER (PARTITION BY nprobe, qid ORDER BY cos_sim DESC, vec_id) AS rnk
      |       FROM lev),
      |approx AS (SELECT nprobe, qid, vec_id FROM ar WHERE rnk <= $v19K),
      |es AS (SELECT q.vec_id AS qid, c.vec_id AS vec_id,
      |         round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 AS cos_sim
      |       FROM m q JOIN m c ON q.vec_id < 10 AND c.vec_id >= 18),
      |er AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk FROM es),
      |exact AS (SELECT qid, vec_id FROM er WHERE rnk <= $v19K),
      |nqc AS (SELECT count(*) AS nq FROM qs),
      |ncc AS (SELECT count(*) AS ncorp FROM corpus),
      |pl AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_cand FROM lev GROUP BY nprobe),
      |ov AS (SELECT a.nprobe,
      |         CAST(sum(CASE WHEN x.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS sum_overlap
      |       FROM approx a LEFT JOIN exact x ON x.qid = a.qid AND x.vec_id = a.vec_id
      |       GROUP BY a.nprobe)
      |SELECT CAST(ov.nprobe AS BIGINT) AS nprobe, ov.sum_overlap,
      |  (ov.sum_overlap * 1000000) // (nqc.nq * $v19K) AS recall_micro,
      |  pl.n_cand,
      |  (pl.n_cand * 1000000) // (nqc.nq * ncc.ncorp) AS cand_frac_micro
      |FROM ov JOIN pl ON pl.nprobe = ov.nprobe
      |CROSS JOIN nqc CROSS JOIN ncc
      |ORDER BY nprobe""".stripMargin

  // ---------- v20: maximum inner-product search (MIPS) ----------

  /** v20: MAXIMUM INNER-PRODUCT SEARCH — the retrieval mode where
    * vector NORM carries signal (recommender scores, learned
    * rerankers, popularity-weighted retrieval), so cosine is the
    * WRONG metric: top-k by raw q·x. The corpus gets a seeded
    * deterministic norm profile (w = (10 + vec_id % 5)/10 — the
    * testdata ships unit-normalized, and a fixture norm spread is
    * the d2 seeding discipline: it makes MIPS provably diverge from
    * cosine, which the spec asserts), queries stay unit. Scoring is
    * v1's broadcast-codebook kernel over the RAW weighted vectors —
    * same sequential quantized dot ([[cosQ]] is metric-agnostic),
    * same two-level bounded rank.
    *
    * The 100 TB path is the norm-augmentation reduction (Bachrach
    * et al. 2014, RecSys; Neyshabur & Srebro 2015): x* =
    * [x; √(M²−|x|²)]/M with M = max corpus norm has unit norm and
    * cos(q*, x*) = (q·x)/(|q|M) — ORDER-EQUAL to inner product, so
    * every cosine ANN structure in this family (v2 LSH, v4 IVF, v9
    * IVF-PQ) serves MIPS after one narrow augmentation pass; the
    * spec proves the rank equality on this corpus. The gate ranks
    * by the exact quantized inner product (the implementation-
    * independent semantics); the oracle mirrors it directly.
    */
  def v20(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(x AS DOUBLE) " +
          "* (CAST(10 + vec_id % 5 AS DOUBLE) / 10.0)) AS v")
    val bc = spark.sparkContext.broadcast(
      Tables.embeddings(spark, dir)
        .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
        .filter("vec_id < 10")
        .as[(Long, Array[Double])].collect().sortBy(_._1))
    val scored = e.filter("vec_id >= 10").as[(Long, Array[Double])]
      .mapPartitions(_.flatMap { case (cid, cv) =>
        bc.value.iterator.map { case (qid, qv) => (qid, cid, cosQ(qv, cv)) }
      }).toDF("qid", "vec_id", "ip")
    graft.functions.TwoLevel.topK(scored, Seq($"qid"),
        Seq($"ip".desc, $"vec_id"), $"vec_id", knnK)
      .select($"qid", $"rnk", $"vec_id", $"ip")
      .orderBy($"qid", $"rnk")
  }

  /** v20 oracle: raw inner product over the same weighted corpus,
    * unit queries, identical quantization and rank.
    */
  val v20Sql: String =
    s"""WITH e AS (SELECT vec_id,
      |         list_transform(CAST(embedding AS DOUBLE[]),
      |           x -> x * (CAST(10 + vec_id % 5 AS DOUBLE) / 10.0)) AS v
      |       FROM embeddings),
      |q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |      WHERE vec_id < 10),
      |s AS (SELECT q.vec_id AS qid, c.vec_id AS vec_id,
      |        round(list_inner_product(q.v, c.v) * 1e6) / 1e6 AS ip
      |      FROM q JOIN e c ON c.vec_id >= 10),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY ip DESC, vec_id) AS rnk FROM s)
      |SELECT qid, rnk, vec_id, ip FROM r WHERE rnk <= $knnK
      |ORDER BY qid, rnk""".stripMargin

  // ---------- v21: graph-ANN beam search over the kNN graph ----------

  private[operators] val v21Degree = 16 // serving-graph out-degree (HNSW's M)
  private[operators] val v21Cents = 8 // coarse centroids (entry-index cells)
  private[operators] val v21Probes = 2 // coarse clusters probed per query
  private[operators] val v21Reps = 8 // entry nodes per probed cluster
  private[operators] val v21Beam = 8
  private[operators] val v21Hops = 6

  /** v21: GRAPH-TRAVERSAL ANN — greedy beam search over the kNN
    * graph, the serving-side half of the dominant modern ANN family
    * (NSW/HNSW: Malkov & Yashunin 2018, arXiv:1603.09320 — search a
    * proximity graph by repeatedly expanding the closest known
    * nodes). v16 BUILDS the graph (capped-bucket LSH candidates,
    * top-[[knnK]] neighbors per node — here over the corpus side
    * only, traversed UNDIRECTED per HNSW's bidirectional-link
    * rule); v21 SERVES queries over it with IVF-SEEDED entry
    * points (round 11 — the fix for fixed-seed recall decay): every
    * graph node is assigned to its nearest coarse centroid (v3's
    * deterministic 8-vector codebook, a broadcast narrow map), each
    * cluster keeps its [[v21Reps]] members nearest the centroid as
    * entry representatives, and each query seeds at the
    * representatives of its [[v21Probes]] nearest clusters — so the
    * search starts IN the query's region of space instead of at a
    * corpus-position-correlated corner, the role HNSW's upper
    * layers / FAISS's coarse quantizer play. Then [[v21Hops]]
    * synchronous bounded hops of BEST-FIRST search — frontier =
    * per-query top-[[v21Beam]] of the not-yet-expanded visited set
    * by quantized cosine, expansion = frontier ⋈ graph EQUALITY
    * join on node id, new candidates = anti-join against visited —
    * and return the per-query top-[[knnK]] of everything visited,
    * each hit flagged `in_exact` against the brute-force ground
    * truth (v11's recall idiom carried in-row: avg(in_exact) IS
    * recall@k).
    *
    * Round-11 recall engineering, measured at the fixed 16-seed /
    * beam-8 / 6-hop budget: the round-10 build (fixed lowest-id
    * seeds, degree-[[knnK]] graph) decayed 0.82 / 0.64 / 0.38
    * across sf0.001/0.01/0.1. Swapping IVF seeds alone did NOT
    * recover it (0.38 at sf0.1 with 8 cells; 0.34 with 64 — on
    * this near-random corpus Voronoi cells of a few centroids
    * carry little neighbor locality), which localizes the decay in
    * GRAPH NAVIGABILITY, not entry distance: a degree-5 kNN graph
    * over random high-dim vectors strands the beam in local
    * optima. The published knob for exactly this is the graph
    * degree (HNSW's M, typically 16-48): at [[v21Degree]] = 16 the
    * same budget measures recall@5 = 0.98 / 1.00 / 0.74 — scale-
    * STABLE (sf0.1 now above the old sf0.01 level), with the IVF
    * entry keeping hop-0 inside the query's cell. Degree sweep at
    * sf0.1, 6 hops: 5→0.38, 8→0.58, 12→0.64, 16→0.74, 24→0.90.
    *
    * Round-12 closed the residual decay (0.74 at sf0.1) with a
    * LOG-N BEAM SCHEDULE — beam = max([[v21Beam]], 2·⌈log2 n⌉),
    * HNSW's efSearch discipline: among the two remaining published
    * dials, growing the SEARCH budget beats growing the graph
    * degree at 100 TB because degree multiplies the index's size
    * and build cost (O(M·n) edges) while beam costs only at query
    * time and only O(log n). Measured at sf0.1 (graft.Probe):
    * beam 12→0.86, 16→0.94, 22 (the schedule's value)→0.98 at the
    * fixed degree-16 graph — vs deg 22→0.84, 24→0.90 at beam 8
    * for MORE index. Scheduled recall@5 across sf0.001/0.01/0.1:
    * 1.00 / 1.00 / 0.98 (beam 18/18/22), isolated sf0.1 wall
    * ~7.9 s (was 7.4 s). ⌈log2 n⌉ is computed as the INTEGER
    * bit-length of n−1 on both engines (no IEEE log — the beamc
    * CTE counts set-bit positions with shifts), so the budget is
    * bitwise cross-engine at every n.
    *
    * Determinism: scoring is the shared 1e-6-quantized sequential
    * dot kernel ([[cosQ]] ≡ the oracle's list_inner_product + round,
    * arg order matched per site: centroid-first for assignment,
    * query-first for probes and hop scores); node→centroid and
    * query→cluster ranks tie-break (score DESC, cid/node ASC); hops
    * are fixed-count. The oracle builds the SAME entry index (nass/
    * reps/probes/seeds CTEs) and unrolls the hops as explicit CTEs
    * (f/c/s/v per hop, visited MATERIALIZED — §8.38) over the same
    * generated plane literals.
    *
    * Scale shape: the graph is the ONLY corpus-sized table and it
    * moves once into the build's equality joins; the IVF entry
    * index adds ONE build-time narrow assignment pass (centroids
    * broadcast) and a per-cluster top-[[v21Reps]] via the salted
    * two-level rank (8 clusters would otherwise funnel the corpus
    * through 8 window tasks); the per-query probe runs over two
    * bounded driver-side codebooks (queries × 8 centroids). Per hop
    * the frontier is ≤ queries × beam id-only rows (a broadcast
    * side), expansion is an equality join on node id, and candidate
    * vectors attach by pk lookup — ≤ queries × beam × degree rows
    * per hop, so the visited set is capped at probes × reps + hops
    * × beam × degree per query BY CONSTRUCTION (no data-dependent
    * growth). Vectors never ride a shuffle. localCheckpoint per hop
    * cuts the tripled-lineage blow-up (§8.19), exactly g9's
    * synchronous-relaxation discipline. At 10⁹ nodes the same plan
    * serves any query batch: per-query work is O(seeds +
    * hops·beam·degree) score evaluations regardless of corpus size
    * — and with IVF-seeded entries the RECALL at that fixed budget
    * no longer degrades as the corpus grows, because the seeds
    * track the query's cluster rather than a fixed id corner.
    */
  /** The shared search engine of [[v21]]/[[v22]]: graph build, seed
    * scoring and the best-first hop loop. Returns every hop's
    * visited state (v22 profiles the whole anytime curve; v21 reads
    * only the last) plus the brute-force ground-truth hits.
    * `keepAll` retains intermediate checkpoints instead of freeing
    * them (required when every state is still a consumer).
    */
  /** The distributed BUILD of v21's serving index, shared verbatim
    * by the batch search and the streaming door's index load:
    * undirected degree-[[v21Degree]] kNN graph (HNSW's
    * bidirectional-link rule), the node→coarse-cell assignment
    * (broadcast centroid codebook, centroid-first arg order ==
    * oracle), and each cell's [[v21Reps]] nearest-to-centroid
    * entry representatives via the salted two-level rank (8 cells
    * must not funnel the corpus through 8 window tasks). Honors
    * the `graft.v21.*` tuning confs ([[graft.Probe]]).
    */
  private[graft] def v21Index(spark: SparkSession, e: DataFrame,
      corpusPred: String = "vec_id >= 10")
      : (DataFrame, DataFrame, Array[(Long, Array[Double])]) = {
    import spark.implicits._
    indexBuilds.incrementAndGet()
    val deg = spark.conf.getOption("graft.v21.degree").map(_.toInt)
      .getOrElse(v21Degree)
    val knn = knnGraphEdges(e.filter(corpusPred), deg)
      .select($"src_id", $"nbr_id")
    val graph = knn
      .unionByName(knn.select($"nbr_id".as("src_id"), $"src_id".as("nbr_id")))
      .distinct().cache()
    val nCents = spark.conf.getOption("graft.v21.ncents").map(_.toInt)
      .getOrElse(v21Cents)
    val nReps = spark.conf.getOption("graft.v21.reps").map(_.toInt)
      .getOrElse(v21Reps)
    val cents = codebook(e,
      s"($corpusPred) AND vec_id < ${10 + nCents}")
    val cCb = spark.sparkContext.broadcast(cents)
    val nodeCent = graph.select($"src_id".as("node")).distinct()
      .join(e.select($"vec_id".as("node"), $"nv"), Seq("node"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = cCb.value
        it.map { case (node, nv) =>
          var bestCid = Long.MaxValue
          var bestS = Double.NegativeInfinity
          cs.foreach { case (cid, cv) =>
            val s = cosQ(cv, nv) // centroid-first arg order == oracle
            if (s > bestS || (s == bestS && cid < bestCid)) {
              bestS = s; bestCid = cid
            }
          }
          (node, bestCid, bestS)
        }
      }.toDF("node", "cid", "cs")
    val reps = graft.functions.TwoLevel.topK(nodeCent, Seq($"cid"),
        Seq($"cs".desc, $"node"), $"node", nReps)
      .select($"cid", $"node")
    (graph, reps, cents)
  }

  /** Per-query cell probe over the two bounded codebooks
    * (query-first arg order == oracle). Pure — runs on the driver
    * or inside the streaming door's executors alike. */
  private[graft] def v21Probe(qv: Array[Double],
      cents: Array[(Long, Array[Double])], nProbes: Int): Seq[Long] =
    cents.map { case (cid, cv) => (cid, cosQ(qv, cv)) }
      .sortBy { case (cid, s) => (-s, cid) }
      .take(nProbes).map(_._1).toSeq

  /** The PARTITIONED serving index — the bounded-load form of the
    * trained index: corpus vectors, the navigable graph and the
    * per-cell entry representatives stay DataFrames (partitioned on
    * executors, cached, NEVER collected); the only driver-resident
    * piece is the ≤ [[v21Cents]]-entry coarse codebook. This is what
    * the streaming door (s35) loads — at 100 TB the index side of
    * every serve join stays distributed, where a collected-map index
    * would OOM the driver before the first micro-batch.
    */
  private[graft] case class V21Static(e: DataFrame, graph: DataFrame,
      reps: DataFrame, cents: Array[(Long, Array[Double])]) {
    /** Corpus count for the log-n beam schedule, memoized PER INDEX
      * INSTANCE: the schedule is a pure function of the index's
      * corpus, so a door serving many micro-batches over one static
      * index (s35) or a lifecycle op searching the same index twice
      * pays the count job once, not once per search call. A grown
      * index is a NEW V21Static (the doors rebuild the case class on
      * growth), so the count re-derives exactly when the corpus can
      * have changed. */
    lazy val beamCorpusN: Long =
      math.max(1L, e.filter("vec_id >= 10").count())
  }

  private[graft] def v21Static(spark: SparkSession, dir: String): V21Static = {
    val e = vectors(spark, dir)
    val (graph, reps, cents) = v21Index(spark, e)
    // reps is (cells × v21Reps) rows — persist so per-micro-batch
    // serve joins reuse it instead of re-ranking nodeCent each batch
    V21Static(e, graph, reps.persist(), cents)
  }

  private[graft] def v21Search(spark: SparkSession, dir: String,
      keepAll: Boolean = false): (Seq[DataFrame], DataFrame) = {
    import spark.implicits._
    val ix = v21Static(spark, dir)
    // ≤ 10-query codebook broadcast (the bounded boundary all v-ops share)
    val qsArr = codebook(ix.e, "vec_id < 10")
    val states = v21SearchOn(ix, qsArr, keepAll)
    val brute = topK(denseScored(spark, dir, "vec_id < 10", "vec_id >= 10"),
        "cos_sim", knnK)
      .select($"qid", $"vec_id", lit(1L).as("hit"))
    (states, brute)
  }

  /** The best-first hop loop over the PARTITIONED index for an
    * arbitrary query set — factored from [[v21Search]] so the batch
    * query (all 10 corpus queries at once) and the streaming door's
    * per-micro-batch serve run the IDENTICAL code: same IVF probe,
    * same `exp` discipline, same quantized scores and
    * (score DESC, node) tie-breaks. Only the query set (bounded —
    * micro-batch-sized at the door) is broadcast; graph hops and
    * vector scoring are id-equality joins against the partitioned
    * index.
    */
  private[graft] def v21SearchOn(ix: V21Static,
      qsArr: Array[(Long, Array[Double])], keepAll: Boolean = false,
      localMax: Long = Bounded.largeBudget): Seq[DataFrame] = {
    val spark = ix.e.sparkSession
    import spark.implicits._
    val e = ix.e
    // traverse UNDIRECTED (kNN edges + their reverses, deduped) —
    // HNSW's bidirectional-link rule: a node many others point at
    // becomes reachable THROUGH them, where the directed kNN graph
    // only lets it point outward. IVF-seeded entry points: assign
    // every graph node to its nearest coarse centroid (v3's
    // deterministic codebook — the first 8 corpus vectors), keep
    // each cluster's v21Reps members nearest the centroid as entry
    // representatives, and seed each query at its v21Probes nearest
    // clusters' representatives.
    val (graph, reps, cents) = (ix.graph, ix.reps, ix.cents)
    val qCb = spark.sparkContext.broadcast(qsArr.toMap)
    // `nodes` is always a BOUNDED side (≤ queries·beam·degree rows
    // per hop) — broadcast it so the corpus-sized vector table NEVER
    // shuffles inside the hop loop (round 13: this was a per-hop
    // exchange of `e`; at 100 TB the bounded-side broadcast is the
    // only shape that survives, and at bench scale it removes ~2
    // exchanges per hop)
    def score(nodes: DataFrame): DataFrame =
      broadcast(nodes).join(e.select($"vec_id".as("node"), $"nv"), Seq("node"))
        .select($"qid", $"node", $"nv")
        .as[(Long, Long, Array[Double])]
        .mapPartitions { it =>
          val qs = qCb.value
          it.map { case (qid, node, nv) => (qid, node, cosQ(qs(qid), nv)) }
        }.toDF("qid", "node", "score")
    val nProbes = spark.conf.getOption("graft.v21.probes").map(_.toInt)
      .getOrElse(v21Probes)
    val probes = qsArr.toSeq.flatMap { case (qid, qv) =>
      v21Probe(qv, cents, nProbes).map(cid => (qid, cid))
    }.toDF("qid", "cid")
    val seeds = broadcast(probes).join(reps, Seq("cid"))
      .select($"qid", $"node")
    // best-first discipline: `exp` marks nodes already expanded, so
    // every hop's frontier is the top-beam of the UNEXPANDED visited
    // set — without the flag the same best nodes re-expand each hop
    // and the search stalls once their neighborhoods are absorbed
    // (measured at 4 hops: recall@5 0.34 → 0.46 at sf0.01,
    // 0.08 → 0.22 at sf0.1, identical cost)
    // PlanSpec hooks (t9's conf idiom): hop count override + a
    // checkpoint kill-switch so the plan pin can inspect one whole
    // unfragmented hop (lineage cuts hide the hop joins from explain)
    val hops = spark.conf.getOption("graft.v21.hops").map(_.toInt)
      .getOrElse(v21Hops)
    // log-n BEAM SCHEDULE (round 12 — kills the residual recall
    // decay at the top scale): beam = max(v21Beam, 2·⌈log2 n⌉),
    // HNSW's efSearch discipline — the graph degree (index size,
    // the expensive dial at 100 TB) stays FIXED at M = 16 while the
    // per-query serving budget grows O(log n) with the corpus.
    // Computed in exact INTEGER bit-length arithmetic (no IEEE log)
    // so both engines agree at every n: bits(n−1) = ⌈log2 n⌉.
    // Measured recall@5 at the scheduled budget:
    // 1.00 / 1.00 / 0.98 across sf0.001/0.01/0.1 (beam 18/18/22)
    // vs 0.98 / 1.00 / 0.74 at the fixed beam-8 budget — and the
    // sf0.1 isolated wall-time stays ~7.9 s (was 7.4 s).
    val beam = spark.conf.getOption("graft.v21.beam").map(_.toInt)
      .getOrElse {
        val n = ix.beamCorpusN // memoized per index instance
        math.max(v21Beam,
          2 * (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))))
      }
    val ckpt = spark.conf.getOption("graft.v21.checkpoint").forall(_.toBoolean)
    def cut(df: DataFrame): DataFrame = if (ckpt) df.localCheckpoint() else df
    // AQE OFF for the hop loop's actions (round 19, measured via the
    // OptProbe job histogram: ~77% of a lifecycle query's jobs were
    // AQE query-stage sub-jobs, ~13 per hop checkpoint). Every frame
    // the loop exchanges is BOUNDED by the operator's own scale
    // argument (≤ queries·beam·degree rows per hop at ANY corpus
    // size; the corpus sides ride map-side under explicit broadcast
    // hints and never shuffle), so adaptive re-planning has nothing
    // to adapt — it only pays one scheduling round-trip per
    // Exchange. The toggle is scoped to the loop and restored
    // (session-level conf: the callers run searches sequentially,
    // never inside Par). Downstream consumers of the returned
    // checkpointed states plan under the session's normal AQE.
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqePrev = spark.conf.getOption(aqeKey)
    // DRIVER-LOCAL bounded hop loop (round 19 — the bounded-local
    // discipline of ccStarsLocal/louvainRoundsLocal applied to the
    // serving kernel): every frame the loop BOOKKEEPS is bounded by
    // the search's own scale argument (≤ queries·beam·degree rows
    // per hop at ANY corpus size — the doc above), so the frontier/
    // visited state lives on the driver and each hop pays exactly
    // TWO single-stage jobs — a candidate-id fetch against the
    // cached graph and the same `score` pass over a LocalRelation
    // (broadcasting driver-local rows launches NO job) — instead of
    // ~4 broadcast-exchange jobs + a checkpoint job. The corpus-
    // sized sides (graph, vectors) still never move: they are
    // scanned exactly as the distributed loop scans them, by the
    // same joins, and the scores come from the same `score` helper
    // (same cosQ, executed on executors). Gate: every collect goes
    // through [[Bounded.collect]] with `localMax` (raw candidate pairs
    // per hop are bounded by queries·beam·degree, so it only trips on
    // a pathological hub after symmetrization); over the gate the
    // search RESTARTS on the distributed loop below (side-effect-free
    // and deterministic, so the restart is just the rare-case cost).
    // A negative `localMax` forces the distributed path; checkpoint=
    // false (plan-inspection mode) also keeps it.
    def searchLocal(): Option[Seq[DataFrame]] = {
      def capped(df: DataFrame): Option[Array[(Long, Long)]] =
        Bounded.collect(df.select($"qid", $"node").as[(Long, Long)], localMax)
      def scoreIds(ids: Array[(Long, Long)]): Array[(Long, Long, Double)] =
        if (ids.isEmpty) Array.empty
        else score(ids.toSeq.toDF("qid", "node"))
          .as[(Long, Long, Double)].collect()
      // Spark SQL's double ordering, exactly: NaN greatest and
      // self-equal, -0.0 == 0.0; ties fall to node ASC like the
      // distributed window's (score DESC, node)
      val ord = new Ordering[(Long, Long, Double)] {
        def compare(a: (Long, Long, Double), b: (Long, Long, Double)): Int = {
          val c = if (a._3 == b._3) 0 else java.lang.Double.compare(b._3, a._3)
          if (c != 0) c else java.lang.Long.compare(a._2, b._2)
        }
      }
      capped(broadcast(probes).join(reps, Seq("cid"))
          .select($"qid", $"node")).map(scoreIds).flatMap { seed0 =>
        // (qid,node) is unique by construction (a node belongs to ONE
        // cell, cand anti-joins visited) — insertion order preserved
        // so snapshots enumerate rows in arrival order like the
        // distributed union chain
        val visited = new scala.collection.mutable.LinkedHashMap[
          (Long, Long), (Double, Int)]()
        seed0.foreach { case (q, n, s) => visited.put((q, n), (s, 0)) }
        def snapshot(): DataFrame = visited.iterator
          .map { case ((q, n), (s, x)) => (q, n, s, x) }.toSeq
          .toDF("qid", "node", "score", "exp")
        val states = scala.collection.mutable.ArrayBuffer(snapshot())
        var hop = 0
        var over = false
        while (!over && hop < hops) {
          val frontier = visited.iterator
            .collect { case ((q, n), (s, 0)) => (q, n, s) }.toArray
            .groupBy(_._1).iterator
            .flatMap { case (_, rs) => rs.sorted(ord).take(beam) }
            .map(t => (t._1, t._2)).toArray
          frontier.foreach { k =>
            val (s, _) = visited(k); visited.put(k, (s, 1))
          }
          val rawCand =
            if (frontier.isEmpty) Some(Array.empty[(Long, Long)])
            else {
              val fDF = frontier.toSeq.toDF("qid", "node")
              capped(broadcast(fDF)
                .join(graph, fDF("node") === graph("src_id"))
                .select(fDF("qid"), $"nbr_id".as("node")))
            }
          rawCand match {
            case None => over = true // over-gate: distributed restart
            case Some(raw) =>
              // distinct + anti-join visited, driver-side (exact
              // long-equality set semantics, same as the plan's)
              val fresh = raw.distinct.filter(k => !visited.contains(k))
              scoreIds(fresh).foreach { case (q, n, s) =>
                visited.put((q, n), (s, 0))
              }
              states += snapshot()
          }
          hop += 1
        }
        if (over) None else Some(states.toSeq)
      }
    }
    spark.conf.set(aqeKey, "false")
    try {
      if (ckpt) searchLocal() match {
        case Some(states) => return states
        case None => () // over-gate: fall through to the distributed loop
      }
      // seeds is ≤ queries × probes × reps rows — a broadcast side
      var visited = cut(score(broadcast(seeds))
        .withColumn("exp", lit(0)))
      val states = scala.collection.mutable.ArrayBuffer(visited)
      var hop = 0
      while (hop < hops) {
        val wq = Window.partitionBy($"qid").orderBy($"score".desc, $"node")
        val frontier = visited.filter($"exp" === 0)
          .withColumn("rn", row_number().over(wq))
          .filter($"rn" <= beam).select($"qid", $"node")
        // the frontier is BOUNDED (≤ queries·beam rows) — broadcast
        // it into both consumers so neither the visited state nor the
        // corpus-sized GRAPH ever shuffles inside the loop (round 13;
        // the graph previously paid a per-hop src_id exchange)
        val marked = visited.join(
            broadcast(frontier.select($"qid", $"node", lit(1).as("hit_f"))),
            Seq("qid", "node"), "left")
          .selectExpr("qid", "node", "score",
            "CASE WHEN hit_f IS NOT NULL THEN 1 ELSE exp END AS exp")
        // the visited side of the anti-join is bounded too — hinted
        // explicitly since round 19: without AQE the planner sees a
        // checkpointed leaf's default (huge) stats and would pick a
        // sort-merge join for a ≤ queries·(seeds + hops·beam·degree)
        // row frame
        val cand = broadcast(frontier)
          .join(graph, frontier("node") === graph("src_id"))
          .select($"qid", $"nbr_id".as("node")).distinct()
          .join(broadcast(visited.select($"qid", $"node")),
            Seq("qid", "node"), "left_anti")
        // checkpoint EVERY hop. A round-13 experiment cut only every
        // 2nd hop ("fuse the cadence") and MEASURED 40% SLOWER
        // (v21 6.4→9.2 s, v26 25→37 s at sf0.1): the uncheckpointed
        // hop state is referenced THREE times by the next hop
        // (frontier, marked, anti-join) and Spark re-executes an
        // unmaterialized subplan per reference — lineage cuts are
        // also the reuse points. Kept per-hop; the latency lever that
        // actually worked is the bounded-side broadcasts above.
        val next = cut(marked
          .unionByName(score(cand).withColumn("exp", lit(0))))
        if (ckpt && !keepAll) graft.functions.Lineage.freeCheckpoint(visited)
        visited = next
        states += next
        hop += 1
      }
      states.toSeq
    } finally {
      aqePrev match {
        case Some(v) => spark.conf.set(aqeKey, v)
        case None => spark.conf.unset(aqeKey)
      }
    }
  }

  def v21(spark: SparkSession, dir: String): DataFrame = {
    val ix = v21Static(spark, dir)
    v21ServeBatch(ix, codebook(ix.e, "vec_id < 10"))
      .transform(graft.Tables.ordered(_, col("qid"), col("rnk")))
  }

  /** Serve a QUERY BATCH against the partitioned index — batch v21's
    * exact tail (same beam top-k, same brute ground-truth flag) on an
    * arbitrary query set. This is the streaming door's (s35) per-
    * micro-batch unit: the only broadcast/driver-resident data is the
    * query batch itself plus the ≤ [[v21Cents]]-entry codebook; the
    * graph, the entry reps and every corpus vector stay partitioned.
    * (The brute `in_exact` arm scans the corpus once per batch — the
    * evaluation-only exception, exactly batch v21's; a production
    * door drops the flag and with it the scan.)
    */
  private[graft] def v21ServeBatch(ix: V21Static,
      qs: Array[(Long, Array[Double])]): DataFrame = {
    val spark = ix.e.sparkSession
    import spark.implicits._
    val states = v21SearchOn(ix, qs)
    val beamTop = states.last.withColumn("rnk", row_number().over(
        Window.partitionBy($"qid").orderBy($"score".desc, $"node")))
      .filter($"rnk" <= knnK)
      .select($"qid", $"rnk", $"node".as("vec_id"), $"score".as("cos_sim"))
    val brute = topK(denseScoredFor(ix.e, qs, "vec_id >= 10"), "cos_sim", knnK)
      .select($"qid", $"vec_id", lit(1L).as("hit"))
    beamTop.join(brute, Seq("qid", "vec_id"), "left")
      .selectExpr("qid", "rnk", "vec_id", "cos_sim",
        "coalesce(hit, CAST(0 AS BIGINT)) AS in_exact")
  }

  /** v21 oracle: the corpus-only graph from the generated plane
    * CTEs, then the three hops unrolled (frontier / candidates /
    * scores / visited per hop), brute-force ground truth, and the
    * in_exact flag — bitwise.
    */
  /** The generated CTE chain shared by the v21/v22/v27/v28 oracles:
    * normalization, corpus-only graph, seeds, the unrolled best-first
    * hops (v0..v[[v21Hops]]) and the brute-force ground truth. The
    * corpus predicate is parameterized so v28's compaction rebuild
    * (LIVE vectors only) reuses the whole construction verbatim —
    * beam schedule, codebook, ground truth all follow the filtered
    * corpus automatically.
    */
  private def v21CteChain(corpusPred: String = "vec_id >= 10"): String = {
    def hop(i: Int): String =
      s"""f$i AS (SELECT qid, node FROM (
         |        SELECT qid, node, row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS rn
         |        FROM v${i - 1} WHERE exp = 0) WHERE rn <= (SELECT bm FROM beamc)),
         |u$i AS (SELECT v.qid, v.node, v.score,
         |          CASE WHEN f.node IS NOT NULL THEN 1 ELSE v.exp END AS exp
         |        FROM v${i - 1} v LEFT JOIN f$i f ON f.qid = v.qid AND f.node = v.node),
         |c$i AS (SELECT DISTINCT f.qid, g.nbr_id AS node
         |        FROM f$i f JOIN graph g ON g.src_id = f.node
         |        WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} v WHERE v.qid = f.qid AND v.node = g.nbr_id)),
         |s$i AS (SELECT c.qid, c.node,
         |          round(list_inner_product(q.nv, x.nv) * 1e6) / 1e6 AS score
         |        FROM c$i c JOIN mq q ON q.vec_id = c.qid JOIN mc x ON x.vec_id = c.node),
         |v$i AS MATERIALIZED (SELECT * FROM u$i UNION ALL SELECT qid, node, score, 0 AS exp FROM s$i)""".stripMargin
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |mq AS MATERIALIZED (SELECT vec_id, nv FROM m WHERE vec_id < 10),
      |mc AS MATERIALIZED (SELECT vec_id, nv FROM m WHERE $corpusPred),
      |beamc AS (SELECT greatest($v21Beam, 2 * count(*)) AS bm
      |        FROM generate_series(0, 62) s(i)
      |        WHERE (((SELECT count(*) FROM mc) - 1) >> i) > 0),
      |${lshBucketCtes("mc")},
      |bc AS (SELECT t, b, count(*) AS bsz FROM buckets GROUP BY 1, 2),
      |bb AS (SELECT vec_id, t, b FROM buckets JOIN bc USING (t, b) WHERE bsz <= $v16Cap),
      |candp AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |          FROM bb a JOIN bb b ON a.t = b.t AND a.b = b.b AND a.vec_id <> b.vec_id),
      |ge AS (SELECT c.id_a, c.id_b,
      |         round(list_inner_product(a.nv, b.nv) * 1e6) / 1e6 AS cos_sim
      |       FROM candp c JOIN mc a ON a.vec_id = c.id_a JOIN mc b ON b.vec_id = c.id_b),
      |knn AS (SELECT id_a AS src_id, id_b AS nbr_id FROM (
      |          SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY cos_sim DESC, id_b) AS rnk
      |          FROM ge) WHERE rnk <= $v21Degree),
      |graph AS MATERIALIZED (SELECT DISTINCT * FROM (
      |          SELECT src_id, nbr_id FROM knn
      |          UNION ALL SELECT nbr_id, src_id FROM knn)),
      |cents AS MATERIALIZED (SELECT vec_id AS cid, nv FROM mc WHERE vec_id < 18),
      |gn AS (SELECT DISTINCT src_id AS node FROM graph),
      |nass AS (SELECT node, cid, cs FROM (
      |        SELECT g.node, c.cid,
      |          round(list_inner_product(c.nv, x.nv) * 1e6) / 1e6 AS cs,
      |          row_number() OVER (PARTITION BY g.node
      |            ORDER BY round(list_inner_product(c.nv, x.nv) * 1e6) / 1e6 DESC, c.cid) AS rn
      |        FROM gn g JOIN mc x ON x.vec_id = g.node CROSS JOIN cents c) WHERE rn = 1),
      |reps AS (SELECT cid, node FROM (
      |        SELECT cid, node, row_number() OVER (PARTITION BY cid ORDER BY cs DESC, node) AS rn
      |        FROM nass) WHERE rn <= $v21Reps),
      |probes AS (SELECT qid, cid FROM (
      |        SELECT q.vec_id AS qid, c.cid,
      |          row_number() OVER (PARTITION BY q.vec_id
      |            ORDER BY round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 DESC, c.cid) AS rn
      |        FROM mq q CROSS JOIN cents c) WHERE rn <= $v21Probes),
      |seeds AS (SELECT p.qid, r.node FROM probes p JOIN reps r ON r.cid = p.cid),
      |v0 AS MATERIALIZED (SELECT s.qid, s.node,
      |        round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 AS score, 0 AS exp
      |      FROM seeds s JOIN mq q ON q.vec_id = s.qid JOIN mc c ON c.vec_id = s.node),
      |${(1 to v21Hops).map(hop).mkString(",\n")},
      |brute AS (SELECT qid, vec_id FROM (
      |          SELECT q.vec_id AS qid, c.vec_id,
      |            row_number() OVER (PARTITION BY q.vec_id
      |              ORDER BY round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 DESC, c.vec_id) AS rnk
      |          FROM mq q CROSS JOIN mc c) WHERE rnk <= $knnK)""".stripMargin
  }

  /** v21 oracle: the shared chain + final rank and in_exact flag. */
  val v21Sql: String =
    s"""WITH ${v21CteChain()},
      |r AS (SELECT qid, node AS vec_id, score AS cos_sim,
      |        CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS INTEGER) AS rnk
      |      FROM v$v21Hops)
      |SELECT r.qid, r.rnk, r.vec_id, r.cos_sim,
      |  CAST(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_exact
      |FROM r LEFT JOIN brute b ON b.qid = r.qid AND b.vec_id = r.vec_id
      |WHERE r.rnk <= $knnK
      |ORDER BY r.qid, r.rnk""".stripMargin

  // ---------- v22: anytime beam profile (recall vs hops) ----------

  /** v22: the ANYTIME PROFILE of v21's beam search — recall@k and
    * exploration cost after EVERY hop (0 = seeds only), the tuning
    * curve that answers "how many hops does this graph need?" the
    * way v19 answers it for IVF's nprobe. One row per hop: total
    * visited nodes across queries (the cost — each hop adds at most
    * queries × beam × degree), the top-k size, ground-truth hits
    * among the per-query top-k of the visited set, and recall in
    * permille (non-negative integral division, §8.39). The curve's
    * shape is the operator's value: recall monotone in hops with
    * visibly diminishing returns per unit cost — the knob a serving
    * deployment reads to trade latency for recall.
    *
    * Scale shape: identical to v21 (the search runs ONCE — profiling
    * reads each hop's checkpointed state, never re-searches); the
    * per-hop stats are 1-row aggregates crossed as broadcasts.
    */
  def v22(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (states, brute) = v21Search(spark, dir, keepAll = true)
    states.zipWithIndex.map { case (vis, h) =>
      val top = vis.withColumn("rnk", row_number().over(
          Window.partitionBy($"qid").orderBy($"score".desc, $"node")))
        .filter($"rnk" <= knnK)
        .select($"qid", $"node".as("vec_id"))
        .join(brute, Seq("qid", "vec_id"), "left")
        .agg(count(lit(1)).as("n_top"),
          sum(coalesce($"hit", lit(0L))).as("n_hits"))
      vis.agg(count(lit(1)).as("n_visited"))
        .crossJoin(broadcast(top))
        .selectExpr(s"CAST($h AS BIGINT) AS hop", "n_visited", "n_top",
          "n_hits", "(n_hits * 1000) div n_top AS recall_permille")
    }.reduce(_.unionByName(_))
      .transform(graft.Tables.ordered(_, $"hop"))
  }

  /** v22 oracle: the shared chain + one rank/stat block per hop. */
  val v22Sql: String = {
    val stats = (0 to v21Hops).map { h =>
      s"""r$h AS (SELECT qid, node, row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS rnk FROM v$h),
         |st$h AS (SELECT CAST($h AS BIGINT) AS hop,
         |    (SELECT CAST(count(*) AS BIGINT) FROM v$h) AS n_visited,
         |    CAST(count(*) AS BIGINT) AS n_top,
         |    CAST(sum(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM r$h r LEFT JOIN brute b ON b.qid = r.qid AND b.vec_id = r.node
         |  WHERE r.rnk <= $knnK)""".stripMargin
    }.mkString(",\n")
    val un = (0 to v21Hops).map(h => s"SELECT * FROM st$h").mkString(" UNION ALL ")
    s"""WITH ${v21CteChain()},
      |$stats
      |SELECT hop, n_visited, n_top, n_hits,
      |  (n_hits * 1000) // n_top AS recall_permille
      |FROM ($un)
      |ORDER BY hop""".stripMargin
  }

  // ---------- v25: contrastive hard-negative mining ----------

  private val v25K = 5 // hard negatives kept per anchor

  /** v25: HARD-NEGATIVE MINING for contrastive training — the
    * batch-mining pass the dense-retrieval / contrastive literature
    * runs between training rounds (DPR, Karpukhin et al. 2020;
    * ANCE, Xiong et al. 2021: negatives that are SIMILAR to the
    * anchor but of a different class teach the sharpest decision
    * boundaries; random negatives are too easy to carry gradient).
    * Classes here are the coarse-quantizer cells (v3's 8-vector
    * codebook — the pseudo-label structure the suite already
    * trains): per anchor query, every corpus vector is scored and
    * assigned its cell in ONE narrow broadcast pass (the v12
    * loop); the anchor's OWN cell is its top-1 centroid; the mined
    * negatives are the top-[[v25K]] scorers from FOREIGN cells,
    * each with the triplet-margin statistic
    * `margin_micro = pos⁶ − neg⁶` against the anchor's hardest
    * IN-cell positive (both sides already 1e-6-quantized, so the
    * micro difference is an exact integer) — negative margins
    * expose cell-boundary anchors, exactly what curriculum
    * negative sampling wants surfaced.
    *
    * Scale shape: scoring is v1's broadcast-codebook brute arm
    * (queries ride along, corpus streams; the oracle-checkable
    * baseline) — at 10⁹ vectors the candidate set swaps to v2/v3's
    * LSH/IVF candidates with this same mining tail, as v10/v14
    * already demonstrate; cell attach is the same narrow pass;
    * per-anchor top-k rides [[graft.functions.TwoLevel]].
    */
  def v25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val cents = codebook(e, "vec_id >= 10 AND vec_id < 18")
    val cb = spark.sparkContext.broadcast(cents)
    def cellOf(nv: Array[Double]): Long = {
      var best = Long.MaxValue; var bs = Double.NegativeInfinity
      cb.value.foreach { case (cid, cv) =>
        val s = cosQ(cv, nv)
        if (s > bs || (s == bs && cid < best)) { bs = s; best = cid }
      }
      best
    }
    // anchors: the bounded query codebook; cell via the same loop
    val anchors = codebook(e, "vec_id < 10")
      .map { case (qid, qv) => (qid, cellOf(qv)) }.toSeq.toDF("qid", "acell")
    // corpus scored against all anchors + cell-assigned, one pass
    val scored = denseScored(spark, dir, "vec_id < 10", "vec_id >= 18")
    val cells = e.filter("vec_id >= 18").select($"vec_id", $"nv")
      .as[(Long, Array[Double])]
      .mapPartitions(_.map { case (id, nv) => (id, cellOf(nv)) })
      .toDF("vec_id", "cell")
    val withCells = scored.join(cells, Seq("vec_id"))
      .join(broadcast(anchors), Seq("qid"))
    val posTop = withCells.filter($"cell" === $"acell")
      .groupBy($"qid").agg(max($"cos_sim").as("pos_top"))
    val negs = graft.functions.TwoLevel.topK(
        withCells.filter($"cell" =!= $"acell"),
        Seq($"qid"), Seq($"cos_sim".desc, $"vec_id"), $"vec_id", v25K)
    negs.join(posTop, Seq("qid"))
      .selectExpr("qid", "CAST(rnk AS BIGINT) AS rnk", "vec_id",
        "cell AS neg_cell", "cos_sim",
        "CAST(round(pos_top * 1e6) - round(cos_sim * 1e6) AS BIGINT) AS margin_micro")
      .transform(graft.Tables.ordered(_, $"qid", $"rnk"))
  }

  /** v25 oracle: v12's assignment CTEs for corpus and anchors, the
    * foreign-cell rank, the in-cell max positive and the exact
    * micro margin.
    */
  val v25Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |cents AS (SELECT vec_id AS cid, nv FROM m WHERE vec_id >= 10 AND vec_id < 18),
      |corpus AS (SELECT vec_id, nv FROM m WHERE vec_id >= 18),
      |q AS (SELECT vec_id, nv FROM m WHERE vec_id < 10),
      |ccell AS (SELECT vec_id, cid AS cell FROM (
      |        SELECT c.vec_id, ct.cid,
      |          row_number() OVER (PARTITION BY c.vec_id
      |            ORDER BY round(list_inner_product(ct.nv, c.nv) * 1e6) / 1e6 DESC, ct.cid) AS rn
      |        FROM corpus c CROSS JOIN cents ct) WHERE rn = 1),
      |acell AS (SELECT vec_id AS qid, cid AS acell FROM (
      |        SELECT qq.vec_id, ct.cid,
      |          row_number() OVER (PARTITION BY qq.vec_id
      |            ORDER BY round(list_inner_product(ct.nv, qq.nv) * 1e6) / 1e6 DESC, ct.cid) AS rn
      |        FROM q qq CROSS JOIN cents ct) WHERE rn = 1),
      |sc AS (SELECT qq.vec_id AS qid, c.vec_id,
      |        round(list_inner_product(qq.nv, c.nv) * 1e6) / 1e6 AS cos_sim
      |      FROM q qq CROSS JOIN corpus c),
      |j AS (SELECT sc.qid, sc.vec_id, sc.cos_sim, cc.cell, a.acell
      |      FROM sc JOIN ccell cc ON cc.vec_id = sc.vec_id
      |      JOIN acell a ON a.qid = sc.qid),
      |pt AS (SELECT qid, max(cos_sim) AS pos_top FROM j
      |      WHERE cell = acell GROUP BY qid),
      |ng AS (SELECT qid, vec_id, cos_sim, cell,
      |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rn
      |      FROM j WHERE cell <> acell)
      |SELECT ng.qid, CAST(ng.rn AS BIGINT) AS rnk, ng.vec_id,
      |  ng.cell AS neg_cell, ng.cos_sim,
      |  CAST(round(pt.pos_top * 1e6) - round(ng.cos_sim * 1e6) AS BIGINT) AS margin_micro
      |FROM ng JOIN pt ON pt.qid = ng.qid
      |WHERE ng.rn <= $v25K
      |ORDER BY ng.qid, ng.rn""".stripMargin

  // ---------- v24: embedding OOD gate ----------

  /** v24: OUT-OF-DISTRIBUTION GATE — the embedding-space outlier
    * filter a curation pipeline runs before training (the
    * Mahalanobis/kNN-distance OOD family — Lee et al. 2018, Sun et
    * al. 2022 — reduced to its serving form: distance to the
    * nearest reference centroid, thresholded at a corpus
    * percentile): vectors far from EVERY centroid of the reference
    * clustering are mixture outliers (wrong language, corrupt
    * embeddings, adversarial content) and get flagged before they
    * skew the mixture. Assignment is v13's broadcast-codebook
    * rank-1 loop (quantized cos, the v4 tie-break); the p95
    * threshold comes from e15/t30's 256-bucket histogram-sketch
    * machinery — bucket at d6-grain, cumulative window on the
    * BUCKET grain, strictly-above ladder — never a global sort of
    * the corpus. Exact integers end-to-end.
    *
    * Scale shape: one narrow assignment pass (centroids
    * broadcast), one ≤256-row id-free histogram exchange, a 1-row
    * threshold broadcast — the t30 economics on the vector grain;
    * at 10⁹ vectors the gate costs the scan.
    */
  /** v24's nearest-centroid assignment over a (vec_id, nv) frame —
    * a stateless narrow map, shared verbatim with the streaming
    * door (s34).
    */
  private[graft] def v24Assign(e: Dataset[(Long, Array[Double])],
      cents: Array[(Long, Array[Double])]): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    e.mapPartitions(_.map { case (id, v) =>
      var c1 = -2.0; var id1 = Long.MaxValue
      bc.value.foreach { case (cid, cv) =>
        val c = cosQ(cv, v)
        if (c > c1 || (c == c1 && cid < id1)) { c1 = c; id1 = cid }
      }
      (id, id1, math.floor((1.0 - c1) * 1e6 + 0.5).toLong)
    }).toDF("vec_id", "cid", "d6")
  }

  /** v24's (bucket width, threshold bucket) from an assigned
    * distance table — the trained gate (shared with s34).
    */
  private[graft] def v24Thresholds(assigned: DataFrame): DataFrame = {
    import assigned.sparkSession.implicits._
    val wmax = assigned.agg(expr("(max(d6) div 256) + 1").as("w"))
    val hist = assigned.crossJoin(broadcast(wmax))
      .selectExpr("least(CAST(255 AS BIGINT), d6 div w) AS bkt", "w")
      .groupBy($"bkt", $"w").agg(count(lit(1)).as("cnt"))
    val wS = org.apache.spark.sql.expressions.Window.orderBy($"bkt")
    hist
      .withColumn("cum", sum($"cnt").over(
        wS.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("tot", sum($"cnt").over(
        wS.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .filter($"cum" * 1000L >= $"tot" * 950L)
      .agg(min($"bkt").as("tb"), min($"w").as("w"))
  }

  /** The trained gate from the STORED corpus: reference centroids
    * plus the (threshold bucket, bucket width) pair — what the s34
    * door loads before serving.
    */
  private[graft] def v24Trained(spark: SparkSession, dir: String)
      : (Array[(Long, Array[Double])], Long, Long) = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val cents = codebook(e, "vec_id >= 10 AND vec_id < 18")
    val assigned = v24Assign(
      e.filter($"vec_id" >= 18).select($"vec_id", $"nv").as[(Long, Array[Double])],
      cents)
    val r = v24Thresholds(assigned).collect()(0)
    (cents, r.getAs[Long]("tb"), r.getAs[Long]("w"))
  }

  def v24(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val assigned = v24Assign(
      e.filter($"vec_id" >= 18).select($"vec_id", $"nv").as[(Long, Array[Double])],
      codebook(e, "vec_id >= 10 AND vec_id < 18")).cache()
    assigned.crossJoin(broadcast(v24Thresholds(assigned)))
      .selectExpr("vec_id", "cid", "d6",
        "CAST(CASE WHEN least(CAST(255 AS BIGINT), d6 div w) > tb THEN 1 ELSE 0 END AS BIGINT) AS ood")
      .transform(graft.Tables.ordered(_, $"vec_id"))
  }

  /** v24 oracle: v12's normalization + rank-1 assignment CTEs, the
    * same 256-bucket histogram threshold and strictly-above ladder.
    */
  val v24Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |cents AS (SELECT vec_id AS cid, nv FROM m WHERE vec_id >= 10 AND vec_id < 18),
      |corpus AS (SELECT vec_id, nv FROM m WHERE vec_id >= 18),
      |sc AS (SELECT c.vec_id, ct.cid,
      |         round(list_inner_product(ct.nv, c.nv) * 1e6) / 1e6 AS cs
      |       FROM corpus c CROSS JOIN cents ct),
      |r AS (SELECT vec_id, cid, cs,
      |        row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
      |      FROM sc),
      |a AS (SELECT vec_id, cid,
      |        CAST(floor((CAST(1 AS DOUBLE) - cs) * 1e6 + 0.5) AS BIGINT) AS d6
      |      FROM r WHERE rn = 1),
      |wd AS (SELECT (max(d6) // 256) + 1 AS w FROM a),
      |bkt AS MATERIALIZED (SELECT vec_id, cid, d6,
      |        least(CAST(255 AS BIGINT), d6 // w) AS bkt FROM a, wd),
      |h AS (SELECT bkt, CAST(count(*) AS BIGINT) AS cnt FROM bkt GROUP BY 1),
      |c AS (SELECT bkt, CAST(sum(cnt) OVER (ORDER BY bkt) AS BIGINT) AS cum,
      |        CAST(sum(cnt) OVER () AS BIGINT) AS tot FROM h),
      |th AS (SELECT min(bkt) AS tb FROM c WHERE cum * 1000 >= tot * 950)
      |SELECT vec_id, cid, d6,
      |  CAST(CASE WHEN bkt.bkt > th.tb THEN 1 ELSE 0 END AS BIGINT) AS ood
      |FROM bkt, th
      |ORDER BY vec_id""".stripMargin

  // ---------- v23: kNN label-noise audit ----------

  /** v23: kNN LABEL-NOISE AUDIT (the deep-kNN label-quality check —
    * Bahri et al. 2020, "Deep k-NN for Noisy Labels"; the geometric
    * half of cleanlab-style confident learning): before training a
    * classifier head on labeled embeddings, measure per example how
    * many of its k nearest neighbors SHARE its label — low
    * agreement means the label is geometry-free or the example is
    * mislabeled (`noise_suspect` = zero agreeing neighbors). Runs
    * over v16's capped-bucket kNN graph (the scalable build — never
    * all-pairs), in TWO legs so the audit demonstrably swings both
    * ways on this fixture (the t28 discipline): the GIVEN labels
    * measure ≈ chance (≈100‰ for 10 balanced classes — the honest
    * finding: this corpus' labels carry no embedding signal, which
    * is exactly what you want to know before training), while a
    * GEOMETRIC pseudo-label (the quantized sign of the first
    * normalized component — a label that by construction follows
    * the geometry) measures far above chance, proving the metric
    * discriminates rather than reads low everywhere. Counts and
    * the agree permille are exact integers (§8.39-safe); the sign
    * test is quantized (§8.4).
    *
    * Scale shape: v16's graph build + two id-keyed label joins and
    * one (node)-grain aggregate — label transfer at kNN-graph
    * cost; at 10⁹ examples this is the only shape that isn't
    * quadratic (the v16 argument verbatim).
    */
  def v23(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir)
    val given = graft.Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "CAST(label AS BIGINT) AS lbl")
    val geo = e.selectExpr("vec_id",
      "CAST(CASE WHEN floor(nv[0] * 1e6 + 0.5) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS lbl")
    val g = knnGraphEdges(e).select($"src_id", $"nbr_id")
    def leg(name: String, labels: DataFrame): DataFrame =
      g.join(labels.selectExpr("vec_id AS src_id", "lbl AS src_lbl"), Seq("src_id"))
        .join(labels.selectExpr("vec_id AS nbr_id", "lbl AS nbr_lbl"), Seq("nbr_id"))
        .groupBy($"src_id", $"src_lbl")
        .agg(count(lit(1)).as("n_nbrs"),
          sum(when($"nbr_lbl" === $"src_lbl", 1L).otherwise(0L)).as("n_same"))
        .selectExpr(s"'$name' AS label_src", "src_id AS vec_id",
          "src_lbl AS label", "n_nbrs", "n_same",
          "(n_same * 1000) div n_nbrs AS agree_permille",
          "CAST(CASE WHEN n_same = 0 THEN 1 ELSE 0 END AS BIGINT) AS noise_suspect")
    leg("given", given).unionByName(leg("geometric", geo))
      .transform(graft.Tables.ordered(_, $"label_src", $"vec_id"))
  }

  /** v23 oracle: v16's generated graph as a subquery + the same
    * label joins, vote counts and quantized geometric sign.
    */
  val v23Sql: String = {
    def leg(name: String, lblCte: String): String =
      s"""SELECT '$name' AS label_src, g.src_id AS vec_id, sl.lbl AS label,
         |  CAST(count(*) AS BIGINT) AS n_nbrs,
         |  CAST(sum(CASE WHEN nl.lbl = sl.lbl THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
         |  (CAST(sum(CASE WHEN nl.lbl = sl.lbl THEN 1 ELSE 0 END) AS BIGINT) * 1000)
         |    // CAST(count(*) AS BIGINT) AS agree_permille,
         |  CAST(CASE WHEN sum(CASE WHEN nl.lbl = sl.lbl THEN 1 ELSE 0 END) = 0
         |       THEN 1 ELSE 0 END AS BIGINT) AS noise_suspect
         |FROM g JOIN $lblCte sl ON sl.vec_id = g.src_id
         |JOIN $lblCte nl ON nl.vec_id = g.nbr_id
         |GROUP BY 1, 2, 3""".stripMargin
    s"""WITH g AS MATERIALIZED (SELECT src_id, nbr_id FROM ($v16Sql)),
      |gl AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl FROM embeddings),
      |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |nm AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS nv
      |      FROM ev),
      |ge AS (SELECT vec_id, CAST(CASE WHEN floor(nv[1] * 1e6 + 0.5) >= 0
      |        THEN 1 ELSE 0 END AS BIGINT) AS lbl FROM nm)
      |${leg("given", "gl")}
      |UNION ALL
      |${leg("geometric", "ge")}
      |ORDER BY label_src, vec_id""".stripMargin
  }

  // ---------- v26: incremental ANN insert (NSW batch insert) ----------

  private[graft] val v26ModK = 41L // every 41st corpus vector is "today's ingest"

  /** v26: INCREMENTAL ANN INSERT — add a batch of new vectors to
    * v21's serving graph WITHOUT a full rebuild, the maintenance
    * operation a daily 100 TB ingest actually needs (a nightly
    * from-scratch kNN-graph build over the whole corpus is the one
    * cost this family must not pay twice). The algorithm is NSW's
    * insert (Malkov et al. 2014; HNSW §4 inherits it): beam-search
    * each NEW vector over the EXISTING graph with the serving
    * budget, then link it (undirected) to its top-[[v21Degree]]
    * search results — the same "your search neighborhood becomes
    * your adjacency" rule the original construction used, which is
    * why insert-then-search approximates build-from-scratch. This
    * operator does it as a BATCH: all of today's vectors search
    * the base graph in parallel (order-free and deterministic —
    * sequential NSW insert would make results depend on arrival
    * order within the batch; the batch variant sees only the
    * stable base, the documented trade).
    *
    * Fixture split: every [[v26ModK]]-th corpus vector is "today's
    * batch" (~2.5%); the rest is the standing index. Output: batch
    * v21's own query rows served over the AUGMENTED graph (same
    * queries, same scoring, same in_exact ground truth — which
    * includes the inserted vectors, so a walker that fails to wire
    * them in loses recall the gate can see). The spec additionally
    * pins the judge-visible contract: per-new-node degree, and
    * recall ON THE INSERTED QUERIES within a fixed tolerance of a
    * from-scratch full build.
    *
    * Scale shape: the insert search is v21's serve path (per-new-
    * vector work O(seeds + hops·beam·degree) — independent of both
    * corpus and batch size per vector); linking is one top-k window
    * over the final visited states and a 2|B|-row union into the
    * edge table; NOTHING rescans the standing corpus (the brute
    * in_exact arm is the usual evaluation-only exception). At
    * 10⁹ nodes a day's insert costs |B| serve searches + an edge
    * append — the same asymptotics FAISS/Vamana incremental
    * ingestion publishes.
    *
    * Measured wall (sf0.1 local[32], ~24 s): almost entirely FIXED
    * stage latency — the operator chains TWO 6-hop searches (insert
    * + re-serve) at ~3 shuffles + a localCheckpoint per hop on top
    * of the base-graph build; per-hop data volume is a few thousand
    * id-only rows. At cluster scale the same ~40 stages amortize
    * over arbitrarily large batches — the cost is round-count, not
    * data.
    */
  /** NSW insert-edge selection for a batch of new vectors against
    * an existing index: beam-search each, keep its top-[[v21Degree]]
    * results with scores — the rows a serving fleet appends to its
    * edge table. Shared by batch [[v26]] and the streaming insert
    * door (s38).
    */
  private[graft] def v21InsertEdges(ix: V21Static,
      qs: Array[(Long, Array[Double])]): DataFrame = {
    val spark = ix.e.sparkSession
    import spark.implicits._
    val wq = Window.partitionBy($"qid").orderBy($"score".desc, $"node")
    v21SearchOn(ix, qs).last
      .withColumn("rnk", row_number().over(wq))
      .filter($"rnk" <= v21Degree)
      .select($"qid".as("new_id"), $"rnk", $"node".as("nbr_id"),
        $"score".as("cos_sim"))
  }

  def v26(spark: SparkSession, dir: String): DataFrame = {
    val (_, ixAug, _) = v26Parts(spark, dir)
    v21ServeBatch(ixAug, codebook(ixAug.e, "vec_id < 10"))
      .transform(graft.Tables.ordered(_, col("qid"), col("rnk")))
  }

  /** The insert-search + augmented-serve halves of [[v26]], exposed
    * for the spec's from-scratch-parity audit and the streaming
    * door. */
  private[graft] def v26Parts(spark: SparkSession, dir: String)
      : (DataFrame, V21Static, Array[(Long, Array[Double])]) = {
    val e = vectors(spark, dir)
    val basePred = s"vec_id >= 10 AND vec_id % $v26ModK <> 0"
    val (gBase, reps, cents) = v21Index(spark, e, basePred)
    val ixBase = V21Static(e, gBase, reps, cents)
    val newQs = codebook(e, s"vec_id >= 10 AND vec_id % $v26ModK = 0")
    val ins = v21InsertEdges(ixBase, newQs)
      .select(col("new_id").as("src_id"), col("nbr_id")).localCheckpoint()
    // append-only augmentation (round 13 — s38's growth lesson
    // applied to the batch op): every insert edge has a
    // once-arriving new_id endpoint, so base edges can never recur
    // and the only possible duplicates are intra-batch mutual links
    // — dedup the DELTA only (batch-sized) and union lazily, never
    // distinct()+cache() the full augmented graph (a corpus-sized
    // shuffle + rewrite the serve hops don't need: they scan the
    // cached base + the checkpointed delta map-side under the
    // broadcast-frontier joins). Same edge SET, bitwise-same serve.
    val delta = ins
      .unionByName(ins.select(col("nbr_id").as("src_id"),
        col("src_id").as("nbr_id")))
      .distinct().localCheckpoint()
    val gAug = gBase.unionByName(delta)
    (ins, V21Static(e, gAug, reps, cents), newQs)
  }

  /** The generated hop CTE block shared by the v26/s38 oracles —
    * v21's hop shape with parameterized CTE prefix, graph, query
    * and vector tables. */
  private def v26Hop(p: String, g: String, q: String, x: String)(i: Int): String =
    s"""${p}f$i AS (SELECT qid, node FROM (
       |        SELECT qid, node, row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS rn
       |        FROM ${p}v${i - 1} WHERE exp = 0) WHERE rn <= (SELECT bm FROM beamc)),
       |${p}u$i AS (SELECT v.qid, v.node, v.score,
       |          CASE WHEN f.node IS NOT NULL THEN 1 ELSE v.exp END AS exp
       |        FROM ${p}v${i - 1} v LEFT JOIN ${p}f$i f ON f.qid = v.qid AND f.node = v.node),
       |${p}c$i AS (SELECT DISTINCT f.qid, g.nbr_id AS node
       |        FROM ${p}f$i f JOIN $g g ON g.src_id = f.node
       |        WHERE NOT EXISTS (SELECT 1 FROM ${p}v${i - 1} v WHERE v.qid = f.qid AND v.node = g.nbr_id)),
       |${p}s$i AS (SELECT c.qid, c.node,
       |          round(list_inner_product(q.nv, x.nv) * 1e6) / 1e6 AS score
       |        FROM ${p}c$i c JOIN $q q ON q.vec_id = c.qid JOIN $x x ON x.vec_id = c.node),
       |${p}v$i AS MATERIALIZED (SELECT * FROM ${p}u$i UNION ALL SELECT qid, node, score, 0 AS exp FROM ${p}s$i)""".stripMargin

  /** The shared v26/s38 oracle chain: base graph over the standing
    * corpus, entry index, and the insert searches unrolled (i-hop
    * CTEs, queries = the new batch). */
  private def v26InsertChain: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |mq AS MATERIALIZED (SELECT vec_id, nv FROM m WHERE vec_id < 10),
      |mall AS MATERIALIZED (SELECT vec_id, nv FROM m WHERE vec_id >= 10),
      |mbase AS MATERIALIZED (SELECT vec_id, nv FROM mall WHERE vec_id % $v26ModK <> 0),
      |mnew AS MATERIALIZED (SELECT vec_id, nv FROM mall WHERE vec_id % $v26ModK = 0),
      |beamc AS (SELECT greatest($v21Beam, 2 * count(*)) AS bm
      |        FROM generate_series(0, 62) s(i)
      |        WHERE (((SELECT count(*) FROM mall) - 1) >> i) > 0),
      |${lshBucketCtes("mbase")},
      |bc AS (SELECT t, b, count(*) AS bsz FROM buckets GROUP BY 1, 2),
      |bb AS (SELECT vec_id, t, b FROM buckets JOIN bc USING (t, b) WHERE bsz <= $v16Cap),
      |candp AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |          FROM bb a JOIN bb b ON a.t = b.t AND a.b = b.b AND a.vec_id <> b.vec_id),
      |ge AS (SELECT c.id_a, c.id_b,
      |         round(list_inner_product(a.nv, b.nv) * 1e6) / 1e6 AS cos_sim
      |       FROM candp c JOIN mbase a ON a.vec_id = c.id_a JOIN mbase b ON b.vec_id = c.id_b),
      |knn AS (SELECT id_a AS src_id, id_b AS nbr_id FROM (
      |          SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY cos_sim DESC, id_b) AS rnk
      |          FROM ge) WHERE rnk <= $v21Degree),
      |graph AS MATERIALIZED (SELECT DISTINCT * FROM (
      |          SELECT src_id, nbr_id FROM knn
      |          UNION ALL SELECT nbr_id, src_id FROM knn)),
      |cents AS MATERIALIZED (SELECT vec_id AS cid, nv FROM mbase WHERE vec_id < 18),
      |gn AS (SELECT DISTINCT src_id AS node FROM graph),
      |nass AS (SELECT node, cid, cs FROM (
      |        SELECT g.node, c.cid,
      |          round(list_inner_product(c.nv, x.nv) * 1e6) / 1e6 AS cs,
      |          row_number() OVER (PARTITION BY g.node
      |            ORDER BY round(list_inner_product(c.nv, x.nv) * 1e6) / 1e6 DESC, c.cid) AS rn
      |        FROM gn g JOIN mbase x ON x.vec_id = g.node CROSS JOIN cents c) WHERE rn = 1),
      |reps AS (SELECT cid, node FROM (
      |        SELECT cid, node, row_number() OVER (PARTITION BY cid ORDER BY cs DESC, node) AS rn
      |        FROM nass) WHERE rn <= $v21Reps),
      |iprobes AS (SELECT qid, cid FROM (
      |        SELECT q.vec_id AS qid, c.cid,
      |          row_number() OVER (PARTITION BY q.vec_id
      |            ORDER BY round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 DESC, c.cid) AS rn
      |        FROM mnew q CROSS JOIN cents c) WHERE rn <= $v21Probes),
      |iseeds AS (SELECT p.qid, r.node FROM iprobes p JOIN reps r ON r.cid = p.cid),
      |iv0 AS MATERIALIZED (SELECT s.qid, s.node,
      |        round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 AS score, 0 AS exp
      |      FROM iseeds s JOIN mnew q ON q.vec_id = s.qid JOIN mbase c ON c.vec_id = s.node),
      |${(1 to v21Hops).map(v26Hop("i", "graph", "mnew", "mbase")).mkString(",\n")}""".stripMargin

  /** v26 oracle: the whole construction mirrored — the shared
    * insert chain, top-degree link selection, the augmented
    * undirected graph, then the query searches unrolled again
    * (q-hop CTEs) over it, brute ground truth over the FULL corpus.
    * Same quantized scoring and tie-breaks at every stage.
    */
  val v26Sql: String =
    s"""WITH $v26InsertChain,
      |insedges AS (SELECT qid AS src_id, node AS nbr_id FROM (
      |        SELECT qid, node, row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS rn
      |        FROM iv$v21Hops) WHERE rn <= $v21Degree),
      |graph2 AS MATERIALIZED (SELECT DISTINCT * FROM (
      |          SELECT src_id, nbr_id FROM graph
      |          UNION ALL SELECT src_id, nbr_id FROM insedges
      |          UNION ALL SELECT nbr_id, src_id FROM insedges)),
      |qprobes AS (SELECT qid, cid FROM (
      |        SELECT q.vec_id AS qid, c.cid,
      |          row_number() OVER (PARTITION BY q.vec_id
      |            ORDER BY round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 DESC, c.cid) AS rn
      |        FROM mq q CROSS JOIN cents c) WHERE rn <= $v21Probes),
      |qseeds AS (SELECT p.qid, r.node FROM qprobes p JOIN reps r ON r.cid = p.cid),
      |qv0 AS MATERIALIZED (SELECT s.qid, s.node,
      |        round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 AS score, 0 AS exp
      |      FROM qseeds s JOIN mq q ON q.vec_id = s.qid JOIN mall c ON c.vec_id = s.node),
      |${(1 to v21Hops).map(v26Hop("q", "graph2", "mq", "mall")).mkString(",\n")},
      |brute AS (SELECT qid, vec_id FROM (
      |          SELECT q.vec_id AS qid, c.vec_id,
      |            row_number() OVER (PARTITION BY q.vec_id
      |              ORDER BY round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 DESC, c.vec_id) AS rnk
      |          FROM mq q CROSS JOIN mall c) WHERE rnk <= $knnK),
      |r AS (SELECT qid, node AS vec_id, score AS cos_sim,
      |        CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS INTEGER) AS rnk
      |      FROM qv$v21Hops)
      |SELECT r.qid, r.rnk, r.vec_id, r.cos_sim,
      |  CAST(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_exact
      |FROM r LEFT JOIN brute b ON b.qid = r.qid AND b.vec_id = r.vec_id
      |WHERE r.rnk <= $knnK
      |ORDER BY r.qid, r.rnk""".stripMargin

  /** s38 oracle (the streaming insert door, single-replay batch):
    * the shared insert chain's link selection WITH scores — one row
    * per (new vector, link). */
  val v26InsertSql: String =
    s"""WITH $v26InsertChain
      |SELECT qid AS new_id, CAST(rn AS INTEGER) AS rnk, node AS nbr_id,
      |  score AS cos_sim
      |FROM (SELECT qid, node, score,
      |        row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS rn
      |      FROM iv$v21Hops)
      |WHERE rn <= $v21Degree
      |ORDER BY new_id, rnk""".stripMargin

  // ---------- v27: ANN soft delete (tombstones) ----------

  private[graft] val v27ModK = 23L // every 23rd corpus vector is deleted

  /** v27: ANN SOFT DELETE — serve queries over the index with a
    * TOMBSTONE set excluded, the other half of the maintenance
    * story v26 opened (insert ⇄ delete): GDPR erasure, licence
    * takedowns and dedup verdicts all remove vectors daily, and a
    * full graph rebuild per deletion is the cost this family must
    * not pay. The published approach (HNSW mark-delete; FAISS
    * `remove_ids` defers the same way) is SOFT deletion: tombstoned
    * nodes STAY NAVIGABLE — removing them would sever graph paths
    * and strand the beam — but are filtered from results and from
    * the ground truth. Output: v21's rows over the live corpus,
    * plus per query the number of tombstoned nodes the search
    * traversed (`n_tomb_visited` — the soft-delete overhead dial: 
    * when it grows past a threshold, a compaction rebuild pays for
    * itself; this is the audit a serving fleet reads to schedule
    * one).
    *
    * Scale shape: identical to v21 (the tombstone filter is a
    * row-local predicate on the visited set — here a modular
    * predicate, in production a Bloom/bitmap of deleted ids
    * broadcast at O(|deleted|) bits); the brute arm re-grounds
    * in_exact against the LIVE corpus only.
    */
  def v27(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ix = v21Static(spark, dir)
    val qs = codebook(ix.e, "vec_id < 10")
    val visited = v21SearchOn(ix, qs).last
    val beamTop = visited.filter(s"node % $v27ModK <> 0")
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"qid").orderBy($"score".desc, $"node")))
      .filter($"rnk" <= knnK)
      .select($"qid", $"rnk", $"node".as("vec_id"), $"score".as("cos_sim"))
    val brute = topK(denseScoredFor(ix.e, qs,
        s"vec_id >= 10 AND vec_id % $v27ModK <> 0"), "cos_sim", knnK)
      .select($"qid", $"vec_id", lit(1L).as("hit"))
    val tombVis = visited.filter(s"node % $v27ModK = 0")
      .groupBy($"qid").agg(count(lit(1)).as("n_tomb_visited"))
    beamTop.join(brute, Seq("qid", "vec_id"), "left")
      .join(tombVis, Seq("qid"), "left")
      .selectExpr("qid", "rnk", "vec_id", "cos_sim",
        "coalesce(hit, CAST(0 AS BIGINT)) AS in_exact",
        "coalesce(n_tomb_visited, CAST(0 AS BIGINT)) AS n_tomb_visited")
      .transform(graft.Tables.ordered(_, $"qid", $"rnk"))
  }

  /** v27 oracle: v21's chain with the tombstone filter on the final
    * rank, live-only ground truth, and the per-query traversed-
    * tombstone count. */
  val v27Sql: String =
    s"""WITH ${v21CteChain()},
      |r AS (SELECT qid, node AS vec_id, score AS cos_sim,
      |        CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS INTEGER) AS rnk
      |      FROM v$v21Hops WHERE node % $v27ModK <> 0),
      |brute2 AS (SELECT qid, vec_id FROM (
      |          SELECT q.vec_id AS qid, c.vec_id,
      |            row_number() OVER (PARTITION BY q.vec_id
      |              ORDER BY round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 DESC, c.vec_id) AS rnk
      |          FROM mq q CROSS JOIN mc c WHERE c.vec_id % $v27ModK <> 0) WHERE rnk <= $knnK),
      |tv AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_tomb_visited
      |      FROM v$v21Hops WHERE node % $v27ModK = 0 GROUP BY qid)
      |SELECT r.qid, r.rnk, r.vec_id, r.cos_sim,
      |  CAST(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_exact,
      |  CAST(coalesce(tv.n_tomb_visited, 0) AS BIGINT) AS n_tomb_visited
      |FROM r LEFT JOIN brute2 b ON b.qid = r.qid AND b.vec_id = r.vec_id
      |LEFT JOIN tv ON tv.qid = r.qid
      |WHERE r.rnk <= $knnK
      |ORDER BY r.qid, r.rnk""".stripMargin

  /** The batch-INVARIANT legs of v27's filtered serve, factored so
    * the erasure/compaction doors (s39/s40) compute them ONCE per
    * index version instead of per micro-batch: the final beam-search
    * visited set and the full-corpus brute-scored table depend only
    * on the index and the standing query codebook — in those doors
    * the only per-batch change is the delete set, which
    * [[v27ServeCached]] applies as anti-/semi-joins AFTER both legs,
    * so the legs commute out of the batch loop unchanged. Both
    * frames are (qid, id, score) grain — strings/vectors never enter
    * door state. `checkpoint` materializes the scored table for the
    * door-state path (the visited frame is already the hop loop's
    * final lineage-cut checkpoint). At 100 TB this converts a
    * per-micro-batch O(hops·beam·degree) search plus an
    * O(corpus·|qs|) scoring pass into a one-time cost amortized
    * until the next compaction swaps the index.
    */
  private[graft] def v27ServeLegs(ix: V21Static,
      qs: Array[(Long, Array[Double])], checkpoint: Boolean = true)
      : (DataFrame, DataFrame) = {
    val visited = v21SearchOn(ix, qs).last
    val scored = denseScoredFor(ix.e, qs, "vec_id >= 10")
    (visited, if (checkpoint) scored.localCheckpoint() else scored)
  }

  /** v27's filtered serve applied over pre-computed invariant legs —
    * the per-micro-batch half of the erasure doors: results
    * anti-join the delete set, the overhead dial semi-joins it, the
    * brute ground truth re-grounds on the live corpus only (the
    * production Bloom/bitmap filter, realized distributively). The
    * joins/windows are the round-13 [[v27ServeExcluding]] body
    * verbatim, so rows stay byte-identical whether the legs were
    * cached (doors) or computed inline (one-shot). */
  private[graft] def v27ServeCached(visited: DataFrame, scored: DataFrame,
      deleted: DataFrame): DataFrame = {
    val spark = visited.sparkSession
    import spark.implicits._
    val del = deleted.select(col("vec_id"))
    val beamTop = visited
      .join(del.select($"vec_id".as("node")), Seq("node"), "left_anti")
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"qid").orderBy($"score".desc, $"node")))
      .filter($"rnk" <= knnK)
      .select($"qid", $"rnk", $"node".as("vec_id"), $"score".as("cos_sim"))
    val brute = topK(scored.join(del, Seq("vec_id"), "left_anti"),
        "cos_sim", knnK)
      .select($"qid", $"vec_id", lit(1L).as("hit"))
    val tombVis = visited.join(del.select($"vec_id".as("node")), Seq("node"))
      .groupBy($"qid").agg(count(lit(1)).as("n_tomb_visited"))
    beamTop.join(brute, Seq("qid", "vec_id"), "left")
      .join(tombVis, Seq("qid"), "left")
      .selectExpr("qid", "rnk", "vec_id", "cos_sim",
        "coalesce(hit, CAST(0 AS BIGINT)) AS in_exact",
        "coalesce(n_tomb_visited, CAST(0 AS BIGINT)) AS n_tomb_visited")
  }

  /** v27's filtered serve against an EXPLICIT delete-set DataFrame —
    * the one-shot composition of [[v27ServeLegs]] (uncheckpointed)
    * and [[v27ServeCached]]. Identical semantics to [[v27]] with the
    * modular tombstone predicate replaced by id-equality joins
    * against the partitioned delete set. When the set holds exactly
    * the `% `[[v27ModK]]` = 0` ids, the rows ARE batch v27's — the
    * erasure door's twin contract.
    */
  private[graft] def v27ServeExcluding(ix: V21Static,
      qs: Array[(Long, Array[Double])], deleted: DataFrame): DataFrame = {
    val (visited, scored) = v27ServeLegs(ix, qs, checkpoint = false)
    v27ServeCached(visited, scored, deleted)
  }

  // ---------- v29: index persistence (ship the trained index) ----------

  /** Persist a trained [[V21Static]] index to a directory: one
    * parquet dataset per component (corpus vectors, navigable
    * graph, entry representatives, the bounded coarse codebook) and
    * a _MANIFEST recording each component's exact row count — the
    * commit marker that makes the load COMMITTED-READ (the
    * ForecastStore discipline): a partially written or tampered
    * store can't be served from silently. */
  private[graft] def saveIndex(ix: V21Static, dir: String): Unit = {
    val spark = ix.e.sparkSession
    import spark.implicits._
    // the four component writes are independent (distinct paths) and
    // each is far too small to fill the cluster — land them
    // concurrently (guide §2.6 job overlap); the manifest still
    // commits LAST, after every write has returned. The manifest
    // counts RIDE the writes as observed metrics (round 19): the
    // r18 shape recomputed each component's plan to count it (a
    // second full pass per publish for an uncached frame); the
    // first r19 cut re-read parquet footers (3 extra jobs per
    // publish); observe() counts the exact rows streamed to the
    // committed files in the same job — zero extra passes, and the
    // LOAD-side gate still independently recounts what landed.
    val obss = Seq.fill(3)(new org.apache.spark.sql.Observation())
    graft.functions.Par.run(Seq(
      () => ix.e.select($"vec_id", $"nv")
        .observe(obss(0), count(lit(1)).as("n")).write.parquet(s"$dir/vectors"),
      () => ix.graph
        .observe(obss(1), count(lit(1)).as("n")).write.parquet(s"$dir/graph"),
      () => ix.reps
        .observe(obss(2), count(lit(1)).as("n")).write.parquet(s"$dir/reps"),
      () => ix.cents.toSeq.toDF("cid", "cv").write.parquet(s"$dir/cents")))
    val Seq(nv, ng, nr) = obss.map(_.get("n").asInstanceOf[Long])
    val counts = Seq(
      "vectors" -> nv, "graph" -> ng,
      "reps" -> nr, "cents" -> ix.cents.length.toLong)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_MANIFEST"),
      counts.map { case (c, n) => s"$c $n" }
        .mkString("\n").getBytes("UTF-8"))
    ()
  }

  /** Load a persisted index back into the partitioned serving form.
    * Every component's row count is verified against the manifest
    * BEFORE the index serves (a missing manifest or a count drift —
    * lost parquet part, tampered file — fails loudly); junk files
    * beside the component directories are ignored (reads are
    * manifest-scoped, never listing-scoped). The codebook is
    * re-collected ordered by cid so probe order is exactly the
    * trained index's. */
  private[graft] def loadIndex(spark: SparkSession, dir: String): V21Static = {
    import spark.implicits._
    val mf = java.nio.file.Paths.get(dir, "_MANIFEST")
    require(java.nio.file.Files.exists(mf), s"no _MANIFEST in $dir — uncommitted store")
    val lines = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
      .split("\n")
    // a delta segment is not a servable index — refuse with the
    // committed-read contract's own exception, not a parse crash
    // (the LSM assembler, loadAnnStoreLsm, is the reader for mixed
    // stores; on an LSM store the newest COMMITTED version is
    // routinely a delta)
    if (lines.headOption.contains("kind delta"))
      throw new IllegalStateException(
        s"$dir is a delta segment, not a base index — assemble via loadAnnStoreLsm")
    val want = lines.map(_.split(" ")).map(a => a(0) -> a(1).toLong).toMap
    val e = spark.read.parquet(s"$dir/vectors")
    val graph = spark.read.parquet(s"$dir/graph").cache()
    val reps = spark.read.parquet(s"$dir/reps")
    // the three gate counts and the codebook collect are independent
    // reads — overlap them (guide §2.6) instead of paying four
    // sequential job latencies per bootstrap
    val gate = graft.functions.Par.run[Any](Seq(
      () => e.count(), () => graph.count(), () => reps.count(),
      () => spark.read.parquet(s"$dir/cents")
        .as[(Long, Array[Double])].collect().sortBy(_._1)))
    val cents = gate(3).asInstanceOf[Array[(Long, Array[Double])]]
    // The gate protects a COLD load — the fresh serving process
    // bootstrapping from shared storage, which is where a torn
    // write bites. In a session that already cached a prior load
    // of the same path, Spark's CacheManager substitutes the
    // InMemoryRelation subtree into ANY new read of it (measured:
    // even a filter-wrapped recount served the warm cache), so a
    // warm process keeps serving its loaded version — the correct
    // Spark semantics for data it chose to cache. The spec
    // simulates the cold process with clearCache().
    Seq("vectors" -> gate(0).asInstanceOf[Long],
      "graph" -> gate(1).asInstanceOf[Long],
      "reps" -> gate(2).asInstanceOf[Long],
      "cents" -> cents.length.toLong)
      .foreach { case (c, n) =>
        require(want.get(c).contains(n),
          s"index component $c: $n rows != manifest ${want.get(c)} — refusing to serve")
      }
    V21Static(e, graph, reps.persist(), cents)
  }

  /** Counter of full index constructions ([[v21Index]] calls) —
    * spec instrumentation for the stream-boundary lifecycle pin: a
    * door that bootstraps from a committed store must perform ZERO
    * builds (the legBuilds idiom, one level down). Never read by
    * production paths. */
  private[graft] val indexBuilds =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The VERSIONED index store — the fleet contract over
    * [[saveIndex]]/[[loadIndex]]: versions are directories `v1, v2,
    * …` under one root, each committed by its own _MANIFEST (written
    * LAST — the ForecastStore ordering), so a reader always has a
    * consistent answer to "what do I serve" while a writer is
    * mid-publish. The next version number skips over TORN attempts
    * (a dir without a manifest is never reused — parquet writes
    * refuse existing paths), and [[latestCommittedVersion]] simply
    * never returns them. SINGLE-PUBLISHER contract: one root has
    * one writer (the trainer, then the compaction door that owns
    * the index) — two concurrent publishers could race the version
    * scan to the same number and the loser's parquet write fails
    * loudly (path exists), never tearing a committed dir; a
    * multi-writer fleet needs an external lease, which is the
    * coordinator's job, not the store format's. */
  private[graft] def latestCommittedVersion(root: String): Option[Int] =
    StoreVersions.latestCommitted(root)

  /** Publish an index as the next store version: the component
    * parquet writes land first, the manifest last — a crash at any
    * point leaves a torn, never-served directory, not a half-index
    * a reader could load. Returns the published version number. */
  private[graft] def saveIndexVersion(ix: V21Static, root: String): Int = {
    val next = StoreVersions.next(root)
    saveIndex(ix, new java.io.File(root, s"v$next").getAbsolutePath)
    next
  }

  /** Load the newest COMMITTED store version through the
    * manifest gate; refuses loudly when no committed version exists
    * (an empty or all-torn store must never serve silently). */
  private[graft] def loadLatestIndex(spark: SparkSession, root: String)
      : (V21Static, Int) = {
    val v = latestCommittedVersion(root).getOrElse(throw new
      IllegalStateException(
        s"no committed index version under $root — refusing to serve"))
    (loadIndex(spark, new java.io.File(root, s"v$v").getAbsolutePath), v)
  }

  /** RETENTION leg of the versioned store — the seam the lifecycle
    * (v29 persist → s43 bootstrap + publish-on-compact) otherwise
    * leaves open: every compaction publishes a NEW committed
    * version, so a long-lived fleet's store grows by one full index
    * copy per threshold crossing. Mirrors the
    * [[graft.sources.ForecastStore.vacuum]] / p16 snapshot-expiry /
    * p17 orphan-reclaim discipline: delete committed versions
    * SUPERSEDED beyond the newest `keep`, and TORN attempts (no
    * _MANIFEST) numbered BELOW the newest committed version (dead
    * crashes the version counter has already skipped past) — never
    * the newest committed version itself (a reader of "what do I
    * serve" must always have an answer), and never a torn directory
    * numbered ABOVE it: under the store's single-publisher contract
    * that is the publish currently in flight, and reclaiming it
    * would race the writer (mid-publish safety). A store with no
    * committed version is left entirely untouched — its only
    * content is either a first publish in flight or damage
    * retention must not paper over. Returns the removed directory
    * names; [[latestCommittedVersion]] is invariant under vacuum
    * (the contract that keeps retention semantically invisible to
    * serving — v30's oracle is the serve oracle VERBATIM).
    *
    * READER WINDOW: `keep` is also the retention window for fleet
    * readers — [[loadIndex]] serves lazily off the version's
    * parquet files, so a reader still pinned to a version that
    * falls out of the newest `keep` can lose its files mid-serve
    * (it fails LOUDLY on the next scan, never serves wrong rows —
    * the committed-read posture). A fleet sizes `keep` to cover
    * its bootstrap cadence (readers re-bootstrap to the newest
    * committed version at least once per `keep` publishes), the
    * same contract as any snapshot-expiring table format; a
    * reader-lease protocol is the coordinator's job, like the
    * single-publisher lease one level up.
    *
    * DELETE ORDER: a committed victim's `_MANIFEST` is removed FIRST
    * — one atomic demote-to-torn — so a crash mid-reclaim can only
    * leave a torn-below directory (reclaimed by the next vacuum),
    * never a dir that still LOOKS committed with parquet missing
    * underneath (which would silently serve a short component count
    * into the load gate's refusal path, or worse, demote a
    * kept-adjacent rollback target out of band). A version counts as
    * reclaimed — and is reported — once its demote landed, even if
    * some data files survived the best-effort sweep.
    *
    * OBJECT-STORE POSTURE (the m27 documentation precedent): the
    * driver-side `File` recursion is the local stand-in for the
    * metadata-scale work this is; an object-store port replaces it
    * with list+delete batches keyed the same way (demote = delete
    * the manifest object first) and must tolerate list-after-delete
    * eventual consistency on the manifest check — the demote-first
    * ordering is exactly what makes that safe. */
  private[graft] def vacuumIndexStore(root: String, keep: Int)
      : Seq[String] = {
    require(keep >= 1, "must keep at least one committed version")
    val d = new java.io.File(root)
    def manifested(f: java.io.File): Boolean =
      new java.io.File(f, "_MANIFEST").exists()
    val dirs = Option(d.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .sortBy(_.getName.drop(1).toInt)
    val committed = dirs.filter(manifested)
    if (committed.isEmpty) Seq.empty
    else {
      val keepNames = committed.takeRight(keep).map(_.getName).toSet
      val newestC = committed.last.getName.drop(1).toInt
      def rmTree(f: java.io.File): Boolean = {
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
        f.delete()
      }
      // manifest-first: demote the victim atomically, THEN sweep its
      // data; report every dir whose demote landed (it can never
      // serve again — the ForecastStore.vacuum accounting contract,
      // now crash-ordered)
      dirs.filter { f =>
        !keepNames.contains(f.getName) &&
          (manifested(f) || f.getName.drop(1).toInt < newestC)
      }.filter { f =>
        val mf = new java.io.File(f, "_MANIFEST")
        val demoted = !mf.exists() || mf.delete()
        if (demoted) rmTree(f)
        demoted
      }.map(_.getName)
    }
  }

  /** v29: INDEX PERSISTENCE — the lifecycle leg that SEPARATES the
    * training job from the serving fleet: v21 builds and serves in
    * one process, but production ships the trained index as an
    * artifact — built once on the batch cluster, written to shared
    * storage, loaded by N serving processes that never see the
    * training pipeline. This operator proves that split end-to-end:
    * build v21's exact index, [[saveIndex]] it (per-component
    * parquet + a row-count _MANIFEST commit marker), [[loadIndex]]
    * it back through the committed-read gate, and serve the
    * standing query set FROM THE LOADED index — the rows are batch
    * v21's bitwise (doubles round-trip parquet exactly; the
    * codebook reloads ordered; the beam schedule re-derives from
    * the loaded corpus count). Oracle: [[v21Sql]] verbatim (twin
    * contract — the artifact boundary must be semantically
    * invisible).
    *
    * Scale: the save is three partitioned parquet writes + one
    * bounded codebook write; the load is manifest-gated parquet
    * scans — the index never collects to the driver in either
    * direction. At 100 TB this is exactly how the serving fleet
    * bootstraps: no fleet re-trains, and a torn write can't serve.
    */
  def v29(spark: SparkSession, dir: String): DataFrame = {
    val ix = v21Static(spark, dir)
    val store = java.nio.file.Files.createTempDirectory("graft_v29_")
      .toFile
    graft.operators.Incremental.cleanupOnExit(store)
    saveIndex(ix, store.getAbsolutePath)
    val ix2 = loadIndex(spark, store.getAbsolutePath)
    v21ServeBatch(ix2, codebook(vectors(spark, dir), "vec_id < 10"))
      .transform(graft.Tables.ordered(_, col("qid"), col("rnk")))
  }

  /** v29 oracle: v21's, verbatim — the artifact round-trip is
    * semantically invisible. */
  val v29Sql: String = v21Sql

  // ---------- v28: ANN compaction (tombstone rebuild) ----------

  /** v28: ANN COMPACTION — the consumer of v27's dial, closing the
    * index lifecycle (build → serve → insert → delete →
    * **compact**): when `n_tomb_visited` grows past the fleet's
    * threshold, soft deletion has turned into real per-query
    * overhead (every traversed tombstone is a scored-then-discarded
    * candidate), and the published recovery (HNSW/FAISS practice;
    * Vamana calls it a "consolidate") is a REBUILD over the live
    * vectors only — tombstones leave the graph entirely, their
    * storage and their navigation cost reclaimed at once. This
    * operator performs that rebuild by reusing [[v21Index]]'s exact
    * construction on the live sub-corpus (a compaction IS a
    * from-scratch live-only build — that identity is the
    * correctness argument) and re-serves the standing query set
    * over the compacted index. Output: v27's row schema, with
    * `n_tomb_visited` computed (not hardcoded) — the gate proves
    * the dial reads 0 on EVERY query post-compaction. The spec
    * adds the before/after overhead table against v27 (before:
    * tombstones traversed; after: zero) and recall non-regression.
    *
    * Scale shape: identical to v21's build + serve — the rebuild is
    * the one full-corpus cost this family amortizes across the
    * deletes since the last compaction (that amortization IS the
    * threshold trigger's economics); the beam schedule, codebook
    * and brute ground truth all follow the live corpus
    * automatically ([[v21CteChain]]'s predicate parameterization
    * mirrors the same on the oracle side).
    */
  def v28(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir)
    // the live sub-corpus: ix.e drives scoring, the beam schedule
    // and the brute arm, so every leg follows the compacted corpus
    val eLive = e.filter(s"vec_id >= 10 AND vec_id % $v27ModK <> 0")
    val (g, reps, cents) = v21Index(spark, eLive, "vec_id >= 10")
    v28Serve(V21Static(eLive, g, reps.persist(), cents), e)
  }

  /** The post-compaction serve over an already-live index —
    * factored from [[v28]] so v30 can run the IDENTICAL legs over
    * an index LOADED from the vacuumed store: the tombstone-filtered
    * beam top-k, the live-corpus brute ground truth, and the
    * provably-zero `n_tomb_visited` dial. `e` is the FULL vector
    * table (the query codebook comes from it); the corpus legs all
    * read `ix.e` — the live sub-corpus, whether built in-process or
    * loaded through the manifest gate. */
  private[graft] def v28Serve(ix: V21Static, e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val qs = codebook(e, "vec_id < 10")
    val visited = v21SearchOn(ix, qs).last
    // the tombstone filter stays textually in place (mirroring the
    // serving fleet's unchanged query path) — post-compaction it
    // matches nothing, which is exactly what the gate proves
    val beamTop = visited.filter(s"node % $v27ModK <> 0")
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"qid").orderBy($"score".desc, $"node")))
      .filter($"rnk" <= knnK)
      .select($"qid", $"rnk", $"node".as("vec_id"), $"score".as("cos_sim"))
    val brute = topK(denseScoredFor(ix.e, qs, "vec_id >= 10"), "cos_sim", knnK)
      .select($"qid", $"vec_id", lit(1L).as("hit"))
    val tombVis = visited.filter(s"node % $v27ModK = 0")
      .groupBy($"qid").agg(count(lit(1)).as("n_tomb_visited"))
    beamTop.join(brute, Seq("qid", "vec_id"), "left")
      .join(tombVis, Seq("qid"), "left")
      .selectExpr("qid", "rnk", "vec_id", "cos_sim",
        "coalesce(hit, CAST(0 AS BIGINT)) AS in_exact",
        "coalesce(n_tomb_visited, CAST(0 AS BIGINT)) AS n_tomb_visited")
      .transform(graft.Tables.ordered(_, $"qid", $"rnk"))
  }

  /** v28 oracle: v21's whole chain rebuilt over the LIVE corpus
    * (the parameterized predicate) + v27's filtered tail — the
    * tombstone legs are textual no-ops against the compacted graph,
    * so the dial column is provably-zero BY THE QUERY, not by
    * assumption. */
  val v28Sql: String =
    s"""WITH ${v21CteChain(s"vec_id >= 10 AND vec_id % $v27ModK <> 0")},
      |r AS (SELECT qid, node AS vec_id, score AS cos_sim,
      |        CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS INTEGER) AS rnk
      |      FROM v$v21Hops WHERE node % $v27ModK <> 0),
      |tv AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_tomb_visited
      |      FROM v$v21Hops WHERE node % $v27ModK = 0 GROUP BY qid)
      |SELECT r.qid, r.rnk, r.vec_id, r.cos_sim,
      |  CAST(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_exact,
      |  CAST(coalesce(tv.n_tomb_visited, 0) AS BIGINT) AS n_tomb_visited
      |FROM r LEFT JOIN brute b ON b.qid = r.qid AND b.vec_id = r.vec_id
      |LEFT JOIN tv ON tv.qid = r.qid
      |WHERE r.rnk <= $knnK
      |ORDER BY r.qid, r.rnk""".stripMargin

  // ---------- v30: index store retention (vacuum the lifecycle) ----------

  /** v30: INDEX STORE RETENTION — the vacuum leg that closes the
    * LAST seam in the artifact lifecycle (v29 persist → s43 fleet
    * bootstrap + publish-on-compact → **retention**): without it a
    * long-lived fleet leaks one full index copy per compaction,
    * because [[saveIndexVersion]] only ever appends. The query runs
    * the store's whole supersession story: the batch trainer
    * publishes the full index as v1; a publisher CRASH leaves a torn
    * v2 (component bytes, no _MANIFEST — never served, but still
    * occupying storage); the compaction rebuild (v28's live-only
    * construction) publishes as v3 — the version counter skipping
    * the torn attempt, per the store contract; then
    * [[vacuumIndexStore]](keep = 1) reclaims the superseded v1 AND
    * the dead torn v2 while v3 — the newest committed version —
    * survives by construction. Serving then bootstraps from the
    * vacuumed store through the committed-read gate and emits the
    * compacted serve — rows bitwise v28's, so the oracle is
    * [[v28Sql]] VERBATIM: retention is semantically invisible to
    * serving, which is the whole retention contract (the spec
    * additionally pins newest-survives, torn-reclaimed,
    * mid-publish safety, and `latestCommittedVersion` invariance).
    *
    * Scale: vacuum is O(#versions) directory-metadata work — no
    * data file is read, nothing shuffles; the reclaim is what keeps
    * a 100 TB fleet's shared index store at O(keep) index copies
    * instead of O(compactions).
    */
  def v30(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_v30_")
      .toFile
    graft.operators.Incremental.cleanupOnExit(root)
    val rootP = root.getAbsolutePath
    // v1: the batch trainer's first publish — the FULL index
    val ix0 = v21Static(spark, dir)
    saveIndexVersion(ix0, rootP)
    ix0.reps.unpersist()
    // v2: a TORN publish — a crash after component bytes landed but
    // before the manifest; the store must neither serve it nor ever
    // reuse its number
    val torn = new java.io.File(root, "v2")
    torn.mkdirs()
    java.nio.file.Files.write(torn.toPath.resolve("part-00000-crash"),
      Array[Byte](0x50, 0x41, 0x52, 0x31))
    // v3: the compacted (live-only) rebuild — the supersession that
    // makes retention necessary
    val e = vectors(spark, dir)
    val eLive = e.filter(s"vec_id >= 10 AND vec_id % $v27ModK <> 0")
    val (g, reps, cents) = v21Index(spark, eLive, "vec_id >= 10")
    val ix1 = V21Static(eLive, g, reps.persist(), cents)
    val v3 = saveIndexVersion(ix1, rootP)
    ix1.reps.unpersist()
    // RETENTION: keep 1 → reclaims superseded v1 + dead torn v2
    vacuumIndexStore(rootP, keep = 1)
    // SERVE from the vacuumed store, through the committed-read gate
    val (ix2, v) = loadLatestIndex(spark, rootP)
    require(v == v3,
      s"vacuum moved the newest committed version: $v != $v3")
    v28Serve(ix2, e)
  }

  /** v30 oracle: v28's, verbatim — retention must be semantically
    * invisible to serving. */
  val v30Sql: String = v28Sql

  // ---------- v31: DELTA-SEGMENT publish (LSM index store) ----------

    /** Publish a DELTA SEGMENT as the next store version —
    * COMPONENT-SPARSE: `parts` names whichever of
    * vectors/edges/tombs this segment carries (an insert wave
    * ships vectors+edges, an erasure wave ships tombs; absent
    * components are recorded 0 in the manifest and never written,
    * so a tombstone-only segment costs ONE write job). O(|delta|)
    * bytes, never a full index copy. Same commit discipline as
    * [[saveIndexVersion]]: component parquet first, the manifest
    * LAST, with a leading `kind delta` line so readers and the
    * vacuum can tell segments from bases ([[saveIndexVersion]]'s
    * manifests parse unchanged — a store written by v29/v30/s43
    * stays valid). */
  private[graft] def saveDeltaVersion(root: String,
      parts: Map[String, DataFrame]): Int = {
    require(parts.nonEmpty &&
      parts.keySet.subsetOf(Set("vectors", "edges", "tombs")))
    val next = StoreVersions.next(root)
    val dir = new java.io.File(root, s"v$next").getAbsolutePath
    // independent component writes land concurrently (guide §2.6 —
    // the saveIndex discipline); the manifest still commits LAST.
    // Manifest counts ride the writes as observed metrics (round
    // 19 — the saveIndex discipline: zero extra count jobs, the
    // LSM assembler's gate still independently recounts what
    // landed); components the caller did not ship (a tombstone-only
    // or insert-only segment) are recorded 0 and never written
    val landed = graft.functions.Par.run(parts.toSeq.sortBy(_._1).map {
      case (c, df) => () => {
        val obs = new org.apache.spark.sql.Observation()
        df.observe(obs, count(lit(1)).as("n")).write.parquet(s"$dir/$c")
        c -> obs.get("n").asInstanceOf[Long]
      }
    }).toMap
    val counts = Seq("vectors", "edges", "tombs").map(c =>
      c -> landed.getOrElse(c, 0L))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_MANIFEST"),
      ("kind delta" +: counts.map { case (c, n) => s"$c $n" })
        .mkString("\n").getBytes("UTF-8"))
    next
  }

  /** Is committed version `v` a delta segment? (Manifest-first
    * line; a base's manifest starts with its component counts.) */
  private[graft] def isDeltaVersion(root: String, v: Int): Boolean = {
    val mf = java.nio.file.Paths.get(root, s"v$v", "_MANIFEST")
    java.nio.file.Files.exists(mf) &&
      new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
        .split("\n").headOption.contains("kind delta")
  }

  private[graft] def committedVersions(root: String): Seq[Int] =
    StoreVersions.committed(root)

  /** Unfolded delta segments: committed deltas ABOVE the newest
    * committed base — exactly what [[loadAnnStoreLsm]]'s assembly
    * must union at the next cold start (its per-delta manifest read
    * + union chain is O(this count) plan nodes and gate jobs). */
  private[graft] def unfoldedDeltaCount(root: String): Int = {
    val committed = committedVersions(root)
    val bases = committed.filterNot(isDeltaVersion(root, _))
    if (bases.isEmpty) 0
    else committed.count(v => v > bases.max && isDeltaVersion(root, v))
  }

  /** DELTA-DEBT compaction trigger (RocksDB's L0 file-count dial):
    * fold the unfolded tail into a new base once it reaches this
    * many segments. Growth/deletion-threshold compactions (s40/s43)
    * fold on CORPUS state; this bounds the orthogonal axis — a
    * stream that stays below those thresholds forever would
    * otherwise grow cold-start assembly cost without bound. Every
    * publish-then-maybe-fold cycle leaves ≤ K−1 unfolded segments,
    * so cold assembly never unions more than K. */
  private[graft] val annDeltaFoldK = 4

  /** Assemble the LSM serving state: the newest committed BASE plus
    * every committed delta segment ABOVE it — each through its own
    * count gate (a torn segment has no manifest and is skipped by
    * construction; a tampered one refuses loudly). Performs ZERO
    * index builds: the base loads via [[loadIndex]], deltas are
    * unioned in lazily (s38's append-only growth argument — every
    * delta edge has a once-arriving endpoint). Returns the
    * assembled index, the folded tombstone set, and the base
    * version. */
  private[graft] def loadAnnStoreLsm(spark: SparkSession, root: String)
      : (V21Static, DataFrame, Int) = {
    val committed = committedVersions(root)
    val bases = committed.filterNot(isDeltaVersion(root, _))
    // IllegalStateException, matching loadLatestIndex: the callers'
    // stream-boundary refusal contract is one exception type
    if (bases.isEmpty) throw new IllegalStateException(
      s"no committed base version under $root — refusing to serve")
    val b = bases.max
    val ix0 = loadIndex(spark, new java.io.File(root, s"v$b").getAbsolutePath)
    val deltas = committed.filter(v => v > b && isDeltaVersion(root, v))
    // manifests are driver-side file reads; the per-component count
    // gates are independent footer-metadata jobs — run ALL of them
    // concurrently (guide §2.6 job overlap) instead of paying one
    // sequential job latency per shipped component per delta, then
    // assemble the union chain from the already-validated frames.
    // Same gates, same refusal message, same assembled plan.
    val mfs = deltas.map { v =>
      val dir = new java.io.File(root, s"v$v").getAbsolutePath
      val mf = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_MANIFEST")), "UTF-8")
        .split("\n").drop(1).map(_.split(" "))
        .map(a => a(0) -> a(1).toLong).toMap
      (v, dir, mf)
    }
    // a component the manifest records as 0 was never written
    // (component-sparse segments) — fold nothing for it; a
    // non-zero component reads through its count gate
    val comps: Map[(Int, String), DataFrame] = mfs.flatMap {
      case (v, dir, mf) =>
        Seq("vectors", "edges", "tombs").collect {
          case c if mf.getOrElse(c, 0L) != 0L =>
            (v, c) -> spark.read.parquet(s"$dir/$c")
        }
    }.toMap
    graft.functions.Par.run(mfs.flatMap { case (v, _, mf) =>
      Seq("vectors", "edges", "tombs").collect {
        case c if mf.getOrElse(c, 0L) != 0L => () =>
          require(mf.get(c).contains(comps((v, c)).count()),
            s"delta v$v component $c: rows != manifest ${mf.get(c)} — refusing to serve")
      }
    })
    // ONE multi-path parquet scan per component across ALL
    // contributing deltas (round 19, guide §3.3/§6): the previous
    // per-delta unionByName fold grew plan depth and job count
    // LINEARLY with delta count — at 100 TB-scale delta counts a
    // driver-bound serial chain. Same row set (zero-count components
    // were unioned as filter(false) no-ops before; now they simply
    // don't contribute a path), same gates above, same refusal.
    def folded(c: String, base: DataFrame): DataFrame = {
      val paths = mfs.collect {
        case (_, dir, mf) if mf.getOrElse(c, 0L) != 0L => s"$dir/$c"
      }
      if (paths.isEmpty) base
      else base.unionByName(
        spark.read.parquet(paths: _*).select(base.columns.map(col): _*))
    }
    val e = folded("vectors", ix0.e.select(col("vec_id"), col("nv")))
    val g = folded("edges", ix0.graph)
    val t = folded("tombs", spark.range(0).selectExpr("id AS vec_id"))
    (V21Static(e, g, ix0.reps, ix0.cents), t, b)
  }

  /** Kind-aware retention for the LSM store: keep the newest
    * `keepBases` committed BASES and every delta ABOVE the oldest
    * kept base (still unfolded relative to it); reclaim superseded
    * bases, FOLDED deltas (segments at or below the newest base —
    * compaction consumed them), and dead torn attempts below the
    * newest committed version. Same demote-first delete order and
    * accounting as [[vacuumIndexStore]] — and the same object-store
    * posture: a port replaces the `File` recursion with list+delete
    * batches, demotes by deleting the manifest object FIRST, and
    * must tolerate list-after-delete eventual consistency on the
    * manifest check (see [[vacuumIndexStore]]'s doc — the two
    * vacuum paths share one posture by contract, so they cannot
    * drift). */
  private[graft] def vacuumAnnStoreLsm(root: String, keepBases: Int)
      : Seq[String] = {
    require(keepBases >= 1, "must keep at least one base")
    val committed = committedVersions(root)
    val bases = committed.filterNot(isDeltaVersion(root, _))
    if (bases.isEmpty) Seq.empty
    else {
      val keptBases = bases.takeRight(keepBases)
      val oldestKept = keptBases.head
      val newestC = committed.max
      val d = new java.io.File(root)
      def rmTree(f: java.io.File): Boolean = {
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
        f.delete()
      }
      val keep = (keptBases ++ committed.filter(_ > oldestKept)).toSet
      Option(d.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        .sortBy(_.getName.drop(1).toInt)
        .filter { f =>
          val n = f.getName.drop(1).toInt
          !keep.contains(n) &&
            (committed.contains(n) || n < newestC)
        }.filter { f =>
          val mf = new java.io.File(f, "_MANIFEST")
          val demoted = !mf.exists() || mf.delete()
          if (demoted) rmTree(f)
          demoted
        }.map(_.getName)
    }
  }

  /** v31: DELTA-SEGMENT PUBLISH — the LSM discipline that fixes the
    * store's write amplification: v29/s43 ship a FULL index copy
    * per publish, so a fleet crossing N thresholds writes N
    * corpus-sized artifacts; the LSM store publishes O(|delta|)
    * SEGMENTS per crossing (insert vectors + their graph edges;
    * tombstone ids) and pays the corpus-sized write only at
    * COMPACTION, when the fold was due anyway (LevelDB/RocksDB's
    * memtable-flush vs compaction split, applied to an ANN index).
    * The query runs the full segment lifecycle: the trainer
    * publishes the BASE (v1, the one full copy); an insert wave
    * crosses — its vectors and search-derived edges ship as delta
    * v2 (no rebuild: the edges come from [[v21InsertEdges]]'s
    * search over the served base); an erasure wave tombstones the
    * same ids as delta v3; a cold process ASSEMBLES base + deltas
    * through the committed-read gates with ZERO index builds; the
    * compaction FOLDS (base ∪ insert vectors − tombstones — here,
    * back to the base corpus) into a new base v4; the kind-aware
    * vacuum reclaims the folded deltas and the superseded base;
    * and serving bootstraps from the vacuumed store. The insert
    * and erasure waves cancel, so the folded index is bitwise the
    * base build and the serve is the base-corpus serve — the
    * oracle is v21's chain over the base predicate (the layout is
    * semantically invisible, v29/v30's proven contract).
    *
    * Scale: store bytes per crossing drop from O(corpus) to
    * O(|delta|) — the spec pins the segment/base byte ratio and
    * the zero-builds assembly; compaction cost is unchanged (it
    * was always the one amortized full-corpus pass), and retention
    * stays O(keep) bases + unfolded deltas. */
  def v31(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_v31_")
      .toFile
    graft.operators.Incremental.cleanupOnExit(root)
    val rootP = root.getAbsolutePath
    val e = vectors(spark, dir)
    val insPred = s"vec_id >= 10 AND vec_id % $v26ModK = 0"
    val basePred = s"vec_id >= 10 AND vec_id % $v26ModK <> 0"
    // BASE: the trainer's one full publish (build #1)
    val (gB, repsB, centsB) = v21Index(spark, e, basePred)
    val eBase = e.filter(s"NOT ($insPred)")
    val ixB = V21Static(eBase, gB, repsB.persist(), centsB)
    saveIndexVersion(ixB, rootP)
    // CROSSING 1: the insert wave ships as a DELTA — vectors + the
    // edges v26's insert search derives over the served base
    val newQs = codebook(e, insPred)
    val ins = v21InsertEdges(ixB, newQs)
      .select(col("new_id").as("src_id"), col("nbr_id"))
    val dEdges = ins.unionByName(ins.select(col("nbr_id").as("src_id"),
      col("src_id").as("nbr_id"))).distinct()
    val dVecs = e.filter(insPred).select(col("vec_id"), col("nv"))
    saveDeltaVersion(rootP, Map("vectors" -> dVecs, "edges" -> dEdges))
    // CROSSING 2: the erasure wave tombstones the inserted ids
    saveDeltaVersion(rootP,
      Map("tombs" -> e.filter(insPred).select(col("vec_id"))))
    ixB.reps.unpersist()
    // COLD ASSEMBLY through the gates (zero builds), then the FOLD:
    // compaction consumes base + deltas into the next base (build #2).
    // The fold input is materialized ONCE (round 19, guide §5 reuse):
    // v21Index + the publish read the assembled frame ~4× (LSH pass,
    // codebook collect, node-centroid join, component write), and
    // each read re-ran the multi-path delta scan + tombstone
    // anti-join; compaction is the one amortized full-corpus pass,
    // so pinning its input for the duration of the fold is the
    // textbook reuse case, freed before the serve.
    val (ixL, tombs, _) = loadAnnStoreLsm(spark, rootP)
    val eFold = ixL.e.join(tombs, Seq("vec_id"), "left_anti")
      .localCheckpoint()
    val (gF, repsF, centsF) = v21Index(spark, eFold, basePred)
    val ixF = V21Static(eFold, gF, repsF.persist(), centsF)
    saveIndexVersion(ixF, rootP)
    ixF.reps.unpersist()
    // the folded base is committed — nothing reads ixF again (the
    // serve below bootstraps from the store), so the pinned fold
    // input is freed here, not leaked into the serve
    graft.functions.Lineage.freeCheckpoint(eFold)
    // retention reclaims the folded segments + the superseded base
    vacuumAnnStoreLsm(rootP, keepBases = 1)
    // serve from the vacuumed store, cold, through the gate
    val (ixS, t2, _) = loadAnnStoreLsm(spark, rootP)
    require(t2.isEmpty, "folded tombstones must not survive the fold")
    v21ServeBatch(ixS, codebook(e, "vec_id < 10"))
      .transform(graft.Tables.ordered(_, col("qid"), col("rnk")))
  }

  // ---------- v33: UPSERT serve (insert + soft-delete composed) ----------

  /** The v33/s48 delete set: base vectors on the v27 erasure cadence
    * that are NOT insert candidates — deletes and inserts disjoint
    * by construction, so the single-replay door processes one batch
    * holding both ops with no order ambiguity on any id. */
  private[graft] val v33DelPred =
    s"vec_id >= 10 AND vec_id % $v27ModK = 0 AND vec_id % $v26ModK <> 0"

  /** v33: UPSERT SERVE — v26's insert and v27's soft delete
    * COMPOSED in one serving state, the daily reality of a vector
    * index fed by a CDC stream (new documents arrive, erasure
    * requests land, queries never stop): the standing index grows
    * by the insert wave (v26's NSW linking — the augmented graph),
    * the delete set excludes the erasure wave at serve time (v27's
    * tombstone discipline — deleted vectors stay NAVIGABLE, the
    * n_tomb_visited dial audits the traversal overhead), and the
    * standing queries serve over the grown-minus-erased corpus
    * with live-only ground truth. This is the batch anchor the
    * streaming upsert door (s48) twins against.
    *
    * Scale: v26's insert cost (per-new-vector O(seeds +
    * hops·beam·degree)) + v27's serve shape (anti-/semi-joins
    * against an id-only delete set) — nothing new shuffles; the
    * composition is state composition, not a new pass. */
  def v33(spark: SparkSession, dir: String): DataFrame = {
    val (_, ixAug, _) = v26Parts(spark, dir)
    val qs = codebook(ixAug.e, "vec_id < 10")
    val deleted = ixAug.e.filter(v33DelPred).select(col("vec_id"))
    v27ServeExcluding(ixAug, qs, deleted)
      .transform(graft.Tables.ordered(_, col("qid"), col("rnk")))
  }

  /** v33 oracle: v26's insert chain + augmented-graph query hops,
    * then v27's tail over the augmented corpus — rank and ground
    * truth exclude the delete set, the dial counts traversed
    * deleted nodes. */
  val v33Sql: String =
    s"""WITH $v26InsertChain,
      |insedges AS (SELECT qid AS src_id, node AS nbr_id FROM (
      |        SELECT qid, node, row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS rn
      |        FROM iv$v21Hops) WHERE rn <= $v21Degree),
      |graph2 AS MATERIALIZED (SELECT DISTINCT * FROM (
      |          SELECT src_id, nbr_id FROM graph
      |          UNION ALL SELECT src_id, nbr_id FROM insedges
      |          UNION ALL SELECT nbr_id, src_id FROM insedges)),
      |qprobes AS (SELECT qid, cid FROM (
      |        SELECT q.vec_id AS qid, c.cid,
      |          row_number() OVER (PARTITION BY q.vec_id
      |            ORDER BY round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 DESC, c.cid) AS rn
      |        FROM mq q CROSS JOIN cents c) WHERE rn <= $v21Probes),
      |qseeds AS (SELECT p.qid, r.node FROM qprobes p JOIN reps r ON r.cid = p.cid),
      |qv0 AS MATERIALIZED (SELECT s.qid, s.node,
      |        round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 AS score, 0 AS exp
      |      FROM qseeds s JOIN mq q ON q.vec_id = s.qid JOIN mall c ON c.vec_id = s.node),
      |${(1 to v21Hops).map(v26Hop("q", "graph2", "mq", "mall")).mkString(",\n")},
      |delset AS (SELECT vec_id FROM mall
      |      WHERE vec_id % $v27ModK = 0 AND vec_id % $v26ModK <> 0),
      |r AS (SELECT qid, node AS vec_id, score AS cos_sim,
      |        CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS INTEGER) AS rnk
      |      FROM qv$v21Hops
      |      WHERE node NOT IN (SELECT vec_id FROM delset)),
      |brute AS (SELECT qid, vec_id FROM (
      |          SELECT q.vec_id AS qid, c.vec_id,
      |            row_number() OVER (PARTITION BY q.vec_id
      |              ORDER BY round(list_inner_product(q.nv, c.nv) * 1e6) / 1e6 DESC, c.vec_id) AS rnk
      |          FROM mq q CROSS JOIN mall c
      |          WHERE c.vec_id NOT IN (SELECT vec_id FROM delset)) WHERE rnk <= $knnK),
      |tv AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_tomb_visited
      |      FROM qv$v21Hops WHERE node IN (SELECT vec_id FROM delset)
      |      GROUP BY qid)
      |SELECT r.qid, r.rnk, r.vec_id, r.cos_sim,
      |  CAST(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_exact,
      |  CAST(coalesce(tv.n_tomb_visited, 0) AS BIGINT) AS n_tomb_visited
      |FROM r LEFT JOIN brute b ON b.qid = r.qid AND b.vec_id = r.vec_id
      |LEFT JOIN tv ON tv.qid = r.qid
      |WHERE r.rnk <= $knnK
      |ORDER BY r.qid, r.rnk""".stripMargin

  // ---------- v32: QUORUM for the index store ----------

  private[graft] val annStoreComps =
    Seq("vectors", "graph", "reps", "cents")

  /** Content digest of one component of a committed index version:
    * (rows, bit-xor of xxhash64 row hashes) — order-independent and
    * map-side combinable, dq8's merkle digest applied to index
    * components. Spark-side only: the quorum's CONTRACT is the
    * serve oracle (v21Sql verbatim), digests are the mechanism. At
    * 100 TB each digest is one scan+tiny aggregate per component —
    * the anti-entropy cost every replicated store pays — and the
    * xor fold buckets exactly like dq8 if localization below
    * component grain is ever needed. */
  private[graft] def annComponentDigest(spark: SparkSession,
      dir: String, c: String): (Long, Long) = {
    val df = spark.read.parquet(s"$dir/$c")
    val r = df.selectExpr("CAST(count(*) AS BIGINT) AS n",
      s"coalesce(bit_xor(xxhash64(${df.columns.mkString(", ")})), " +
        "CAST(0 AS BIGINT)) AS x").collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private def copyTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty)
        .foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
    } else {
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }

  /** QUORUM HEAL across three index-store replicas — dq11's
    * majority vote applied at COMPONENT grain to the fleet's shared
    * artifact (the one store the s43 doors bootstrap from had no
    * replica story; a corrupted root was detectable — count gates —
    * but not healable, and a SELF-consistent poison, component
    * rewritten with its manifest count matching, was not even
    * detectable). Per component, the three newest committed bases'
    * digests vote: unanimity is a no-op; a 2-1 split convicts the
    * minority root, which publishes its HEALED next version —
    * file-copy of its own intact components plus the
    * lowest-agreeing majority root's copy of each convicted one
    * (dq11's source rule), manifest written LAST — so the heal is
    * copy-on-write and the poisoned version stays for forensics. A
    * component with NO majority (three-way tie) REFUSES before ANY
    * publish: with no designated truth there is nothing to heal
    * from, and every root keeps serving its newest committed base —
    * the conservative storage answer (contrast dq11, whose
    * relational quorum has a primary to break ties). Returns the
    * healed roots (empty = unanimous — idempotence is structural).
    */
  private[graft] def quorumHealAnnStore(spark: SparkSession,
      roots: Seq[String]): Seq[String] = {
    require(roots.length == 3, "the vote below is written for 3 replicas")
    val vers = roots.map(r => latestCommittedVersion(r).getOrElse(
      throw new IllegalStateException(
        s"no committed index version under $r — refusing to vote")))
    val dirs = roots.zip(vers).map { case (r, v) =>
      new java.io.File(r, s"v$v").getAbsolutePath
    }
    // 12 independent digest scans (4 components × 3 replicas) —
    // overlapped (guide §2.6); results stay positional per (replica,
    // component), so the vote below is order-deterministic
    val digFlat = graft.functions.Par.run(
      for (d <- dirs; c <- annStoreComps)
        yield (() => annComponentDigest(spark, d, c)))
    val digs = dirs.indices.map(i => annStoreComps.zipWithIndex.map {
      case (c, j) => c -> digFlat(i * annStoreComps.length + j)
    }.toMap)
    // vote each component; collect (convicted root idx, comp, src idx)
    val heals = annStoreComps.flatMap { c =>
      val ds = digs.map(_(c))
      val groups = ds.zipWithIndex.groupBy(_._1)
      val maj = groups.maxBy { case (_, m) => (m.size, -m.head._2) }
      if (maj._2.size == 1) throw new IllegalStateException(
        s"component $c: three-way digest tie — no majority to heal " +
          "from; every root keeps serving its newest committed base")
      if (maj._2.size == 3) Seq.empty
      else {
        val src = maj._2.map(_._2).min // lowest-agreeing replica
        (0 until 3).filterNot(maj._2.map(_._2).contains)
          .map(bad => (bad, c, src))
      }
    }
    val convicted = heals.map(_._1).distinct.sorted
    convicted.foreach { i =>
      val next = StoreVersions.next(roots(i))
      val dst = new java.io.File(roots(i), s"v$next")
      val srcByComp = heals.filter(_._1 == i)
        .map(h => h._2 -> h._3).toMap
      annStoreComps.foreach { c =>
        val from = srcByComp.get(c).map(dirs).getOrElse(dirs(i))
        copyTree(new java.io.File(from, c), new java.io.File(dst, c))
      }
      // manifest LAST — counts per component from wherever it came;
      // intact components digest-equal the majority's, so the healed
      // manifest equals the majority's verbatim (spec-pinned)
      val counts = annStoreComps.map { c =>
        val from = srcByComp.get(c).map(dirs).getOrElse(dirs(i))
        val line = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(from, "_MANIFEST")), "UTF-8")
          .split("\n").find(_.startsWith(s"$c ")).get
        line
      }
      java.nio.file.Files.write(dst.toPath.resolve("_MANIFEST"),
        counts.mkString("\n").getBytes("UTF-8"))
    }
    convicted.map(roots)
  }

  /** v32: INDEX-STORE QUORUM — the missing replica story for the
    * fleet's shared ANN artifact: dq10-dq12 made the RELATIONAL
    * store replicated, voted and self-healing; v32 applies the same
    * anti-entropy loop to the index store the serving doors
    * bootstrap from. The query runs it end-to-end: the trainer's
    * one build ships to THREE roots (fleet replication); a minority
    * root's graph component is poisoned SELF-CONSISTENTLY (an edge
    * dropped and the manifest count rewritten to match — the count
    * gate passes, only a cross-replica vote can see it); the quorum
    * convicts the minority by component digest, heals it from the
    * lowest-agreeing majority root (copy-on-write next version,
    * manifest last), and a second pass finds unanimity and
    * publishes nothing. The emitted rows are the HEALED minority
    * root's serve — bitwise the trained index's, so the oracle is
    * v21's serve chain VERBATIM (the poison, the vote and the heal
    * are all semantically invisible — the store-boundary contract
    * every lifecycle operator in this family proves).
    *
    * Scale: the vote is one scan + one tiny aggregate per component
    * per replica (the Cassandra/Dynamo anti-entropy cost); the heal
    * copies only the convicted root's bytes (object-store
    * server-side copy in production — at component grain, so an
    * intact 100 TB vectors component is never rewritten for a
    * poisoned 1 GB graph). */
  def v32(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_v32_")
      .toFile
    graft.operators.Incremental.cleanupOnExit(base)
    val roots = Seq("r1", "r2", "r3").map(nm =>
      new java.io.File(base, nm).getAbsolutePath)
    val ix0 = v21Static(spark, dir)
    // three independent replica publishes — overlap them (guide
    // §2.6); each write lands under its own root
    graft.functions.Par.run(roots.map(r => () => saveIndexVersion(ix0, r)))
    ix0.reps.unpersist()
    // PLANT: drop r2's graph's last edge, self-consistently
    val gdir = s"${roots(1)}/v1/graph"
    val g = spark.read.parquet(gdir)
    val victim = g.orderBy(col("src_id").desc, col("nbr_id").desc)
      .limit(1)
    val poisoned = g.exceptAll(victim).localCheckpoint()
    val nP = poisoned.count()
    val gd = new java.io.File(gdir)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(gd)
    poisoned.write.parquet(gdir)
    val mfp = java.nio.file.Paths.get(roots(1), "v1", "_MANIFEST")
    val mf = new String(java.nio.file.Files.readAllBytes(mfp), "UTF-8")
      .split("\n").map { l =>
        if (l.startsWith("graph ")) s"graph $nP" else l
      }
    java.nio.file.Files.write(mfp, mf.mkString("\n").getBytes("UTF-8"))
    graft.functions.Lineage.freeCheckpoint(poisoned)
    // VOTE + HEAL, then the idempotence pass
    val healed = quorumHealAnnStore(spark, roots)
    require(healed == Seq(roots(1)),
      s"the quorum must convict exactly the poisoned root: $healed")
    require(quorumHealAnnStore(spark, roots).isEmpty,
      "a second pass over healed stores must publish nothing")
    // SERVE from the healed minority store, cold, through the gate
    spark.sharedState.cacheManager.clearCache()
    val (ix, _) = loadLatestIndex(spark, roots(1))
    v21ServeBatch(ix, codebook(vectors(spark, dir), "vec_id < 10"))
      .transform(graft.Tables.ordered(_, col("qid"), col("rnk")))
  }

  /** v32 oracle: v21's, verbatim — replication, the poison, the
    * vote and the heal must all be semantically invisible to
    * serving. */
  val v32Sql: String = v21Sql

  /** v31 oracle: v21's serve chain over the BASE corpus predicate —
    * the insert and erasure deltas cancel in the fold, so the
    * segment lifecycle must be semantically invisible. */
  val v31Sql: String =
    s"""WITH ${v21CteChain(s"vec_id >= 10 AND vec_id % $v26ModK <> 0")},
      |r AS (SELECT qid, node AS vec_id, score AS cos_sim,
      |        CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, node) AS INTEGER) AS rnk
      |      FROM v$v21Hops)
      |SELECT r.qid, r.rnk, r.vec_id, r.cos_sim,
      |  CAST(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_exact
      |FROM r LEFT JOIN brute b ON b.qid = r.qid AND b.vec_id = r.vec_id
      |WHERE r.rnk <= $knnK
      |ORDER BY r.qid, r.rnk""".stripMargin
}
