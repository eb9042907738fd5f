package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Bounded, Iterate}

/** Deduplication operators over `documents` (SURVEY.md §2 d1-d5).
  *
  * The testdata corpus has no duplicates, so each query seeds
  * deterministic (near-)duplicates *inside* the query — the same
  * derivation on the oracle side where one exists — and then runs the
  * real pipeline against the expanded corpus.
  *
  * Scale design:
  *  - exact dedup: hash group-by, one shuffle on the digest.
  *  - MinHash/LSH: shingle → 16 minhashes → 4 banded keys; the only
  *    shuffles are the (band, signature) bucket join and the
  *    candidate-pair verification join, both equality joins. No O(n²)
  *    pass ever happens; candidates carry only doc ids, shingles are
  *    re-joined by id (keeps shuffle rows narrow).
  *  - SimHash: 64-bit fingerprint; near-dup candidates via 7 block
  *    buckets (pigeonhole: hamming<=6 pairs share >=1 of 7 exact
  *    blocks — k+1 blocks for radius k), verified with
  *    bit_count(xor).
  *  - embedding near-dup: broadcast-codebook scoring ([[Knn]]);
  *    the pruned path at 100 TB is the LSH/IVF machinery there.
  *
  * Candidate generation and verification are native Catalyst
  * (explode + codegen'd aggregates, xxhash64, bit ops, inverted-index
  * joins); only the vector dot products run as typed JIT loops.
  */
object Dedup {

  // ---------- d1: exact dedup via normalized-text digest ----------

  def d1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val copies = docs.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 10000).as("doc_id"), $"text")
    docs.unionByName(copies)
      .select($"doc_id", md5(lower(trim($"text"))).as("digest"))
      .groupBy($"digest")
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .select($"canonical_id", $"n_copies", $"digest")
      .orderBy($"canonical_id")
  }

  val d1Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
      |h AS (SELECT doc_id, md5(lower(trim(text))) AS digest FROM corpus)
      |SELECT min(doc_id) AS canonical_id, count(*) AS n_copies, digest
      |FROM h
      |GROUP BY digest
      |ORDER BY canonical_id""".stripMargin

  // ---------- shared: corpus with seeded near-duplicates ----------

  private def nearDupCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val mutated = docs.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 10000).as("doc_id"),
        concat($"text", lit(" zq extra tail token")).as("text"))
    docs.unionByName(mutated)
  }

  /** Word 3-gram shingle set (falls back to the whole text for very
    * short documents).
    */
  private val shingleExpr =
    """CASE WHEN size(words) >= 3
      | THEN array_distinct(transform(sequence(0, size(words) - 3),
      |        i -> concat_ws(' ', slice(words, i + 1, 3))))
      | ELSE array(concat_ws(' ', words)) END""".stripMargin.replace("\n", "")

  private def shingled(spark: SparkSession, dir: String): DataFrame =
    nearDupCorpus(spark, dir)
      .selectExpr("doc_id", "split(lower(trim(text)), ' ') AS words")
      .selectExpr("doc_id", s"($shingleExpr) AS sh")

  /** Exploded (doc_id, shingle) index over an arbitrary (doc_id,
    * text) corpus (spec support for the banding machinery).
    */
  private[graft] def shingleExplode(corpus: DataFrame): DataFrame =
    corpus
      .selectExpr("doc_id", "split(lower(trim(text)), ' ') AS words")
      .selectExpr("doc_id", s"explode($shingleExpr) AS s")

  /** Exploded (doc_id, shingle) inverted index + per-doc set sizes. */
  private def shingleIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val shx = shingled(spark, dir)
      .selectExpr("doc_id", "explode(sh) AS s").cache()
    val sizes = shx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    (shx, sizes)
  }

  /** Exact Jaccard for candidate (id_a, id_b) pairs via inverted-index
    * joins: |A ∩ B| as a shingle-equality join count, |A ∪ B| from set
    * sizes. Fully codegen'd — array_intersect/array_union over carried
    * shingle arrays are interpreted and ship the arrays through every
    * shuffle; the index join ships only (doc_id, shingle) pairs.
    */
  private def jaccardOf(cand: DataFrame, shx: DataFrame, sizes: DataFrame): DataFrame =
    cand
      .join(shx.select(col("doc_id").as("id_a"), col("s")), Seq("id_a"))
      .join(shx.select(col("doc_id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .selectExpr("id_a", "id_b",
        "CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) AS jaccard")

  // ---------- d2: MinHash + LSH banding ----------

  private val nHashes = 16
  private val nBands = 4
  private val rowsPerBand = nHashes / nBands

  /** Band count targeting a Jaccard threshold τ with r rows/band: the
    * banding S-curve's midpoint (50% collision similarity) sits at
    * (1/b)^(1/r), so b = ⌈τ^−r⌉ is the least band count placing the
    * midpoint AT OR BELOW τ — pairs at the threshold then collide in
    * ≥ 1 − (1 − τ^r)^b of runs. The d2/d10 knob for tuning banding to
    * a corpus's dedup threshold (d8's `lshBitsFor` is the
    * bucket-budget sibling); the suite's fixed 4×4 banding sits at
    * midpoint (1/4)^(1/4) ≈ 0.71, above its 0.4 verify threshold —
    * high precision and bounded fan-out, with recall measured by the
    * d10 seeded spec rather than guaranteed by the curve.
    */
  def bandsFor(tau: Double, rowsPerBand: Int): Int = {
    require(tau > 0 && tau < 1 && rowsPerBand >= 1)
    math.max(1, math.ceil(math.pow(1.0 / tau, rowsPerBand.toDouble)).toInt)
  }

  /** The LSH skew guard: buckets holding more than `bucketCap`
    * members are dropped from candidate generation entirely. A bucket
    * that big means the banding stopped discriminating (boilerplate /
    * identical-text floods) and would otherwise emit O(bucket²)
    * candidate pairs — the one quadratic blow-up LSH is supposed to
    * prevent. Exact duplicates belong to d1's digest group-by, not
    * here; dropping the pathological bucket loses nothing a correctly
    * divided pipeline needs. Mirrored in the oracle, so the capped
    * semantics are what the bitwise check verifies.
    */
  private[graft] val bucketCap = 100

  /** Occupancy-relative cap for LOW-cardinality pigeonhole blocks
    * (d3/m6). Those blocks have only 2^w distinct values, so EVERY
    * bucket grows linearly with the corpus — under a fixed cap the
    * entire block silently caps out once n > cap·2^w and recall
    * collapses to zero (at 9-bit blocks that is already ~51k docs).
    * Scaling the cap with the uniform expectation n/2^w keeps
    * uniform growth uncapped forever; only buckets ≥ 8× the mean —
    * true hot keys where the hash stopped discriminating — drop.
    * d2's band signatures keep the FIXED cap: that key space is
    * effectively unbounded, so a big bucket there is always
    * pathological, never uniform growth.
    */
  private[graft] def occupancyCap(n: Long, widthBits: Int): Long = {
    val buckets = 1L << widthBits
    math.max(bucketCap.toLong, 8L * ((n + buckets - 1) / buckets))
  }

  /** (doc_id, band, sig) bucket table from an exploded (doc_id,
    * shingle) index: shingle → 16 seeded-FNV minhashes → 4 band
    * signatures. Shared by d2 (self-join) and d10 (asymmetric
    * train × eval join).
    *
    * Minhash runs via explode + codegen'd min-aggregates (an
    * aggregate() lambda over the shingle array is interpreted —
    * measured ~10x). Seeded FNV-1a ("k:shingle") instead of
    * xxhash64: same codegen cost Spark-side, and exactly mirrorable
    * in DuckDB (xxhash64 is not) — the full bitwise oracle.
    */
  private[graft] def bandSignatures(shx: DataFrame): DataFrame = {
    import shx.sparkSession.implicits._
    import graft.functions.Fnv64
    val mhCols = (0 until nHashes).map(k =>
      min(Fnv64.fnv64(concat(lit(s"$k:"), $"s"))).as(s"mh$k"))
    val sigs = shx
      .groupBy($"doc_id")
      .agg(mhCols.head, mhCols.tail: _*)
    val withSigs = sigs.select(col("doc_id") +: (0 until nBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(k => col(s"mh$k").cast("string"))
      Fnv64.fnv64(concat(lit(s"$b:"), concat_ws(",", cols: _*))).as(s"sig$b")
    }: _*)
    val bandStructs = (0 until nBands)
      .map(b => s"named_struct('band', $b, 'sig', sig$b)").mkString(", ")
    withSigs.selectExpr("doc_id",
      s"posexplode(array($bandStructs)) AS (pos, bs)")
      .selectExpr("doc_id", "bs.band AS band", "bs.sig AS sig")
  }

  /** Banded candidate pairs from an exploded (doc_id, shingle) index,
    * with buckets over `cap` dropped (skew guard).
    */
  private[graft] def bandedCandidates(shx: DataFrame, cap: Int): DataFrame = {
    import shx.sparkSession.implicits._
    val buckets = bandSignatures(shx)
    val bounded = buckets
      .join(buckets.groupBy($"band", $"sig").agg(count(lit(1)).as("bsz")),
        Seq("band", "sig"))
      .filter($"bsz" <= cap)
    bounded.as("a")
      .join(bounded.as("b"), $"a.band" === $"b.band" && $"a.sig" === $"b.sig" &&
        $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .distinct()
  }

  def d2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (shx, sizes) = shingleIndex(spark, dir)
    jaccardOf(bandedCandidates(shx, bucketCap), shx, sizes)
      .filter($"jaccard" >= 0.4)
      .transform(graft.Tables.ordered(_, $"id_a", $"id_b"))
  }

  /** Full d2 oracle: the same shingle → 16 seeded-FNV minhashes →
    * 4 band signatures → bucket join → Jaccard verification, in
    * DuckDB. Hashes are computed on DISTINCT shingle strings and
    * joined back (the fold lambda is interpreted — distinct keeps it
    * off the per-row path); min/bucket/Jaccard math is all integer,
    * so the whole result is bitwise.
    */
  /** d2's full CTE chain (corpus → shingles → minhash sigs → capped
    * band buckets → candidates → verified `j`), WITHOUT the leading
    * `WITH` or a final SELECT — so d2Sql and d13Sql (which composes a
    * recursive closure on top) share one bitwise-identical pipeline.
    */
  private lazy val d2Chain: String = {
    import graft.functions.Fnv64
    val hashCols = (0 until nHashes)
      .map(k => s"${Fnv64.duckSigned(s"('$k:' || s)")} AS h$k").mkString(",\n  ")
    val minCols = (0 until nHashes).map(k => s"min(h$k) AS mh$k").mkString(", ")
    val bandSelects = (0 until nBands).map { b =>
      val catted = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(k => s"CAST(mh$k AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, ${Fnv64.duckSigned(s"('$b:' || $catted)")} AS sig FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, text || ' zq extra tail token' FROM documents WHERE doc_id % 7 = 0),
      |w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS words FROM corpus),
      |sh AS (SELECT doc_id,
      |         CASE WHEN len(words) >= 3
      |           THEN list_distinct(list_transform(range(0, len(words) - 2),
      |                  i -> array_to_string(words[(i + 1):(i + 3)], ' ')))
      |           ELSE [array_to_string(words, ' ')] END AS s
      |       FROM w),
      |shx AS (SELECT doc_id, unnest(s) AS s FROM sh),
      |hs AS (SELECT s,
      |  $hashCols
      |  FROM (SELECT DISTINCT s FROM shx)),
      |sigs AS (SELECT doc_id, $minCols
      |         FROM shx JOIN hs USING (s) GROUP BY doc_id),
      |bands AS ($bandSelects),
      |bcnt AS (SELECT band, sig, count(*) AS bsz FROM bands GROUP BY 1, 2),
      |bands2 AS (SELECT b.doc_id, b.band, b.sig FROM bands b
      |           JOIN bcnt USING (band, sig) WHERE bsz <= $bucketCap),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM bands2 a JOIN bands2 b
      |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      |j AS (SELECT id_a, id_b,
      |        CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |          / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
      |      FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b)""".stripMargin
  }

  val d2Sql: String =
    s"""WITH $d2Chain
      |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.4
      |ORDER BY id_a, id_b""".stripMargin

  // ---------- d10: fuzzy cross-corpus decontamination ----------

  /** d10: MinHash-banded TRAIN × EVAL decontamination — the fuzzy
    * companion to t10's exact 8-gram overlap: an eval item that was
    * paraphrased or truncated into the crawl shares most shingles but
    * no exact 8-gram run, and only a near-dup check catches it. Same
    * banding machinery as d2, but the join is ASYMMETRIC: eval is a
    * benchmark suite (thousands of docs — broadcastable), so at scale
    * the eval band table broadcasts and the train side never
    * shuffles for candidate generation at all; verification touches
    * only bucketed pairs through the (doc_id, shingle) index.
    *
    * The eval side here derives near-dup variants of every 11th doc
    * (suffix mutation, ids +200000) — the seeded ground truth the
    * spec checks recall against.
    */
  def d10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val corpus = docs
      .unionByName(docs.filter($"doc_id" % 11 === 0)
        .select(($"doc_id" + 200000).as("doc_id"),
          concat($"text", lit(" benchmark eval suffix xq")).as("text")))
    val shx = shingleExplode(corpus).cache()
    val buckets = bandSignatures(shx)
    val cand = buckets.filter($"doc_id" < 200000).as("a")
      .join(broadcast(buckets.filter($"doc_id" >= 200000).as("b")),
        $"a.band" === $"b.band" && $"a.sig" === $"b.sig")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .distinct()
    val sizes = shx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    jaccardOf(cand, shx, sizes)
      .filter($"jaccard" >= 0.4)
      .select($"id_a".as("train_id"), $"id_b".as("eval_id"), $"jaccard")
      .transform(graft.Tables.ordered(_, $"train_id", $"eval_id"))
  }

  /** Full d10 oracle: d2's CTE mirror with the train∪eval corpus and
    * the asymmetric (train < 200000 ≤ eval) bucket join.
    */
  val d10Sql: String = {
    import graft.functions.Fnv64
    val hashCols = (0 until nHashes)
      .map(k => s"${Fnv64.duckSigned(s"('$k:' || s)")} AS h$k").mkString(",\n  ")
    val minCols = (0 until nHashes).map(k => s"min(h$k) AS mh$k").mkString(", ")
    val bandSelects = (0 until nBands).map { b =>
      val catted = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(k => s"CAST(mh$k AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, ${Fnv64.duckSigned(s"('$b:' || $catted)")} AS sig FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' benchmark eval suffix xq' FROM documents WHERE doc_id % 11 = 0),
      |w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS words FROM corpus),
      |sh AS (SELECT doc_id,
      |         CASE WHEN len(words) >= 3
      |           THEN list_distinct(list_transform(range(0, len(words) - 2),
      |                  i -> array_to_string(words[(i + 1):(i + 3)], ' ')))
      |           ELSE [array_to_string(words, ' ')] END AS s
      |       FROM w),
      |shx AS (SELECT doc_id, unnest(s) AS s FROM sh),
      |hs AS (SELECT s,
      |  $hashCols
      |  FROM (SELECT DISTINCT s FROM shx)),
      |sigs AS (SELECT doc_id, $minCols
      |         FROM shx JOIN hs USING (s) GROUP BY doc_id),
      |bands AS ($bandSelects),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.sig = b.sig
      |           AND a.doc_id < 200000 AND b.doc_id >= 200000),
      |j AS (SELECT id_a, id_b,
      |        CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |          / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
      |      FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b)
      |SELECT id_a AS train_id, id_b AS eval_id, jaccard FROM j WHERE jaccard >= 0.4
      |ORDER BY train_id, eval_id""".stripMargin
  }

  // ---------- d3: SimHash fingerprint + hamming near-dups ----------

  /** Pigeonhole blocking for the hamming ≤ 6 verify filter: k+1 = 7
    * blocks (10,9,9,9,9,9,9 bits), so any pair within hamming 6
    * leaves ≥ 1 block untouched and meets in that block's bucket —
    * guaranteed recall. 4 blocks of 16 bits would only guarantee
    * hamming ≤ 3 (a hamming-4 pair can differ in every block). The
    * top block ends exactly at bit 63 so signed `shiftright + mask`
    * (Spark) and unsigned `// 2^off % 2^w` (DuckDB) extract identical
    * bits. Pure bit-position pigeonhole — holds for any 64-bit hash
    * (BlockingSpec pins this).
    */
  val d3Blocks: Seq[(Int, Int)] =
    Seq((0, 10), (10, 9), (19, 9), (28, 9), (37, 9), (46, 9), (55, 9))

  def d3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // per-bit vote sums via explode + 64 codegen'd aggregates (nested
    // aggregate() lambdas over words x bits are interpreted and slow)
    // FNV-1a word hashes (not xxhash64) so the DuckDB oracle can
    // reproduce the fingerprints bitwise
    val words = nearDupCorpus(spark, dir)
      .selectExpr("doc_id", "explode(split(lower(trim(text)), ' ')) AS w")
      .select(col("doc_id"), graft.functions.Fnv64.fnv64(col("w")).as("h"))
    val voteCols = (0 until 64).map(j =>
      sum(expr(s"CASE WHEN (shiftright(h, $j) & 1) = 1 THEN 1 ELSE -1 END")).as(s"v$j"))
    val votes = words.groupBy($"doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
    val fpExpr = (0 until 64)
      .map(j => s"CASE WHEN v$j > 0 THEN shiftleft(1L, $j) ELSE 0L END")
      .grouped(8).map(_.mkString("(", " + ", ")")).mkString(" + ")
    val fp = votes.selectExpr("doc_id", s"($fpExpr) AS fp").cache()
    val blockArr = d3Blocks.map { case (off, w) =>
      s"shiftright(fp, $off) & ${(1 << w) - 1}"
    }.mkString("array(", ", ", ")")
    val chunks = fp.selectExpr("doc_id", "fp",
      s"posexplode($blockArr) AS (chunk_idx, chunk)")
    // Skew guard on the 9-10-bit block buckets — OCCUPANCY-RELATIVE
    // ([[occupancyCap]]), not d2's fixed cap: with only 2^9 values
    // per block every bucket grows ~n/512, so a fixed cap would
    // silently zero the block's recall past ~51k docs. Only buckets
    // ≥ 8× the uniform mean (hot keys where the hash stopped
    // discriminating) drop; the guaranteed ≤6 recall holds for pairs
    // in uncapped buckets (mirrored in the oracle). The
    // zero-extra-candidate alternative is Manku et al. 2007's
    // multi-table block-combination keys — documented, not needed at
    // the d3 radius.
    val nDocs = fp.count()
    val capExpr = d3Blocks.zipWithIndex.map { case ((_, w), c) =>
      s"WHEN $c THEN ${occupancyCap(nDocs, w)}"
    }.mkString("CASE chunk_idx ", " ", " END")
    val bounded = chunks
      .join(chunks.groupBy($"chunk_idx", $"chunk").agg(count(lit(1)).as("bsz")),
        Seq("chunk_idx", "chunk"))
      .filter($"bsz" <= expr(capExpr))
      .select($"doc_id", $"fp", $"chunk_idx", $"chunk")
    bounded.as("a").join(bounded.as("b"),
        $"a.chunk_idx" === $"b.chunk_idx" && $"a.chunk" === $"b.chunk" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        expr("bit_count(a.fp ^ b.fp)").as("hamming"))
      .distinct()
      .filter($"hamming" <= 6)
      .orderBy($"id_a", $"id_b")
  }

  /** Full d3 oracle: SimHash rebuilt in DuckDB on the same FNV word
    * hashes. Bit extraction runs on the unsigned HUGEINT state
    * (`(hu // 2^j) % 2`, unambiguous — no reliance on the engine's
    * signed-shift semantics); Spark's `shiftright(h, j) & 1` extracts
    * the identical physical bit from the two's-complement BIGINT.
    * Votes, fingerprint assembly, [[d3Blocks]] pigeonhole blocking and
    * bit_count(xor) Hamming verification are all integer math.
    */
  val d3Sql: String = {
    import graft.functions.Fnv64
    val voteCols = (0 until 64)
      .map(j => s"sum(CASE WHEN CAST((hu // ${bigPow2(j)}) % 2 AS BIGINT) = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n  ")
    val fpExpr = (0 until 64)
      .map(j => s"CASE WHEN v$j > 0 THEN ${bigPow2(j)} ELSE CAST(0 AS HUGEINT) END")
      .mkString(" + ")
    val chunkSelects = d3Blocks.zipWithIndex.map { case ((off, w), c) =>
      s"SELECT doc_id, fp, $c AS chunk_idx, CAST((fpu // ${bigPow2(off)}) % ${1L << w} AS BIGINT) AS chunk FROM fps"
    }.mkString("\n  UNION ALL ")
    // the occupancy-relative cap (occupancyCap) in SQL: n comes from
    // a count CTE so the oracle tracks the corpus exactly like the
    // Spark side's fp.count()
    val capCase = d3Blocks.zipWithIndex.map { case ((_, w), c) =>
      val b = 1L << w
      s"WHEN $c THEN greatest(100, 8 * ((n + ${b - 1}) // $b))"
    }.mkString("CASE chunk_idx ", " ", " END")
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, text || ' zq extra tail token' FROM documents WHERE doc_id % 7 = 0),
      |wx AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w FROM corpus),
      |hw AS (SELECT w, ${Fnv64.duckUnsigned("w")} AS hu
      |       FROM (SELECT DISTINCT w FROM wx)),
      |votes AS (SELECT doc_id,
      |  $voteCols
      |  FROM wx JOIN hw USING (w) GROUP BY doc_id),
      |fpt AS (SELECT doc_id, ($fpExpr) AS fpu FROM votes),
      |fps AS (SELECT doc_id, fpu, ${Fnv64.duckToSigned("fpu")} AS fp FROM fpt),
      |chunks AS ($chunkSelects),
      |bcnt AS (SELECT chunk_idx, chunk, count(*) AS bsz FROM chunks GROUP BY 1, 2),
      |ncnt AS (SELECT count(*) AS n FROM fps),
      |bounded AS (SELECT doc_id, fp, chunk_idx, chunk FROM chunks
      |            JOIN bcnt USING (chunk_idx, chunk), ncnt
      |            WHERE bsz <= $capCase),
      |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |            CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
      |          FROM bounded a JOIN bounded b
      |            ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 6
      |ORDER BY id_a, id_b""".stripMargin
  }

  /** 2^j as a HUGEINT literal (j up to 63 overflows BIGINT). */
  private def bigPow2(j: Int): String =
    s"CAST('${BigInt(2).pow(j)}' AS HUGEINT)"

  // ---------- d7: dedup application — surviving corpus report ----------

  /** d7: apply exact dedup end-to-end and report retention per
    * language: group the (seeded-duplicate) corpus by content digest,
    * keep the minimum doc_id per digest, and roll up kept/removed
    * counts by the original document's language. The "what did dedup
    * do to my corpus" report every training-data pipeline ends with.
    * Two shuffles (digest group, lang rollup); the lang lookup is a
    * broadcast-size dimension join at any scale.
    */
  def d7(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val copies = docs.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 10000).as("doc_id"), $"text")
    val corpus = docs.unionByName(copies)
      .select($"doc_id", md5(lower(trim($"text"))).as("digest"))
    val keep = corpus.groupBy($"digest").agg(min($"doc_id").as("keep_id"))
    val flagged = corpus.join(keep, Seq("digest"))
      .select($"doc_id", ($"doc_id" === $"keep_id").as("kept"))
    val langs = Tables.documents(spark, dir).select($"doc_id".as("base_id"), $"lang")
    flagged.join(broadcast(langs), flagged("doc_id") % 10000 === langs("base_id"))
      .groupBy($"lang")
      .agg(sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"kept", 0L).otherwise(1L)).as("n_removed"))
      .orderBy($"lang")
  }

  val d7Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 5 = 0),
      |h AS (SELECT doc_id, md5(lower(trim(text))) AS digest FROM corpus),
      |k AS (SELECT digest, min(doc_id) AS keep_id FROM h GROUP BY digest),
      |f AS (SELECT h.doc_id, h.doc_id = k.keep_id AS kept FROM h JOIN k USING (digest))
      |SELECT d.lang,
      |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
      |FROM f JOIN documents d ON d.doc_id = f.doc_id % 10000
      |GROUP BY d.lang
      |ORDER BY d.lang""".stripMargin

  // ---------- d4: n-gram Jaccard verification of seeded pairs ----------

  def d4(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (shx, sizes) = shingleIndex(spark, dir)
    val pairs = Tables.documents(spark, dir)
      .filter($"doc_id" % 7 === 0)
      .select($"doc_id".as("id_a"), ($"doc_id" + 10000).as("id_b"))
    jaccardOf(pairs, shx, sizes)
      .transform(graft.Tables.ordered(_, $"id_a"))
  }

  /** d4 oracle: the same shingle/Jaccard pipeline in DuckDB list
    * lambdas (identical 3-gram windows, distinct sets, and
    * inter/(na+nb-inter) formula — integer-derived doubles, bitwise).
    */
  val d4Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, text || ' zq extra tail token' FROM documents WHERE doc_id % 7 = 0),
      |w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS words FROM corpus),
      |sh AS (SELECT doc_id,
      |         CASE WHEN len(words) >= 3
      |           THEN list_distinct(list_transform(range(0, len(words) - 2),
      |                  i -> array_to_string(words[(i + 1):(i + 3)], ' ')))
      |           ELSE [array_to_string(words, ' ')] END AS s
      |       FROM w),
      |pairs AS (SELECT doc_id AS id_a, doc_id + 10000 AS id_b FROM documents WHERE doc_id % 7 = 0)
      |SELECT id_a, id_b,
      |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
      |FROM pairs JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b
      |ORDER BY id_a""".stripMargin

  // ---------- d6: near-dup cluster assembly (connected components) ----------
  // After pair discovery, duplicates must be clustered so one
  // canonical doc survives per component. Min-label propagation over
  // the pair graph: each round joins labels across edges and keeps
  // the minimum; near-dup components are tiny (chains of copies), so
  // a fixed number of rounds converges. At 100 TB this is the same
  // alternating large-star/small-star shape used by web-scale CC.

  def d6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = d6Edges(spark, dir).cache()
    val labels = components(edges) // never reads `edges` (its scaladoc)
    edges.unpersist()
    labels
      .groupBy($"lbl".as("component"))
      .agg(count(lit(1)).as("size"), min($"id").as("canonical_id"))
      .transform(graft.Tables.ordered(_, $"component"))
  }

  /** d6's seeded pair graph (src, dst): exact copies (x ~ x+10000)
    * and near-dups chained (x ~ x+20000 for doc_id % 14 == 0) to
    * force >2-node components.
    */
  private[graft] def d6Edges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id")
    val e1 = docs.filter($"doc_id" % 7 === 0)
      .select($"doc_id".as("src"), ($"doc_id" + 10000).as("dst"))
    val e2 = docs.filter($"doc_id" % 14 === 0)
      .select(($"doc_id" + 10000).as("src"), ($"doc_id" + 20000).as("dst"))
    e1.unionByName(e2)
  }

  /** Connected components (id, lbl) of a dup-pair edge list: min-label
    * propagation (diameter rounds — short copy chains) with a 20-round
    * budget. NO SILENT CAPS: a propagation that hits it has its labels
    * freed and the log-round star contraction runs instead; a stars
    * cap-out is a hard error, never a wrong answer.
    *
    * The labels never read `edges`: they are driver-local or a local
    * checkpoint the caller owns, so the caller may free `edges` as
    * soon as this returns.
    */
  private[graft] def components(edges: DataFrame,
      localMax: Long = Bounded.smallBudget): DataFrame =
    ccPropagate(edges, 20, localMax) match {
      case (l, _, true) => l
      case (l, _, false) =>
        graft.functions.Lineage.freeCheckpoint(l)
        val (s, _, conv) = ccStars(edges, 50, localMax)
        require(conv, "ccStars fallback did not converge within 50 rounds")
        // the stars' labels are built lazily over `edges` (and, on the
        // distributed path, over their last round's checkpoint, freed here)
        val out = s.localCheckpoint()
        graft.functions.Lineage.freeCheckpoint(s, keep = edges)
        out
    }

  /** Min-label propagation over an undirected edge list (src, dst):
    * each round is one shuffle; rounds needed = component DIAMETER.
    * Convergence-detected through [[Iterate.untilStable]]: the
    * per-round change count rides the round's checkpoint job.
    * Returns (labels(id, lbl), rounds run, converged).
    */
  private[graft] def ccPropagate(edges: DataFrame, maxRounds: Int,
      localMax: Long = Bounded.smallBudget): (DataFrame, Int, Boolean) = {
    val spark = edges.sparkSession
    import spark.implicits._
    // round-18 bounded-local fast path (guide §1.2): a dup-pair edge
    // set within the [[Bounded]] gate is metadata — run the IDENTICAL
    // one-hop min-label rounds on the driver (same per-round next =
    // min over self ∪ incoming labels, same convergence detection and
    // round count) instead of paying ~5 AQE stage jobs per diameter
    // round. The gate adapts per input at runtime; a corpus-grain
    // edge set stays distributed.
    val local = Bounded.collect(
      edges.select($"src", $"dst").as[(Long, Long)], localMax)
    if (local.isDefined) {
      val eL = local.get
      val und = eL ++ eL.map(p => (p._2, p._1))
      val inc = und.groupBy(_._2) // id -> (src, id) incoming edges
      val nodesL = und.iterator.map(_._1).toSet
      var lbl = nodesL.iterator.map(id => id -> id).toMap
      var converged = false
      var rounds = 0
      while (!converged && rounds < maxRounds) {
        val next = nodesL.iterator.map { id =>
          val viaEdge = inc.get(id) match {
            case Some(es) => es.iterator.map(e => lbl(e._1)).min
            case None => Long.MaxValue
          }
          id -> math.min(lbl(id), viaEdge)
        }.toMap
        converged = next == lbl
        lbl = next
        rounds += 1
      }
      return (lbl.toSeq.toDF("id", "lbl"), rounds, converged)
    }
    val nodes = edges.select($"src".as("id"))
      .unionByName(edges.select($"dst".as("id"))).distinct()
    val und = edges.unionByName(edges.select($"dst".as("src"), $"src".as("dst"))).cache()
    // the neighbor-min is aggregated ALONE and joined back onto the
    // labels (least() == union-then-min, since least skips NULLs),
    // which exposes the per-id "changed" bit (vmin < lbl) inside the
    // round's plan for the observed change count
    val out = Iterate.untilStable(nodes.withColumn("lbl", $"id"), maxRounds,
        sum(when($"chg", 1L).otherwise(0L))) { labels =>
      val viaEdge = und.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select($"dst".as("id"), $"lbl".as("vlbl"))
      labels
        .join(viaEdge.groupBy($"id").agg(min($"vlbl").as("vmin")),
          Seq("id"), "left_outer")
        .select($"id", least($"lbl", $"vmin").as("lbl"),
          ($"vmin" < $"lbl").as("chg"))
    }
    und.unpersist()
    out
  }

  /** The driver-side twin of [[ccStars]]'s round loop: the SAME
    * alternating large-star/small-star contraction over a collected
    * canonical edge set, with convergence by exact set equality.
    * Labels, round count and convergence match the distributed loop
    * (set equality ⟺ the sig compare, absent an xxhash64 xor
    * collision — which would silently mislabel the distributed path
    * too; exact comparison is strictly safer).
    */
  private def ccStarsLocal(edges0: Set[(Long, Long)], maxRounds: Int)
      : (Set[(Long, Long)], Int, Boolean) = {
    var e = edges0
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val und = e.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val mins = und.groupBy(_._1).map { case (u, vs) =>
        u -> math.min(u, vs.iterator.map(_._2).min)
      }
      val large = und.collect { case (u, v) if v > u =>
        val m = mins(u)
        (math.min(v, m), math.max(v, m))
      }.filter { case (a, b) => a != b }
      val oriented = large.map { case (a, b) => (b, a) }
      val mins2 = oriented.groupBy(_._1).map { case (u, vs) =>
        u -> vs.iterator.map(_._2).min
      }
      val small = oriented.map { case (u, v) => (v, mins2(u)) } ++
        mins2.toSeq
      val en = small.map { case (a, b) =>
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }.toSet
      converged = en == e
      e = en
      rounds += 1
    }
    (e, rounds, converged)
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.
    * 2014, "Connected Components in MapReduce and Beyond") over an
    * edge list (src, dst): converges in O(log n) ROUNDS regardless of
    * diameter — the web-scale path for long-chain components where
    * propagation needs diameter rounds.
    *
    * Large-star connects every neighbor LARGER than a node to the min
    * of its closed neighborhood; small-star connects the
    * smaller-or-equal neighbors (and the node) to that min. At the
    * fixpoint the edges form stars rooted at each component's minimum
    * node. Per round: two groupBy-min shuffles + a distinct.
    * Convergence = edge-set fingerprint (count, xxhash XOR-fold) unchanged
    * — one tiny aggregate row per round, no full set compare.
    * Returns (labels(id, lbl), rounds run, converged).
    *
    * Bounded-local fast path (round 18, guide §1.2): a canonical edge
    * set of at most `localMax` rows is METADATA — the dq11
    * quorum-vote bounded-collect class — and iterating the identical
    * star alternation on the driver ([[ccStarsLocal]]) skips ~6 AQE
    * stage jobs per round. Inputs bounded BY CONSTRUCTION
    * (w25/w27/w30's grid-bounded blob/segment graphs, v17's seeded
    * dup pairs) take it at every corpus scale. Unlike the other
    * twins it needs no [[Bounded.collect]] probe: the decision comes
    * from the row count the initial `sig` already observed.
    */
  private[graft] def ccStars(edges: DataFrame, maxRounds: Int,
      localMax: Long = Bounded.smallBudget): (DataFrame, Int, Boolean) = {
    val spark = edges.sparkSession
    import spark.implicits._
    def canon(df: DataFrame): DataFrame = df
      .select(least($"a", $"b").as("a"), greatest($"a", $"b").as("b"))
      .filter($"a" =!= $"b").distinct()
    // the (count, xor-fold) fingerprint RIDES each round's checkpoint
    // job as an observed metric (round 19, guide §2.6): the separate
    // per-round `agg.collect` scan job is gone; the values are the
    // same global aggregates over the same materialized rows.
    def sigObs(df: DataFrame): (DataFrame, () => (Long, Long)) = {
      val obs = new org.apache.spark.sql.Observation()
      val out = df.observe(obs, count(lit(1)).as("n"),
          coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L)).as("h"))
        .localCheckpoint()
      (out, () => (obs.get("n").asInstanceOf[Long],
        obs.get("h").asInstanceOf[Long]))
    }
    // localCheckpoint (eager) per round: the alternating
    // union/join/distinct multiplies the LOGICAL plan ~8× per round,
    // so lineage must be cut — cache() alone leaves an exponentially
    // growing plan for the analyzer. Hand-written, not Iterate: it converges
    // on a fingerprint compare, and its round-0 row count picks the local path.
    val (e0, sig0) = sigObs(canon(edges.select($"src".as("a"), $"dst".as("b"))))
    var e = e0
    var curSig = sig0()
    if (curSig._1 <= localMax) {
      // BOUNDED-LOCAL PATH: the star set is metadata-sized — collect
      // it once (≤ `localMax` two-long rows), run the same
      // alternation on the driver, and mirror the distributed tail
      // exactly: every INPUT-graph node gets a label (self-loop-only
      // nodes rejoin as singletons via the same min/coalesce shape).
      val (stars, rounds, conv) = ccStarsLocal(
        e.as[(Long, Long)].collect().toSet, maxRounds)
      graft.functions.Lineage.freeCheckpoint(e)
      val lblOf = (stars.toSeq.map { case (a, b) => (b, a) } ++
        stars.toSeq.map { case (a, _) => (a, a) })
        .groupBy(_._1).map { case (id, ls) =>
          id -> ls.iterator.map(_._2).min
        }
      val nodes = edges.select($"src".as("id"))
        .unionByName(edges.select($"dst".as("id"))).distinct()
      val lblDf = lblOf.toSeq.toDF("id", "m")
      val labels = nodes
        .join(broadcast(lblDf), Seq("id"), "left")
        .select($"id", coalesce($"m", $"id").as("lbl"))
      return (labels, rounds, conv)
    }
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // round-18 (guide §2.4, measured): the intermediate canon keeps
      // only the map-side least/greatest/self-loop-filter — its
      // `distinct` is dropped because duplicate star edges are
      // absorbed by the small-star MIN aggregate and the final
      // `canon(small)` distinct (the SET of edges each round is
      // provably unchanged, so `sig`, convergence and labels are
      // bitwise identical); one full exchange+dedup gone per round.
      // (An explicit repartition-on-u variant was measured SLOWER at
      // bench scale — pinning the partitioning blocks AQE's
      // broadcast/coalesce path for these bounded star tables.)
      // large-star: for each u, m = min(N(u) ∪ {u}); emit (v, m) ∀ v > u
      val und = e.select($"a".as("u"), $"b".as("v"))
        .unionByName(e.select($"b".as("u"), $"a".as("v")))
      val mins = und.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"u", $"mn").as("m"))
      val large = und.join(mins, Seq("u"))
        .filter($"v" > $"u")
        .select(least($"v", $"m").as("a"), greatest($"v", $"m").as("b"))
        .filter($"a" =!= $"b")
      // small-star: orient big→small; for each u, m = min of its
      // smaller neighbors; emit (v, m) ∀ v and (u, m)
      val oriented = large.select($"b".as("u"), $"a".as("v"))
      val mins2 = oriented.groupBy($"u").agg(min($"v").as("m"))
      val small = oriented.join(mins2, Seq("u"))
        .select($"v".as("a"), $"m".as("b"))
        .unionByName(mins2.select($"u".as("a"), $"m".as("b")))
      val (en, nSigF) = sigObs(canon(small))
      val nSig = nSigF()
      converged = nSig == curSig
      graft.functions.Lineage.freeCheckpoint(e)
      e = en
      curSig = nSig
      rounds += 1
    }
    // every node of the INPUT graph gets a label: nodes whose only
    // edges were self-loops vanish from the star set (canon filters
    // a = b), so they rejoin here as singletons — keeps the stars
    // path output-equivalent to propagation on any edge list.
    val nodes = edges.select($"src".as("id"))
      .unionByName(edges.select($"dst".as("id"))).distinct()
    val labels = nodes
      .join(e.select($"b".as("id"), $"a".as("lbl"))
          .unionByName(e.select($"a".as("id"), $"a".as("lbl"))),
        Seq("id"), "left")
      .groupBy($"id").agg(min($"lbl").as("m"))
      .select($"id", coalesce($"m", $"id").as("lbl"))
    (labels, rounds, converged)
  }

  /** Closed-form ground truth for [[d6]]'s seeded graph: x%14==0
    * yields {x, x+10000, x+20000}, other x%7==0 yields {x, x+10000};
    * min label = x either way.
    */
  val d6Sql: String =
    """SELECT doc_id AS component,
      |  CAST(CASE WHEN doc_id % 14 = 0 THEN 3 ELSE 2 END AS BIGINT) AS size,
      |  doc_id AS canonical_id
      |FROM documents
      |WHERE doc_id % 7 = 0
      |ORDER BY component""".stripMargin

  // ---------- d5: embedding-cosine near-duplicate pairs ----------

  /** All-pairs cosine: the corpus streams through partitions and is
    * scored against a broadcast codebook of itself in a tight JIT
    * loop, emitting only above-threshold pairs. At 100 TB the same
    * shape holds with the codebook blocked: stream the corpus once
    * per codebook block. (Array-joining representations measured
    * ~10x slower — per-pair array deserialization.)
    */
  def d5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Knn.vectors(spark, dir).select($"vec_id", $"nv")
    val bc = spark.sparkContext.broadcast(Knn.codebook(e, "vec_id IS NOT NULL"))
    e.as[(Long, Array[Double])]
      .mapPartitions(_.flatMap { case (a, va) =>
        bc.value.iterator
          .filter(_._1 > a)
          .map { case (b, vb) => (a, b, Knn.cosQ(va, vb)) }
          .filter(_._3 >= 0.35)
      }).toDF("id_a", "id_b", "cos_sim")
      .orderBy($"id_a", $"id_b")
  }

  // ---------- d8: LSH-bucketed embedding near-dup (the scale path) ----------

  private val d8Tables = 20
  private val d8Bits = 5
  private val d8PlaneOffset = 100 // disjoint from v2's 48 plane rows

  /** Bucket-width sizing for hyperplane LSH: b bits/table gives 2^b
    * buckets, so expected candidates per item per table ≈ n / 2^b —
    * the bits MUST track corpus size or buckets blow up quadratically.
    * b = ceil(log2(n / perTableBudget)); d8's default (5 bits, 500
    * vectors) is this formula at budget ≈ 16, and the same code at
    * 1e9 vectors / budget 16 runs with b = 26. Verification cost is
    * then O(n · tables · budget) dots — linear in n by construction.
    */
  def lshBitsFor(corpusSize: Long, perTableBudget: Long): Int =
    math.max(1, math.ceil(
      math.log(corpusSize.toDouble / perTableBudget) / math.log(2.0)).toInt)

  private[operators] def d8Planes: Seq[Seq[Double]] =
    (0 until d8Tables * d8Bits).map(j => Knn.planeRow(d8PlaneOffset + j))

  /** d5's semantics through LSH candidate generation: random-hyperplane
    * band signatures (20 tables x 5 bits, Knn.planeRow's deterministic
    * planes) bucket the corpus; only pairs sharing a (table, bucket)
    * key are verified. Pair generation is a pure equality join on ids
    * (vectors are NOT carried through the bucket shuffle — a x20
    * replication at scale); the surviving candidates re-join their
    * embeddings by id for the exact quantized-cosine check, so
    * precision is 1.0 and recall is the banding probability
    * (measured 0.86 at the synthetic 0.35 threshold; at production
    * near-dup thresholds >=0.9 the same banding is ~1.0 recall with
    * ~1% candidate rate — the threshold here is what the synthetic
    * corpus makes available, not what the machinery is sized for).
    * The DuckDB oracle mirrors every plane literal and bucket bit, so
    * the whole pruned pipeline is bitwise-checked end to end.
    */
  def d8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Knn.vectors(spark, dir).select($"vec_id", $"nv")
    val bcPlanes = spark.sparkContext.broadcast(d8Planes.map(_.toArray).toArray)
    val buckets = e.as[(Long, Array[Double])]
      .mapPartitions { it =>
        val ps = bcPlanes.value
        it.flatMap { case (id, nv) =>
          (0 until d8Tables).iterator.map { t =>
            var b = 0
            var bit = 0
            while (bit < d8Bits) {
              val p = ps(t * d8Bits + bit)
              var dot = 0.0
              var i = 0
              while (i < Knn.dim) { dot += nv(i) * p(i); i += 1 }
              if (math.floor(dot * 1e6 + 0.5) >= 0) b |= (1 << bit)
              bit += 1
            }
            (id, t, b)
          }
        }
      }.toDF("vec_id", "t", "b")
    val cand = buckets.select($"vec_id".as("id_a"), $"t", $"b")
      .join(buckets.select($"vec_id".as("id_b"), $"t", $"b"), Seq("t", "b"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b").distinct()
    val scored = cand
      .join(e.select($"vec_id".as("id_a"), $"nv".as("nv_a")), Seq("id_a"))
      .join(e.select($"vec_id".as("id_b"), $"nv".as("nv_b")), Seq("id_b"))
    Knn.cosineOf(scored)
      .filter($"cos_sim" >= 0.35)
      .orderBy($"id_a", $"id_b")
  }

  // ---------- d9: semantic (cluster-representative) dedup ----------

  /** SemDeDup-style semantic dedup pass: assign every corpus vector
    * to its nearest codebook centroid (broadcast centroids, corpus
    * streams once — v4's assignment kernel), then per cluster keep
    * ONE representative — the member most similar to its centroid —
    * and report survivors/removals per cluster. The corpus-impact
    * summary of an embedding-space dedup, next to d7's digest-space
    * one. Scale: one narrow assignment map + one shuffle on cid;
    * survivor selection is a bounded per-cluster window (TopKAgg
    * substitutes for giant clusters, the q23 pattern). Deterministic:
    * quantized cosines, (cos DESC, id) tie-breaks everywhere.
    */
  def d9(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Knn.vectors(spark, dir).select($"vec_id", $"nv")
    val cents = spark.sparkContext.broadcast(
      Knn.codebook(e, "vec_id >= 10 AND vec_id < 18"))
    val assigned = e.filter($"vec_id" >= 10).as[(Long, Array[Double])]
      .mapPartitions(_.map { case (id, v) =>
        var best = 0L
        var bestCos = -2.0
        cents.value.foreach { case (cid, cv) =>
          val c = Knn.cosQ(cv, v)
          if (c > bestCos || (c == bestCos && cid < best)) { best = cid; bestCos = c }
        }
        (id, best, bestCos)
      }).toDF("vec_id", "cid", "cos_sim")
      // both the survivor windows and the member counts consume this
      // — uncached, the full corpus×centroid scoring scan would run
      // twice (the dominant cost of the query)
      .cache()
    // clusters are FEW, so a per-cid window would rank a cluster's
    // every member in one task — two-level argmax (TwoLevel.topK,
    // k = 1). Member counts come from a plain aggregate — no window
    // touches the full membership.
    val surv = graft.functions.TwoLevel.topK(assigned, Seq($"cid"),
        Seq($"cos_sim".desc, $"vec_id"), $"vec_id", 1)
      .select($"cid", $"vec_id".as("survivor_id"), $"cos_sim".as("survivor_cos"))
    assigned.groupBy($"cid").agg(count(lit(1)).as("n_members"))
      .join(surv, Seq("cid"))
      .select($"cid", $"n_members", $"survivor_id", $"survivor_cos",
        ($"n_members" - 1).as("n_removed"))
      .transform(graft.Tables.ordered(_, $"cid"))
  }

  /** Oracle: v4Sql's seed-centroid assignment CTEs + the survivor
    * window; assignment tie-break (cos DESC, cid) mirrors the Scala
    * scan order exactly as validated for v4.
    */
  val d9Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
      |corpus AS (SELECT vec_id, nv FROM m WHERE vec_id >= 10),
      |c0 AS (SELECT vec_id AS cid, nv AS cv FROM m WHERE vec_id >= 10 AND vec_id < 18),
      |s AS (SELECT corpus.vec_id, c0.cid,
      |        round(list_inner_product(c0.cv, corpus.nv) * 1e6) / 1e6 AS cos_sim
      |      FROM corpus CROSS JOIN c0),
      |a AS (SELECT vec_id, cid, cos_sim FROM (
      |        SELECT vec_id, cid, cos_sim,
      |          row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, cid) AS rnk
      |        FROM s) WHERE rnk = 1),
      |r AS (SELECT cid, vec_id, cos_sim,
      |        row_number() OVER (PARTITION BY cid ORDER BY cos_sim DESC, vec_id) AS rnk
      |      FROM a)
      |SELECT cid, count(*) AS n_members,
      |  max(CASE WHEN rnk = 1 THEN vec_id END) AS survivor_id,
      |  max(CASE WHEN rnk = 1 THEN cos_sim END) AS survivor_cos,
      |  count(*) - 1 AS n_removed
      |FROM r
      |GROUP BY cid
      |ORDER BY cid""".stripMargin

  /** Full oracle: the 100 hyperplanes are shared literal arrays and
    * the bucket-bit sign test is quantized (v2Sql's pattern), so the
    * candidate set — and therefore the verified pair list — matches
    * the Spark side bitwise.
    */
  val d8Sql: String = {
    def planeList(p: Seq[Double]) =
      p.map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")
    val bitExprs = (0 until d8Tables).map { t =>
      val bits = (0 until d8Bits).map { b =>
        s"(CASE WHEN floor(list_inner_product(nv, ${planeList(d8Planes(t * d8Bits + b))}) * 1e6 + 0.5) >= 0 THEN ${1 << b} ELSE 0 END)"
      }.mkString(" + ")
      s"($bits) AS b$t"
    }
    val tableUnion = (0 until d8Tables)
      .map(t => s"SELECT vec_id, $t AS t, b$t AS b FROM eb").mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
       |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
       |eb AS (SELECT vec_id, ${bitExprs.mkString(", ")} FROM m),
       |bk AS ($tableUnion),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM bk a JOIN bk b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id)
       |SELECT c.id_a, c.id_b,
       |  round(list_inner_product(ma.nv, mb.nv) * 1e6) / 1e6 AS cos_sim
       |FROM cand c JOIN m ma ON ma.vec_id = c.id_a JOIN m mb ON mb.vec_id = c.id_b
       |WHERE round(list_inner_product(ma.nv, mb.nv) * 1e6) / 1e6 >= 0.35
       |ORDER BY id_a, id_b""".stripMargin
  }

  val d5Sql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_inner_product(a.nv, b.nv) * 1e6) / 1e6 AS cos_sim
      |FROM m a JOIN m b ON a.vec_id < b.vec_id
      |WHERE round(list_inner_product(a.nv, b.nv) * 1e6) / 1e6 >= 0.35
      |ORDER BY id_a, id_b""".stripMargin

  // ---------- d11: cross-document line-level dedup (CCNet-style) ----------

  /** d11: remove lines duplicated ACROSS documents — the CCNet /
    * RefinedWeb hygiene pass that strips boilerplate (headers,
    * footers, cookie banners) the document-level passes (d1-d10)
    * can't see. "Lines" are synthesized deterministically as 8-word
    * groups (the testdata corpus has no newlines); a shared 8-word
    * header seeded onto every document plays the boilerplate role,
    * and d7-style whole-document copies make every line of theirs
    * corpus-duplicated. A line is dropped from ALL its documents when
    * it appears verbatim in ≥ 2 distinct documents; the survivors
    * reassemble in order.
    *
    * Scale shape: 2 shuffles — the (digest → distinct-doc count)
    * aggregate and the per-doc reassembly. Both the dup aggregate and
    * the dup join key on `fnv64(line)`, so only 8-byte digests ride
    * the exchanges; the line STRING stays on the per-doc side and
    * appears in a shuffle only for the unavoidable reassembly
    * group-by. Boilerplate digests are the hot keys — d2's bucketCap /
    * salting applies. A 64-bit collision would merge two distinct
    * lines (the CCNet trade; at 2^32 lines the birthday risk is ~0.4,
    * widen to 128-bit by pairing fnv64(line) with
    * fnv64(reverse(line)) if that matters). Reassembly order comes
    * from a sort_array over (line_no, line) structs, not collect
    * order.
    */
  def d11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val header = "standard corpus header line repeated across many documents"
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", concat(lit(header + " "), $"text").as("text"))
    val copies = docs.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 10000).as("doc_id"), $"text")
    val lines = docs.unionByName(copies)
      .selectExpr("doc_id", "split(trim(text), ' ') AS words")
      .selectExpr("doc_id",
        // greatest(.., 1) guards the empty-words case: Spark's
        // sequence(0, -1) would DESCEND ([0, -1]) where DuckDB's
        // range(0, 0) is empty — pin both engines to one empty line
        """posexplode(transform(
          | sequence(0, greatest(CAST(ceil(size(words) / 8.0) AS INT), 1) - 1),
          | k -> concat_ws(' ', slice(words, k * 8 + 1, 8)))) AS (line_no, line)""".stripMargin)
      .withColumn("lh", graft.functions.Fnv64.fnv64($"line"))
    val dup = lines.select($"lh", $"doc_id").groupBy($"lh")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"lh", lit(true).as("is_dup"))
    lines.join(dup, Seq("lh"), "left")
      .withColumn("kept", $"is_dup".isNull)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when($"kept", 0L).otherwise(1L)).as("n_removed"),
        array_join(
          expr("transform(sort_array(collect_list(CASE WHEN kept THEN struct(line_no, line) END)), s -> s.line)"),
          " ").as("joined"))
      .selectExpr("doc_id", "n_lines", "n_removed",
        "nullif(joined, '') AS new_text")
      .transform(graft.Tables.ordered(_, $"doc_id"))
  }

  val d11Sql: String =
    """WITH seeded AS (
      |  SELECT doc_id,
      |    'standard corpus header line repeated across many documents ' || text AS text
      |  FROM documents),
      |corpus AS (
      |  SELECT doc_id, text FROM seeded
      |  UNION ALL
      |  SELECT doc_id + 10000, text FROM seeded WHERE doc_id % 5 = 0),
      |w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM corpus),
      |l AS (SELECT doc_id, k AS line_no,
      |        array_to_string(words[(k * 8 + 1):(k * 8 + 8)], ' ') AS line
      |      FROM (SELECT doc_id, words,
      |              unnest(range(0, greatest(CAST(ceil(len(words) / 8.0) AS BIGINT), 1))) AS k
      |            FROM w)),
      |dup AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
      |f AS (SELECT l.doc_id, l.line_no, l.line, dup.line IS NULL AS kept
      |      FROM l LEFT JOIN dup ON l.line = dup.line)
      |SELECT doc_id, count(*) AS n_lines,
      |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
      |  string_agg(CASE WHEN kept THEN line END, ' ' ORDER BY line_no, line) AS new_text
      |FROM f
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------- d12: exact substring dedup (ExactSubstr grain) ----------

  /** Window length in words for d12's duplicated-run detection. */
  val d12K = 8

  /** The planted duplicated run (11 words > K): appended to every
    * 9th document so the spec has a known-recall target.
    */
  val d12Promo =
    "limited time offer visit our site today for exclusive savings now"

  /** d12: exact SUBSTRING dedup — the fourth dedup grain next to
    * document (d1), near-dup (d2-d10) and line (d11): remove any
    * ≥ K-word run that appears verbatim in ≥ 2 distinct documents
    * (the ExactSubstr pass of Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — standard in
    * pretraining pipelines; boilerplate and licence blocks rarely
    * align to line or document boundaries).
    *
    * Sliding word-K-grams per document → fnv64 digest; a digest held
    * by ≥ 2 documents marks every start position it covers;
    * overlapping/adjacent flagged windows merge into maximal
    * removable spans (gaps-and-islands on start positions — equal
    * window length makes "p − prev_p ≤ K" the merge test). Output is
    * the per-document removal report.
    *
    * Scale shape: the gram exchange carries (doc_id, p, digest) only
    * — the gram STRING dies before any shuffle, so the big aggregate
    * keys 8-byte digests exactly like d11. Hot digests are
    * boilerplate (d2's bucketCap/salting applies). The span merge is
    * a per-doc window — bounded by words/doc, never corpus-global.
    * The DuckDB oracle is the hash-free BRUTE FORCE on gram strings,
    * so the gate doubles as a digest-path recall check.
    */
  def d12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val K = d12K
    val grams = Tables.documents(spark, dir)
      .select($"doc_id",
        when($"doc_id" % 9 === 0, concat($"text", lit(" " + d12Promo)))
          .otherwise($"text").as("text"))
      .selectExpr("doc_id", "split(trim(text), ' ') AS words")
      .filter(size($"words") >= K)
      // explode positions FIRST, then slice/concat/hash as plain
      // (non-lambda) expressions: a transform(.., p -> concat_ws(..))
      // lambda evaluates INTERPRETED inside the codegen'd projection
      // (§8.12) — measured 4x this query's cost at sf0.1
      .selectExpr("doc_id", s"explode(sequence(0, size(words) - $K)) AS p", "words")
      .select($"doc_id", $"p",
        graft.functions.Fnv64.fnv64(
          concat_ws(" ", expr(s"slice(words, p + 1, $K)"))).as("gh"))
    val dup = grams.groupBy($"gh")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"gh")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"p")
    grams.join(dup, Seq("gh"))
      .select($"doc_id", $"p")
      .withColumn("brk",
        when(lag($"p", 1).over(w).isNull || $"p" - lag($"p", 1).over(w) > K, 1L)
          .otherwise(0L))
      .withColumn("grp", sum($"brk").over(w.rowsBetween(Long.MinValue, 0)))
      .groupBy($"doc_id", $"grp")
      .agg(min($"p").as("s"), (max($"p") + lit(K - 1)).as("e"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum($"e" - $"s" + 1).as("removed_words"))
      .transform(graft.Tables.ordered(_, $"doc_id"))
  }

  val d12Sql: String = {
    val K = d12K
    s"""WITH seeded AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 9 = 0 THEN text || ' $d12Promo' ELSE text END AS text
      |  FROM documents),
      |w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM seeded),
      |g AS (SELECT doc_id, p, array_to_string(words[(p + 1):(p + $K)], ' ') AS gram
      |      FROM (SELECT doc_id, words, unnest(range(0, len(words) - $K + 1)) AS p
      |            FROM w WHERE len(words) >= $K)),
      |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      |f AS (SELECT doc_id, p FROM g JOIN dup USING (gram)),
      |m AS (SELECT doc_id, p,
      |        CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
      |               OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > $K
      |             THEN 1 ELSE 0 END AS brk
      |      FROM f),
      |gi AS (SELECT doc_id, p,
      |         sum(brk) OVER (PARTITION BY doc_id ORDER BY p
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |       FROM m),
      |s AS (SELECT doc_id, grp, min(p) AS s, max(p) + $K - 1 AS e
      |      FROM gi GROUP BY doc_id, grp)
      |SELECT doc_id, count(*) AS n_spans,
      |  CAST(sum(e - s + 1) AS BIGINT) AS removed_words
      |FROM s
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin
  }

  // ---------- t19: corpus-duplication (memorization-risk) score ----------

  /** t19: per-document duplicated-gram fraction — the doc-level score
    * d12 does NOT emit: d12 reports removable spans only for docs
    * carrying a duplicated run; t19 scores EVERY doc (with ≥ K words)
    * by the share of its word-8-grams that appear in other documents,
    * in exact permille. This is the memorization-risk / novelty
    * signal pretraining curation thresholds on (near-1000 docs are
    * boilerplate clones; near-0 docs are fresh text), and the
    * corpus-level histogram input for dedup-policy tuning.
    *
    * Same scale shape as d12: gram strings die pre-shuffle (fnv64
    * digests key the dup aggregate and the join), per-doc fractions
    * are one aggregate on the doc key. CROSS-doc duplication only:
    * a gram repeated inside one doc doesn't count (countDistinct
    * doc_id >= 2 — that intra-doc case is t13's repetition signal).
    */
  def t19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val K = d12K
    val grams = Tables.documents(spark, dir)
      .select($"doc_id",
        when($"doc_id" % 9 === 0, concat($"text", lit(" " + d12Promo)))
          .otherwise($"text").as("text"))
      .selectExpr("doc_id", "split(trim(text), ' ') AS words")
      .filter(size($"words") >= K)
      .selectExpr("doc_id", s"explode(sequence(0, size(words) - $K)) AS p", "words")
      .select($"doc_id", $"p",
        graft.functions.Fnv64.fnv64(
          concat_ws(" ", expr(s"slice(words, p + 1, $K)"))).as("gh"))
    val dup = grams.groupBy($"gh")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"gh")
    grams.join(dup, Seq("gh"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("dup_grams"))
      .join(grams.groupBy($"doc_id").agg(count(lit(1)).as("n_grams")),
        Seq("doc_id"), "right")
      .selectExpr("doc_id", "coalesce(dup_grams, 0L) AS dup_grams", "n_grams",
        "CAST(floor(coalesce(dup_grams, 0L) * 1000.0 / n_grams) AS BIGINT) AS dup_permille")
      .transform(graft.Tables.ordered(_, $"doc_id"))
  }

  /** t19 oracle: d12's seeded-corpus gram CTEs + the same dup join
    * and exact permille arithmetic.
    */
  val t19Sql: String = {
    val K = d12K
    s"""WITH seeded AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 9 = 0 THEN text || ' $d12Promo' ELSE text END AS text
      |  FROM documents),
      |w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM seeded),
      |g AS (SELECT doc_id, p, array_to_string(words[(p + 1):(p + $K)], ' ') AS gram
      |      FROM (SELECT doc_id, words, unnest(range(0, len(words) - $K + 1)) AS p
      |            FROM w WHERE len(words) >= $K)),
      |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      |d AS (SELECT doc_id, count(*) AS dup_grams FROM g JOIN dup USING (gram)
      |      GROUP BY doc_id),
      |t AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id)
      |SELECT t.doc_id, coalesce(d.dup_grams, 0) AS dup_grams, t.n_grams,
      |  CAST(floor(coalesce(d.dup_grams, 0) * 1000.0 / t.n_grams) AS BIGINT) AS dup_permille
      |FROM t LEFT JOIN d USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin
  }

  // ---------- d13: the composed near-dup dedup apply ----------

  /** d13: the near-duplicate dedup pass RUN END-TO-END — the
    * composition a pipeline actually executes (d7 is the EXACT-grain
    * apply): d2's verified MinHash/LSH pairs → connected components
    * (d6's convergence-detected propagation, stars fallback — same
    * no-silent-caps contract) → canonical survivor per cluster
    * (minimum doc_id = the component label by construction) → a
    * keep/remove decision row for every document in a non-trivial
    * cluster. The oracle composes d2's full CTE chain with a
    * recursive-CTE transitive closure and min-reachable root (q27's
    * recursive-oracle precedent), so the whole composition stays
    * bitwise — including which side of every near-dup pair survives.
    *
    * Scale: pair discovery is d2's capped band-bucket shape;
    * components touch ONLY dup-pair nodes (a sliver of the corpus);
    * survivor selection is the label itself. Applying the removals to
    * the full corpus is one broadcast/semi join of this decision
    * table (d7's shape) — not re-run here.
    *
    * A pipeline that has ALREADY verified pairs (d2 standalone, or
    * any other candidate generator) calls [[d13Apply]] directly with
    * them — the composed pass then costs components + survivors
    * only, no second minhash run. The gate entry composes both
    * stages so the full path stays under the bitwise oracle.
    */
  def d13(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // localCheckpoint (eager): materialize the verified pairs ONCE and
    // cut their lineage — the propagation rounds otherwise carry the
    // whole minhash pipeline in every per-round plan (§8.19), and a
    // lazy cache can be populated redundantly by sibling subtrees of
    // the first round's job
    d13Apply(d2(spark, dir).select($"id_a".as("src"), $"id_b".as("dst")))
  }

  /** The apply stage of [[d13]], parameterized on precomputed
    * verified pairs (src, dst) — the d7 decision-table pattern at
    * the near-dup grain: components over dup-pair nodes only, then
    * one keep/remove row per clustered doc. Eagerly localCheckpoints
    * the pairs (the caller's generator pipeline must not ride every
    * propagation round's plan — §8.19/§8.25).
    */
  def d13Apply(verifiedPairs: DataFrame): DataFrame = {
    val spark = verifiedPairs.sparkSession
    import spark.implicits._
    val pairs = verifiedPairs.localCheckpoint()
    val labels = components(pairs)
    graft.functions.Lineage.freeCheckpoint(pairs) // the labels never read it
    labels.select($"id".as("doc_id"), $"lbl".as("root"))
      .withColumn("kept", ($"doc_id" === $"root").cast("long"))
      .transform(graft.Tables.ordered(_, $"doc_id"))
  }

  // ---------- d14: incremental batch-vs-archive dedup (Bloom prefilter) ----------

  /** d14: INCREMENTAL exact dedup — the production ingest mode (d1 is
    * the batch-global pass): a new batch checks against a standing
    * archive without the archive ever shuffling for the batch. The
    * archive's digests build a REAL Bloom filter
    * (org.apache.spark.util.sketch — a distributed partial-bloom
    * aggregate, ~1.2 MB per 1M keys at 1% fpp) broadcast to the
    * batch; rows the bloom rejects are DEFINITELY new (blooms have
    * no false negatives), and the ~1% false positives die in an
    * exact digest semi-join that touches only candidates. The bloom
    * can therefore never change the answer — only the work: the
    * verify join's probe side shrinks from |batch| to
    * |dups| + 1% of |batch|. At archive scales where one bloom
    * outgrows broadcast (billions of keys), partition blooms by
    * digest prefix or raise fpp — the exact verify join keeps
    * correctness either way. Output is per-batch-row (doc_id,
    * is_dup), bloom-parameter-INDEPENDENT by construction, so the
    * plain EXISTS oracle is exact.
    */
  def d14(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val archive = docs.filter($"doc_id" % 2 === 0)
      .select(md5(lower(trim($"text"))).as("digest")).cache()
    // batch: the odd half + every 10th archive doc re-ingested under
    // a shifted id (the seeded true duplicates)
    val batch = docs.filter($"doc_id" % 2 === 1)
      .unionByName(docs.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 50000).as("doc_id"), $"text"))
      .select($"doc_id", md5(lower(trim($"text"))).as("digest"))
    val bloom = archive.stat.bloomFilter("digest", math.max(archive.count(), 1L), 0.01)
    val bc = spark.sparkContext.broadcast(bloom)
    val candidates = batch.as[(Long, String)]
      .mapPartitions { it =>
        val b = bc.value
        it.filter { case (_, digest) => b.mightContainString(digest) }
      }.toDF("doc_id", "digest")
    val verified = candidates
      .join(archive.distinct(), Seq("digest"), "left_semi")
      .select($"doc_id", lit(1L).as("is_dup"))
    batch.join(verified, Seq("doc_id"), "left_outer")
      .select($"doc_id", coalesce($"is_dup", lit(0L)).as("is_dup"))
      .transform(graft.Tables.ordered(_, $"doc_id"))
  }

  /** d14 oracle: the bloom is invisible to the result — plain EXISTS
    * against the archive digests.
    */
  val d14Sql: String =
    """WITH a AS (SELECT md5(lower(trim(text))) AS digest FROM documents WHERE doc_id % 2 = 0),
      |b AS (SELECT doc_id, md5(lower(trim(text))) AS digest FROM documents WHERE doc_id % 2 = 1
      |      UNION ALL
      |      SELECT doc_id + 50000, md5(lower(trim(text))) FROM documents WHERE doc_id % 10 = 0)
      |SELECT doc_id,
      |  CAST(CASE WHEN EXISTS (SELECT 1 FROM a WHERE a.digest = b.digest)
      |       THEN 1 ELSE 0 END AS BIGINT) AS is_dup
      |FROM b
      |ORDER BY doc_id""".stripMargin

  /** d13 oracle: d2's chain + undirected transitive closure (the
    * recursive CTE walks every reachable node; components are tiny
    * copy-chains, so the closure is bounded) + min-reachable root.
    */
  val d13Sql: String =
    s"""WITH RECURSIVE $d2Chain,
      |dpairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.4),
      |edges AS (SELECT id_a AS x, id_b AS y FROM dpairs
      |          UNION SELECT id_b, id_a FROM dpairs),
      |reach AS (SELECT x, y FROM edges
      |          UNION SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
      |roots AS (SELECT x AS doc_id, least(x, min(y)) AS root
      |          FROM reach GROUP BY x)
      |SELECT doc_id, root, CAST(doc_id = root AS BIGINT) AS kept
      |FROM roots
      |ORDER BY doc_id""".stripMargin

  // ---------- d15: weight-preserving (soft) dedup ----------

  /** d15: soft dedup — d13's hard keep/remove loses the corpus's
    * duplication MASS, but repetition count is training signal
    * (upweighting naturally-repeated content is deliberate in some
    * mixtures, and sampling pipelines need the mass to keep source
    * proportions after dedup). d15 emits one row per SURVIVOR with
    * its replication weight = near-dup cluster size (singletons
    * weight 1): downstream sampling draws survivors proportional to
    * weight and the post-dedup corpus preserves the pre-dedup
    * distribution exactly, with none of the redundant bytes.
    *
    * Scale: d13's labels (components over dup-pair nodes ONLY) left-
    * join the corpus id set — the full corpus never enters the
    * component computation; the weight aggregate is one shuffle on
    * the root key. Survivor choice inherits d13's determinism (root
    * = min id of the component).
    */
  def d15(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val labels = d13(spark, dir).select($"doc_id", $"root")
    val docs = Tables.documents(spark, dir).select($"doc_id")
    docs.join(labels, Seq("doc_id"), "left_outer")
      .select(coalesce($"root", $"doc_id").as("doc_id"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("weight"))
      .transform(graft.Tables.ordered(_, $"doc_id"))
  }

  /** d15 oracle: d13's closure CTEs + per-root mass over the whole
    * corpus (singletons weight 1 via the left join).
    */
  val d15Sql: String =
    s"""WITH RECURSIVE $d2Chain,
      |dpairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.4),
      |edges AS (SELECT id_a AS x, id_b AS y FROM dpairs
      |          UNION SELECT id_b, id_a FROM dpairs),
      |reach AS (SELECT x, y FROM edges
      |          UNION SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
      |roots AS (SELECT x AS doc_id, least(x, min(y)) AS root
      |          FROM reach GROUP BY x)
      |SELECT coalesce(r.root, d.doc_id) AS doc_id, count(*) AS weight
      |FROM documents d LEFT JOIN roots r ON r.doc_id = d.doc_id
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---------- d16: URL canonicalization dedup ----------

  /** d16: URL-CANONICALIZATION dedup — the crawl-frontier pass that
    * runs BEFORE any content fetch: the same page hides behind
    * scheme/host case variants, default ports, trailing slashes,
    * tracking query params and fragments, and collapsing those
    * variants to one canonical URL is the first dedup a crawl
    * pipeline applies (CommonCrawl normalizes to SURT form for
    * exactly this). Since the corpus carries no URL column, a crawl
    * URL is DERIVED deterministically per doc (scheme/host/port/
    * path/query/fragment variants keyed off doc_id arithmetic — the
    * g1 derived-graph discipline), then canonicalized back from the
    * STRING ONLY (split/replace/lower — the parse is the operator;
    * the synthesis is just the fixture).
    *
    * Canonicalization rules (each a pure string function shared
    * verbatim with the oracle): drop fragment, drop the (tracking)
    * query, lowercase, strip the default `:80` port, strip the
    * trailing slash. Dedup then keys ONE shuffle on the 8-byte
    * fnv64 digest of the canonical string (d11's digest-keyed
    * exchange: URL strings die in the map-side partial, only
    * digests + one canonical representative per partition ride),
    * keeping the min-doc_id survivor per canonical URL.
    */
  /** The derived crawl URL (deterministic case/port/slash/query/
    * fragment noise) and its canonicalization — ONE pair of
    * expressions shared by batch d16 and the streaming frontier
    * twin s24, so the two paths cannot drift.
    */
  private[graft] val d16UrlExpr: String =
    """concat(
      |  CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'HTTP://' END,
      |  CASE WHEN doc_id % 4 = 1 THEN upper(source) ELSE source END,
      |  '.Example.COM',
      |  CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END,
      |  '/p/', CAST(doc_id % 10 AS STRING),
      |  CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
      |  CASE WHEN doc_id % 5 = 0 THEN '?utm_campaign=feed' ELSE '' END,
      |  CASE WHEN doc_id % 6 = 0 THEN '#sec1' ELSE '' END
      |) AS url""".stripMargin

  /** regexp '/$' (not rtrim) — Spark and DuckDB disagree on two-arg
    * rtrim argument order, the regex anchors identically.
    */
  private[graft] val d16CanonExpr: String =
    "regexp_replace(replace(lower(split_part(split_part(url, '#', 1), '?', 1)), ':80', ''), '/$', '') AS curl"

  def d16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val urls = Tables.documents(spark, dir).selectExpr("doc_id", d16UrlExpr)
    val canon = urls.selectExpr("doc_id", d16CanonExpr)
    // group on (digest, curl), not digest alone: k = fnv64(curl) is a
    // function of curl, so the groups are exactly the per-URL groups —
    // but a 64-bit collision between two distinct canonical URLs can
    // no longer silently merge them (at crawl scale, ~10^11 URLs make
    // that an expected O(100) real rows). The digest still leads the
    // exchange key, and the map-side partial means at most one
    // representative string per group rides the shuffle — the same
    // bytes the min(curl) aggregate buffer carried before.
    canon
      .withColumn("k", graft.functions.Fnv64.fnv64($"curl"))
      .groupBy($"k", $"curl")
      .agg(count(lit(1)).as("n_dups"),
        min($"doc_id").as("survivor_id"))
      .select($"curl".as("canonical_url"), $"n_dups", $"survivor_id")
      .transform(graft.Tables.ordered(_, $"canonical_url"))
  }

  /** d16 oracle: identical synthesis + canonicalization strings;
    * groups directly by the canonical URL (digest-keying is the
    * engine's exchange optimization, not part of the contract).
    */
  val d16Sql: String =
    """WITH u AS (SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'HTTP://' END)
      |    || (CASE WHEN doc_id % 4 = 1 THEN upper(source) ELSE source END)
      |    || '.Example.COM'
      |    || (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END)
      |    || '/p/' || CAST(doc_id % 10 AS VARCHAR)
      |    || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
      |    || (CASE WHEN doc_id % 5 = 0 THEN '?utm_campaign=feed' ELSE '' END)
      |    || (CASE WHEN doc_id % 6 = 0 THEN '#sec1' ELSE '' END) AS url
      |  FROM documents),
      |c AS (SELECT doc_id,
      |        regexp_replace(replace(lower(split_part(split_part(url, '#', 1), '?', 1)), ':80', ''), '/$', '') AS curl
      |      FROM u)
      |SELECT curl AS canonical_url, count(*) AS n_dups,
      |  min(doc_id) AS survivor_id
      |FROM c GROUP BY curl
      |ORDER BY canonical_url""".stripMargin

  // ---------- d17: containment scoring (asymmetric near-dup) ----------

  /** d17: CONTAINMENT scoring (Broder 1997's second resemblance
    * measure): C(A,B) = |sh(A) ∩ sh(B)| / |sh(A)| — "how much of A
    * is inside B". Jaccard-gated dedup (d2/d4) MISSES the
    * wire-copy-inside-longer-page case by construction: a short doc
    * fully embedded in a long one has Jaccard ≈ |A|/|B| → 0 while
    * containment = 1. The seeded corpus proves the gap — every 9th
    * doc gets a 12-word-prefix copy, and the output carries BOTH
    * scores so the divergence is visible per pair (containment ≈ 1,
    * jaccard small).
    *
    * Shape: d4's inverted-index discipline — the intersection is a
    * (doc_id, shingle) equality-join count (shingle arrays never
    * ride a shuffle; fully codegen'd), sizes join back by id. The
    * scorer is [[containmentOf]] — pairs in, scores out, the
    * d13Apply pattern — so a pipeline with its own candidate
    * generator plugs straight in; [[d18]] composes it with the
    * LOSSLESS prefix-filter candidate join (d2's banding cannot
    * surface these pairs — see d18's header for the math).
    */
  def d17(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    // +30000 is the d4/d6 seeded-copy id convention — a FIXTURE for
    // the gate (valid while doc_ids stay below the offset, as the
    // testdata's do); a production run scores real candidate pairs
    // and derives nothing (d18 runs exactly that composition)
    val prefixes = docs.filter($"doc_id" % 9 === 0)
      .selectExpr("doc_id + 30000 AS doc_id",
        "concat_ws(' ', slice(split(lower(trim(text)), ' '), 1, 12)) AS text")
    val shx = shingleExplode(docs.unionByName(prefixes)).cache()
    val sizes = shx.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = docs.filter($"doc_id" % 9 === 0)
      .select(($"doc_id" + 30000).as("id_a"), $"doc_id".as("id_b"))
    containmentOf(pairs, shx, sizes)
      .select($"id_a", $"id_b", $"containment", $"jaccard")
      .transform(graft.Tables.ordered(_, $"id_a"))
  }

  /** Containment + Jaccard scoring for ARBITRARY candidate (id_a,
    * id_b) pairs over an exploded (doc_id, shingle) index — the
    * d13Apply parameterization for the asymmetric measure: pairs in,
    * both scores (plus the raw inter/na/nb integers the thresholds
    * cut on) out. [[jaccardOf]]'s inverted-index shape: the
    * intersection is an equality-join count, sizes join by id,
    * shingle arrays never ride a shuffle.
    */
  private[graft] def containmentOf(pairs: DataFrame, shx: DataFrame,
      sizes: DataFrame): DataFrame =
    pairs
      .join(shx.select(col("doc_id").as("id_a"), col("s")), Seq("id_a"))
      .join(shx.select(col("doc_id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .selectExpr("id_a", "id_b", "inter", "na", "nb",
        "CAST(inter AS DOUBLE) / CAST(na AS DOUBLE) AS containment",
        "CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) AS jaccard")

  /** d17 oracle: the same prefix seeding + shingle lambdas as d4Sql,
    * with both the asymmetric and symmetric scores.
    */
  val d17Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 30000,
      |    array_to_string(string_split(lower(trim(text)), ' ')[1:12], ' ')
      |  FROM documents WHERE doc_id % 9 = 0),
      |w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS words FROM corpus),
      |sh AS (SELECT doc_id,
      |         CASE WHEN len(words) >= 3
      |           THEN list_distinct(list_transform(range(0, len(words) - 2),
      |                  i -> array_to_string(words[(i + 1):(i + 3)], ' ')))
      |           ELSE [array_to_string(words, ' ')] END AS s
      |       FROM w),
      |pairs AS (SELECT doc_id + 30000 AS id_a, doc_id AS id_b
      |          FROM documents WHERE doc_id % 9 = 0)
      |SELECT id_a, id_b,
      |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / CAST(len(a.s) AS DOUBLE) AS containment,
      |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
      |FROM pairs JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b
      |ORDER BY id_a""".stripMargin

  // ---------- d18: containment dedup end-to-end (candidates + verify) ----------

  /** d18: the containment dedup a user actually RUNS — candidate
    * generation composed with [[containmentOf]] verification, no
    * seeded pair list: every (A, B) with C(A,B) ≥ 0.8 in the corpus
    * (d17's prefix-copy seeding included) must come out of the
    * CANDIDATE JOIN, or it is not in the answer.
    *
    * Why not d2's banding as the candidate stage: MinHash banding's
    * collision probability is an S-curve in JACCARD — a 12-word
    * prefix copy inside a ~100-word page has C ≈ 1 but J ≈ 0.1, so a
    * 4×4 banding surfaces it with probability ≈ 4·(0.1)⁴ = 0.04% —
    * containment's whole point (d17's header) is that these pairs
    * sit where the Jaccard machinery is blind. The correct,
    * standard candidate generator for containment is the PREFIX
    * FILTER (Chaudhuri/Ganti/Kaushik's SSJoin and Bayardo's
    * All-Pairs): order each doc's shingles by a fixed global rank
    * (ascending document frequency — rarest first, minimizing
    * fan-out; ties on the shingle string), and index only each A's
    * first |A| − ⌈τ|A|⌉ + 1 shingles. LOSSLESS by the pigeonhole
    * argument: C(A,B) ≥ τ means B misses at most |A| − ⌈τ|A|⌉ of
    * A's shingles, so it cannot miss ALL of the first
    * |A| − ⌈τ|A|⌉ + 1 (PropertySpec proves this against brute
    * force on random sets). ⌈τ|A|⌉ = (4·|A| + 4) div 5 keeps the
    * threshold arithmetic INTEGER in both engines — the τ = 0.8
    * gate itself is 5·inter ≥ 4·|A|, division-free.
    *
    * Scale shape: the prefix join ships (shingle, id) pairs only,
    * and only for the ~20% rarest-per-doc shingles on the probe
    * side; document-frequency > [[bucketCap]] stop-shingles are
    * dropped from BOTH join sides (the skew guard every inverted
    * index needs — a pair is missed only if its entire prefix
    * overlap is stop-shingles, the same documented recall cut as
    * d2's bucket cap, and mirrored exactly in the oracle).
    * Verification touches candidate pairs only. One corpus index
    * reused three ways (rank, probe, verify) — at 100 TB the freq
    * table and ranks are a once-per-corpus byproduct of the same
    * scan that builds d2's minhashes.
    */
  def d18(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val prefixes = docs.filter($"doc_id" % 9 === 0)
      .selectExpr("doc_id + 30000 AS doc_id",
        "concat_ws(' ', slice(split(lower(trim(text)), ' '), 1, 12)) AS text")
    val shx = shingleExplode(docs.unionByName(prefixes)).cache()
    val sizes = shx.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val freq = shx.groupBy($"s").agg(count(lit(1)).as("df"))
    // ONE materialization feeds both candidate sides: the probe's
    // rank filter and the index's stop-shingle cut both read the
    // (doc_id, s, df, pos) table — without the cache, the freq join
    // and rank window would execute once per branch
    val ranked = shx.join(freq, Seq("s"))
      .withColumn("pos", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"df", $"s")))
      .cache()
    val probe = ranked.join(sizes, Seq("doc_id"))
      .filter($"pos" <= $"n" - expr("(4 * n + 4) DIV 5") + lit(1) &&
        $"df" <= bucketCap)
      .select($"doc_id".as("id_a"), $"s")
    val index = ranked.filter($"df" <= bucketCap)
      .select($"doc_id".as("id_b"), $"s")
    val cand = probe.join(index, Seq("s"))
      .filter($"id_a" =!= $"id_b")
      .select($"id_a", $"id_b").distinct()
    // the pair table is checkpointed EAGERLY so both caches can be
    // dropped before return (round 19 — the d23/s36 materialize-
    // then-unpersist discipline: the previous lazy return left two
    // corpus-grain shingle caches for the session's next query to
    // evict asynchronously)
    val out = containmentOf(cand, shx, sizes)
      .filter($"inter" * 5 >= $"na" * 4)
      .select($"id_a", $"id_b", $"containment", $"jaccard")
      .localCheckpoint()
    shx.unpersist(blocking = false)
    ranked.unpersist(blocking = false)
    out.transform(graft.Tables.ordered(_, $"id_a", $"id_b"))
  }

  /** d18 oracle: the full composition in DuckDB — same corpus
    * seeding, shingles, frequency ranks, integer prefix bound,
    * stop-shingle cut, candidate join and integer threshold.
    */
  val d18Sql: String =
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 30000,
      |    array_to_string(string_split(lower(trim(text)), ' ')[1:12], ' ')
      |  FROM documents WHERE doc_id % 9 = 0),
      |w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS words FROM corpus),
      |sh AS (SELECT doc_id,
      |         CASE WHEN len(words) >= 3
      |           THEN list_distinct(list_transform(range(0, len(words) - 2),
      |                  i -> array_to_string(words[(i + 1):(i + 3)], ' ')))
      |           ELSE [array_to_string(words, ' ')] END AS s
      |       FROM w),
      |shx AS (SELECT doc_id, unnest(s) AS s FROM sh),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id),
      |freq AS (SELECT s, count(*) AS df FROM shx GROUP BY s),
      |ranked AS (SELECT shx.doc_id, shx.s, df,
      |        row_number() OVER (PARTITION BY shx.doc_id ORDER BY df, shx.s) AS pos
      |      FROM shx JOIN freq USING (s)),
      |probe AS (SELECT r.doc_id AS id_a, r.s
      |      FROM ranked r JOIN sizes z ON z.doc_id = r.doc_id
      |      WHERE r.pos <= z.n - (4 * z.n + 4) // 5 + 1 AND r.df <= $bucketCap),
      |idx AS (SELECT shx.doc_id AS id_b, shx.s FROM shx JOIN freq USING (s)
      |      WHERE df <= $bucketCap),
      |cand AS (SELECT DISTINCT id_a, id_b FROM probe JOIN idx USING (s)
      |      WHERE id_a <> id_b),
      |sc AS (SELECT id_a, id_b, count(*) AS inter
      |      FROM cand JOIN shx a ON a.doc_id = id_a
      |      JOIN shx b ON b.doc_id = id_b AND a.s = b.s
      |      GROUP BY id_a, id_b)
      |SELECT id_a, id_b,
      |  CAST(inter AS DOUBLE) / CAST(za.n AS DOUBLE) AS containment,
      |  CAST(inter AS DOUBLE) / CAST(za.n + zb.n - inter AS DOUBLE) AS jaccard
      |FROM sc JOIN sizes za ON za.doc_id = id_a JOIN sizes zb ON zb.doc_id = id_b
      |WHERE inter * 5 >= za.n * 4
      |ORDER BY id_a, id_b""".stripMargin

  // ---------- d19: per-source boilerplate (template) removal ----------

  /** The seeded per-source template: two exactly-8-word lines
    * (source + 7 nav words, source + 7 footer words) prepended to
    * every document — the site chrome a real crawl carries on every
    * page of a domain.
    */
  private[graft] val d19Tpl =
    "concat(source, ' home navigation menu login search contact about ', " +
      "source, ' terms privacy cookies copyright footer banner legal ', text)"

  /** d19: BOILERPLATE REMOVAL — per-source template-line stripping,
    * the fifth line-grain pass next to d11's cross-corpus line dedup:
    * remove lines appearing in MORE THAN HALF of a SOURCE's documents
    * (site chrome: navigation, footers, cookie banners — C4 strips
    * the "lines appearing repeatedly" the same way, trafilatura calls
    * it template removal). The two deliberate deltas vs d11: the
    * grain is (source, line) — a phrase legitimately shared across
    * sites is NOT chrome — and the trigger is a frequency RATIO, not
    * "≥ 2 docs", so organic quotation below the ratio survives (d11
    * would delete it); the spec proves that contrast on the same
    * corpus.
    *
    * Scale shape (d11's discipline): lines are 8-word windows from a
    * narrow array transform; the frequency aggregate keys on
    * (source, fnv64(line), line) — the digest LEADS the key so the
    * exchange hashes 8 bytes and a 64-bit collision cannot merge two
    * distinct lines (the d16 lesson); per-source doc counts are a
    * source-grain tiny table joined by equality; the boiler flag
    * joins back on the same composite key; reassembly rides ONE
    * doc-key shuffle. Nothing is corpus-global: every aggregate is
    * (source, ·)-keyed, so sources scale out independently — at
    * 100 TB, partition the corpus by source and all four exchanges
    * are partition-local.
    */
  /** d19's line grain over (doc_id, source, text) rows — a pure
    * narrow map, stream-safe (s25 runs it verbatim on readStream).
    */
  private[graft] def d19Lines(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .selectExpr("doc_id", "source", "split(trim(text), ' ') AS words")
      .selectExpr("doc_id", "source",
        """posexplode(transform(
          | sequence(0, greatest(CAST(ceil(size(words) / 8.0) AS INT), 1) - 1),
          | k -> concat_ws(' ', slice(words, k * 8 + 1, 8)))) AS (line_no, line)""".stripMargin)
      .withColumn("lh", graft.functions.Fnv64.fnv64($"line"))
  }

  /** d19's trained template table: (source, lh, line, is_boiler) for
    * lines in MORE THAN HALF of their source's documents — the
    * offline-trained model s25's stream door joins against (site
    * chrome is O(10) lines/source, so the table is source-count
    * bounded, never corpus bounded).
    */
  private[graft] def d19Boiler(docs: DataFrame, lines: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val ndocs = docs.groupBy($"source").agg(countDistinct($"doc_id").as("nd_src"))
    lines.groupBy($"source", $"lh", $"line")
      .agg(countDistinct($"doc_id").as("ndl"))
      .join(ndocs, Seq("source"))
      .filter($"ndl" * 2 > $"nd_src")
      .select($"source", $"lh", $"line", lit(true).as("is_boiler"))
  }

  /** d19's strip+reassemble: drop boiler lines, rebuild each doc —
    * ONE doc-key aggregate (stream-safe as a Complete-mode
    * aggregate; the boiler join is stream-static and stateless).
    */
  private[graft] def d19Strip(lines: DataFrame, boiler: DataFrame): DataFrame = {
    import lines.sparkSession.implicits._
    lines.join(boiler, Seq("source", "lh", "line"), "left")
      .withColumn("kept", $"is_boiler".isNull)
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_lines"),
        sum(when($"kept", 0L).otherwise(1L)).as("n_boiler"),
        array_join(
          expr("transform(sort_array(collect_list(CASE WHEN kept THEN struct(line_no, line) END)), s -> s.line)"),
          " ").as("joined"))
      .selectExpr("doc_id", "source", "n_lines", "n_boiler",
        "nullif(joined, '') AS new_text")
  }

  def d19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .selectExpr("doc_id", "source", s"$d19Tpl AS text")
    val lines = d19Lines(docs)
    d19Strip(lines, d19Boiler(docs, lines))
      .transform(graft.Tables.ordered(_, $"doc_id"))
  }

  /** d19 oracle: line grouping on the STRING (implementation-
    * independent ground truth — the engine's digest-led key must
    * agree or a collision merged lines).
    */
  val d19Sql: String =
    """WITH t AS (SELECT doc_id, source,
      |    source || ' home navigation menu login search contact about ' ||
      |    source || ' terms privacy cookies copyright footer banner legal ' ||
      |    text AS text
      |  FROM documents),
      |w AS (SELECT doc_id, source, string_split(trim(text), ' ') AS words FROM t),
      |l AS (SELECT doc_id, source, k AS line_no,
      |        array_to_string(words[(k * 8 + 1):(k * 8 + 8)], ' ') AS line
      |      FROM (SELECT doc_id, source, words,
      |              unnest(range(0, greatest(CAST(ceil(len(words) / 8.0) AS BIGINT), 1))) AS k
      |            FROM w)),
      |nd AS (SELECT source, count(DISTINCT doc_id) AS nd_src FROM t GROUP BY source),
      |b AS (SELECT f.source, f.line
      |      FROM (SELECT source, line, count(DISTINCT doc_id) AS ndl
      |            FROM l GROUP BY 1, 2) f
      |      JOIN nd ON nd.source = f.source
      |      WHERE f.ndl * 2 > nd.nd_src),
      |f AS (SELECT l.doc_id, l.source, l.line_no, l.line, b.line IS NULL AS kept
      |      FROM l LEFT JOIN b ON b.source = l.source AND b.line = l.line)
      |SELECT doc_id, source, count(*) AS n_lines,
      |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_boiler,
      |  nullif(string_agg(CASE WHEN kept THEN line END, ' ' ORDER BY line_no, line), '') AS new_text
      |FROM f
      |GROUP BY doc_id, source
      |ORDER BY doc_id""".stripMargin

  // ---------- d20: dedup threshold sweep (calibration curve) ----------

  /** Junk suffix for mutation grade g: 4g+1 tokens that exist nowhere
    * in the corpus, so each grade shifts the copy's Jaccard down a
    * known notch.
    */
  private[graft] def d20Suffix(g: Int): String =
    (0 to g * 4).map(i => s"zq${g}x$i").mkString(" ")

  /** d20: the DEDUP THRESHOLD SWEEP — v19's tuning-curve idea for
    * the dedup family: before committing a near-dup threshold τ, a
    * corpus owner wants the pass-rate curve over pairs of KNOWN
    * mutation severity (MinHash banding parameters and the verify
    * cut are both chosen from exactly this calibration — Broder's
    * S-curve made empirical). Every document gets one copy at
    * mutation grade g = doc_id % 5 (4g+1 appended junk tokens ⇒
    * Jaccard steps from ~0.92 down to ~0.65); exact Jaccard runs
    * once per pair through d4's inverted-index machinery, and a
    * 5-row τ-grid (500‰..900‰) expands row-locally — the pass test
    * is the INTEGER cross-multiplication inter·1000 ≥ τ·(na+nb−inter)
    * (the d18 discipline: no float threshold anywhere), so the
    * whole 25-cell calibration table is bitwise.
    *
    * Scale shape: one shingle index over corpus+copies (the
    * d17/d18 seeding pattern), candidate pairs scored ONCE via two
    * id-keyed equality joins + one (id_a, id_b) count aggregate,
    * grid expansion bounded ×5 row-local, final (τ, grade)
    * aggregate map-side combined. A production run swaps the
    * seeded pairs for d2's banding candidates (d18's stage) — the
    * sweep shape is unchanged.
    */
  def d20(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir).select($"doc_id", $"text")
    val copies = (0 until 5).map { g =>
      base.filter($"doc_id" % 5 === g)
        .select(($"doc_id" + 100000).as("doc_id"),
          concat($"text", lit(" " + d20Suffix(g))).as("text"))
    }.reduce(_ unionAll _)
    val shx = shingleExplode(base.unionByName(copies)).cache()
    val sizes = shx.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = base.select($"doc_id".as("id_a"), ($"doc_id" + 100000).as("id_b"))
    val scored = containmentOf(pairs, shx, sizes)
      .selectExpr("id_a % 5 AS grade", "inter", "na", "nb")
    val grid = Seq(500L, 600L, 700L, 800L, 900L).toDF("tau_permille")
    scored.crossJoin(broadcast(grid))
      .groupBy($"tau_permille", $"grade")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(expr("inter * 1000 >= tau_permille * (na + nb - inter)"), 1L)
          .otherwise(0L)).as("n_over"))
      .transform(graft.Tables.ordered(_, $"tau_permille", $"grade"))
  }

  /** d20 oracle: the graded corpus as five literal-suffix branches,
    * d4Sql's shingle lambdas, the unnested τ-grid and the integer
    * cross-multiplication.
    */
  val d20Sql: String = {
    val branches = (0 until 5).map { g =>
      s"""SELECT doc_id + 100000, text || ' ${d20Suffix(g)}'
         |  FROM documents WHERE doc_id % 5 = $g""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  $branches),
      |w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS words FROM corpus),
      |sh AS (SELECT doc_id,
      |         CASE WHEN len(words) >= 3
      |           THEN list_distinct(list_transform(range(0, len(words) - 2),
      |                  i -> array_to_string(words[(i + 1):(i + 3)], ' ')))
      |           ELSE [array_to_string(words, ' ')] END AS s
      |       FROM w),
      |pairs AS (SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM documents),
      |sc AS (SELECT id_a % 5 AS grade,
      |         CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
      |         CAST(len(a.s) AS BIGINT) AS na, CAST(len(b.s) AS BIGINT) AS nb
      |       FROM pairs JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b),
      |grid AS (SELECT unnest([500, 600, 700, 800, 900]) AS tau_permille)
      |SELECT CAST(g.tau_permille AS BIGINT) AS tau_permille, s.grade,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(CASE WHEN s.inter * 1000 >= g.tau_permille * (s.na + s.nb - s.inter)
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_over
      |FROM sc s CROSS JOIN grid g
      |GROUP BY 1, 2
      |ORDER BY tau_permille, grade""".stripMargin
  }

  // ---------- d21: dedup audit (cluster-size distribution + savings) ----------

  /** d21: the DEDUP AUDIT REPORT — the read a corpus owner takes
    * BEFORE committing to a destructive dedup run (d20 calibrates
    * the threshold; d21 reports what the chosen pipeline would
    * delete): the near-dup cluster-SIZE distribution plus, per size,
    * how many documents and characters the canonical-survivor rule
    * removes. Cluster-size shape is diagnostic in itself — a heavy
    * tail of giant clusters usually means boilerplate (d19's
    * territory) rather than true duplication, and chars_removed is
    * the storage/compute savings estimate that justifies the run.
    *
    * Composition: d13's end-to-end labels (d2 banding → verified
    * pairs → components over dup-pair nodes ONLY) → per-cluster
    * aggregate (size, chars, survivor chars) → size-grain histogram
    * (bounded rows). Singletons never enter the component machinery;
    * their one histogram row is corpus_count − clustered_count,
    * computed from two 1-row aggregates stitched by an in-plan
    * broadcast (the g5 idiom — no driver collect). All outputs are
    * exact BIGINTs; chars come from length(text) over the seeded
    * corpus (the +10000 copies have no `documents` row, so the
    * audit measures the corpus the pipeline actually deduped).
    *
    * Scale: the histogram grain is cluster SIZES — bounded by the
    * largest cluster, not the corpus; every per-doc row dies in the
    * root-key aggregate (one shuffle over clustered docs only).
    */
  def d21(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val chars = nearDupCorpus(spark, dir)
      .selectExpr("doc_id", "CAST(length(text) AS BIGINT) AS chars")
    val decisions = d13(spark, dir)
    val perCluster = decisions.join(chars, Seq("doc_id"))
      .groupBy($"root")
      .agg(count(lit(1)).as("csize"),
        sum($"chars").as("chars_total"),
        sum(when($"kept" === 1L, $"chars").otherwise(lit(0L))).as("chars_kept"))
    val hist = perCluster.groupBy($"csize")
      .agg(count(lit(1)).as("n_clusters"),
        sum($"csize" - lit(1L)).as("docs_removed"),
        sum($"chars_total" - $"chars_kept").as("chars_removed"))
    val singletons = chars.agg(count(lit(1)).as("n_docs"))
      .crossJoin(decisions.agg(count(lit(1)).as("n_clustered")))
      .selectExpr("CAST(1 AS BIGINT) AS csize",
        "n_docs - n_clustered AS n_clusters",
        "CAST(0 AS BIGINT) AS docs_removed",
        "CAST(0 AS BIGINT) AS chars_removed")
    hist.unionByName(singletons)
      .transform(graft.Tables.ordered(_, $"csize"))
  }

  /** d21 oracle: d13's recursive chain + the same per-cluster and
    * size-grain aggregates; the singleton row from two 1-row counts.
    */
  val d21Sql: String =
    s"""WITH RECURSIVE $d2Chain,
      |dpairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.4),
      |edges AS (SELECT id_a AS x, id_b AS y FROM dpairs
      |          UNION SELECT id_b, id_a FROM dpairs),
      |reach AS (SELECT x, y FROM edges
      |          UNION SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
      |roots AS (SELECT x AS doc_id, least(x, min(y)) AS root
      |          FROM reach GROUP BY x),
      |chars AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS chars FROM corpus),
      |cl AS (SELECT r.root, c.chars,
      |         CASE WHEN r.doc_id = r.root THEN c.chars ELSE 0 END AS kept_chars
      |       FROM roots r JOIN chars c USING (doc_id)),
      |pc AS (SELECT root, CAST(count(*) AS BIGINT) AS csize,
      |         CAST(sum(chars) AS BIGINT) AS chars_total,
      |         CAST(sum(kept_chars) AS BIGINT) AS chars_kept
      |       FROM cl GROUP BY root),
      |hist AS (SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters,
      |           CAST(sum(csize - 1) AS BIGINT) AS docs_removed,
      |           CAST(sum(chars_total - chars_kept) AS BIGINT) AS chars_removed
      |         FROM pc GROUP BY csize)
      |SELECT csize, n_clusters, docs_removed, chars_removed FROM hist
      |UNION ALL
      |SELECT CAST(1 AS BIGINT),
      |  (SELECT count(*) FROM chars) - (SELECT count(*) FROM roots),
      |  CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |ORDER BY csize""".stripMargin

  // ---------- d22: content-defined chunking dedup ----------

  /** The CDC window-hash boundary rule shared by both engines: a
    * polynomial hash of the trailing 4 characters at position i,
    * boundary where it ≡ 0 (mod 32) ⇒ expected chunk ≈ 32 chars.
    * Pure positive integer arithmetic — identical everywhere.
    */
  private def d22HashExpr(ch: (String, String) => String, t: String, i: String): String =
    s"(${ch(t, s"$i - 3")} * 29791 + ${ch(t, s"$i - 2")} * 961 + " +
      s"${ch(t, s"$i - 1")} * 31 + ${ch(t, i)}) % 32 = 0"

  /** d22: CONTENT-DEFINED CHUNKING dedup (the Rabin/Gear-CDC family
    * — Muthitacharoen et al. 2001 "LBFS"; FastCDC, Xia et al. 2016)
    * — the storage-dedup technique that splits text at CONTENT
    * positions (where a rolling window hash hits a boundary
    * pattern) instead of fixed offsets, so an insertion shifts only
    * the chunk it lands in and every chunk after the next boundary
    * realigns — the property fixed-size blocking fundamentally
    * lacks (the spec PROVES it: a prefix-shifted copy re-shares all
    * but its first chunks). Every document splits at positions
    * where the trailing-4-char polynomial hash ≡ 0 mod 32; chunks
    * digest through the shared FNV-1a expression; the corpus report
    * is chunk-instance vs distinct-chunk mass: n_docs, chunks,
    * distinct chunks (keyed (digest, length) — d16's collision
    * discipline), character totals and the dedup savings in
    * permille (§8.39 — all masses ≥ 0). The seeded exact-duplicate
    * pairs (doc_id % 5 = 0, d1's fixture) guarantee real savings.
    *
    * Scale shape: boundary detection and chunk slicing are one
    * NARROW map (per-char work bounded by text length); the only
    * exchanges are the (digest, length) distinct-mass aggregate and
    * two 1-row stat aggregates — chunk STRINGS never ride a
    * shuffle, digests do (the d-family contract).
    */
  def d22(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val chunks = Tables.documents(spark, dir)
      .selectExpr("doc_id", "lower(trim(text)) AS t")
      .selectExpr("doc_id", "t",
        "filter(transform(CASE WHEN length(t) >= 4 THEN sequence(4, length(t)) ELSE array() END, " +
          s"i -> CASE WHEN ${d22HashExpr((t, i) => s"ascii(substring($t, $i, 1))", "t", "i")} THEN i ELSE -1 END), x -> x > 0) AS bs")
      .selectExpr("doc_id", "t",
        "concat(array(1), transform(bs, b -> b + 1)) AS ss",
        "concat(bs, array(length(t))) AS es")
      .selectExpr("doc_id",
        "explode(filter(transform(sequence(1, size(ss)), " +
          "j -> substring(t, element_at(ss, j), element_at(es, j) - element_at(ss, j) + 1)), c -> c <> '')) AS chunk")
      .select($"doc_id", length($"chunk").as("clen"),
        graft.functions.Fnv64.fnv64($"chunk").as("dg"))
      .cache()
    val inst = chunks.agg(countDistinct($"doc_id").as("n_docs"),
      count(lit(1)).as("n_chunks"), sum($"clen").as("chars_total"))
    val dist = chunks.groupBy($"dg", $"clen").agg(count(lit(1)).as("copies"))
      .agg(count(lit(1)).as("n_distinct_chunks"),
        sum($"clen").as("chars_distinct"))
    inst.crossJoin(broadcast(dist))
      .selectExpr("n_docs", "n_chunks", "n_distinct_chunks",
        "chars_total", "chars_distinct",
        "((chars_total - chars_distinct) * 1000) div chars_total AS savings_permille")
  }

  /** d22 oracle: identical window-hash boundaries, index-sliced
    * chunks, FNV digests and mass aggregates.
    */
  val d22Sql: String = {
    val ch = (t: String, i: String) => s"ord(substr($t, CAST($i AS INTEGER), 1))"
    s"""WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
      |bx AS (SELECT doc_id, t,
      |    list_filter(list_transform(range(4, length(t) + 1),
      |      i -> CASE WHEN ${d22HashExpr(ch, "t", "i")} THEN i ELSE CAST(-1 AS BIGINT) END), x -> x > 0) AS bs
      |  FROM d),
      |sx AS (SELECT doc_id, t,
      |    list_concat([CAST(1 AS BIGINT)], list_transform(bs, b -> b + 1)) AS ss,
      |    list_concat(bs, [CAST(length(t) AS BIGINT)]) AS es
      |  FROM bx),
      |ck AS (SELECT doc_id, unnest(list_filter(list_transform(range(1, len(ss) + 1),
      |    j -> substr(t, CAST(ss[CAST(j AS INTEGER)] AS INTEGER),
      |           CAST(es[CAST(j AS INTEGER)] - ss[CAST(j AS INTEGER)] + 1 AS INTEGER))),
      |    c -> c <> '')) AS chunk
      |  FROM sx),
      |cd AS (SELECT doc_id, CAST(length(chunk) AS BIGINT) AS clen,
      |    ${graft.functions.Fnv64.duckSigned("chunk")} AS dg
      |  FROM ck),
      |inst AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |    CAST(count(*) AS BIGINT) AS n_chunks,
      |    CAST(sum(clen) AS BIGINT) AS chars_total FROM cd),
      |dist AS (SELECT CAST(count(*) AS BIGINT) AS n_distinct_chunks,
      |    CAST(sum(clen) AS BIGINT) AS chars_distinct
      |  FROM (SELECT dg, clen FROM cd GROUP BY dg, clen))
      |SELECT n_docs, n_chunks, n_distinct_chunks, chars_total, chars_distinct,
      |  ((chars_total - chars_distinct) * 1000) // chars_total AS savings_permille
      |FROM inst, dist""".stripMargin
  }

  // ---------- d23: winnowing fingerprints (MOSS) ----------

  private val d23K = 16      // gram length (chars) — guarantee 19
  private val d23W = 4       // winnowing window (grams)
  private[graft] val d23DfCap = 20  // fixed candidate-budget cut (d2's bucketCap argument)
  private[graft] val d23Tau = 3L    // shared fingerprints to pair

  /** d23: WINNOWING (Schleimer, Wilkerson & Aiken 2003, "Winnowing:
    * Local Algorithms for Document Fingerprinting" — the MOSS
    * plagiarism detector's core): per document, hash every k-gram
    * and keep the MINIMUM of each w-gram sliding window — the
    * local-selection guarantee the paper proves: ANY shared
    * substring of length ≥ w + k − 1 (19 chars here — measured on
    * this 31-word corpus: k = 8 makes common word BIGRAMS exceed
    * the guarantee length and near-ALL pairs surface; 16 keeps
    * detection at the plagiarism grain) contains a
    * full common window on both sides, so the two documents select
    * the same minimum and SHARE A FINGERPRINT — detection is
    * guaranteed, not probabilistic (the property d2's MinHash only
    * delivers in expectation). Fingerprint sets are the distinct
    * window minima; pairs sharing ≥ [[d23Tau]] fingerprints
    * surface, with fingerprints in more than [[d23DfCap]] docs cut
    * as boilerplate (d2's capped-bucket discipline). Hashes are
    * the shared signed FNV-1a, so the whole pipeline is bitwise
    * cross-engine.
    *
    * Scale shape: gram explode is row-local; the window min rides
    * ONE doc-key exchange (per-doc bounded frames); the pair join
    * is the d4 inverted-index shape — id-only rows keyed by the
    * 8-byte fingerprint, never text, with the df cap bounding
    * every bucket. At 100 TB this is MOSS at corpus scale.
    */
  /** d23's per-document capped fingerprint table (doc_id, fp) — the
    * winnowing selection + df cap, shared verbatim by the batch
    * pair join and the streaming door's trained index (s36).
    */
  private[graft] def d23Fps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val byDoc = w.partitionBy($"doc_id")
    // round-18 (guide §1.2 per-task work): the last gram position is
    // a ROW-LOCAL quantity — positions are the dense 1..n-(k-1), so
    // max(pos) over the doc equals n-(k-1) — carried through as a
    // column instead of a second Window operator over the exchanged
    // gram table (one window pass saved; bitwise-identical filter)
    val grams = Tables.documents(spark, dir)
      .selectExpr("doc_id", "text", "length(text) AS n")
      .filter($"n" >= d23K + d23W - 1)
      .selectExpr("doc_id", "text",
        s"n - ${d23K - 1} AS npos",
        s"explode(sequence(1, n - ${d23K - 1})) AS pos")
      .withColumn("h", graft.functions.Fnv64.fnv64(
        expr(s"substring(text, pos, $d23K)")))
      .select($"doc_id", $"pos", $"h", $"npos")
    val fps = grams
      .withColumn("wmin", min($"h").over(
        byDoc.orderBy($"pos").rowsBetween(0, d23W - 1)))
      .filter($"pos" <= $"npos" - (d23W - 1)) // full windows only
      .select($"doc_id", $"wmin".as("fp")).distinct()
    val ok = fps.groupBy($"fp").agg(count(lit(1)).as("df"))
      .filter($"df" <= d23DfCap).select($"fp")
    fps.join(ok, Seq("fp"))
  }

  /** Row-local winnowing of ONE document — the sequential equivalent
    * of [[d23Fps]]'s window formulation (same FNV gram hashes, same
    * full-window minima, same distinct), for the streaming door's
    * stateless per-row fingerprint extraction. The df cap is NOT
    * applied here — the door intersects with the trained (capped)
    * index, which applies it.
    */
  private[graft] def winnowOne(text: String): Set[Long] = {
    // Spark SQL length()/substring() count Unicode CODE POINTS while
    // Java String.length/substring count UTF-16 code units — iterate
    // by code point so the door's fingerprints (and the >= k+w-1
    // length gate) stay bitwise-equal to d23Fps on text containing
    // supplementary-plane characters.
    val off = {
      val b = scala.collection.mutable.ArrayBuffer[Int](0)
      var i = 0
      while (i < text.length) { i = text.offsetByCodePoints(i, 1); b += i }
      b.toArray
    }
    val n = off.length - 1
    if (n < d23K + d23W - 1) Set.empty
    else {
      val nPos = n - (d23K - 1)
      val h = Array.tabulate(nPos) { i =>
        graft.functions.Fnv64.hashBytes(
          text.substring(off(i), off(i + d23K)).getBytes("UTF-8"))
      }
      (0 until (nPos - (d23W - 1))).map { i =>
        var m = h(i); var j = 1
        while (j < d23W) { if (h(i + j) < m) m = h(i + j); j += 1 }
        m
      }.toSet
    }
  }

  def d23(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // cached: the pair join reads the capped fingerprint table TWICE
    // (self-join) — without the cache the whole winnowing pass runs
    // once per side (guide §5 reuse rule). The pair table is
    // checkpointed EAGERLY so the cache can be dropped before return
    // (round 19 — the s36 materialize-then-unpersist discipline; the
    // previous lazy return leaked the cache into long-lived sessions
    // that don't clear caches between queries).
    val capped = d23Fps(spark, dir).cache()
    val pairs = capped.as("a").join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= d23Tau)
      .localCheckpoint()
    capped.unpersist(blocking = false)
    pairs.transform(graft.Tables.ordered(_, $"id_a", $"id_b"))
  }

  /** d23 oracle: identical gram hashes (shared FNV mirror), window
    * minima over full windows, df cap and pair counts.
    */
  val d23Sql: String = {
    val h = graft.functions.Fnv64.duckSigned(s"substr(text, pos, $d23K)")
    s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
      |      WHERE length(text) >= ${d23K + d23W - 1}),
      |p AS (SELECT doc_id, text,
      |        CAST(unnest(range(1, n - ${d23K - 2})) AS BIGINT) AS pos FROM d),
      |g AS (SELECT doc_id, pos, $h AS h FROM p),
      |wm AS (SELECT doc_id, pos,
      |        min(h) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN CURRENT ROW AND ${d23W - 1} FOLLOWING) AS wmin,
      |        max(pos) OVER (PARTITION BY doc_id) AS npos
      |      FROM g),
      |f AS (SELECT DISTINCT doc_id, wmin AS fp FROM wm
      |      WHERE pos <= npos - ${d23W - 1}),
      |ok AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= $d23DfCap),
      |c AS (SELECT f.doc_id, f.fp FROM f JOIN ok USING (fp))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(count(*) AS BIGINT) AS n_shared
      |FROM c a JOIN c b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(*) >= $d23Tau
      |ORDER BY id_a, id_b""".stripMargin
  }

  // ---------- d24: entity resolution (record linkage) ----------

  private val d24P = 8 // blocking tile width (chars)

  /** d24: ENTITY RESOLUTION / RECORD LINKAGE — match dirty records
    * (typo'd duplicates) back to a clean reference by blocked
    * fuzzy matching, the Fellegi–Sunter (1969) pipeline every
    * cross-source dedup runs: BLOCK (cheap equality keys propose
    * candidates — never all-pairs), SCORE (edit distance on
    * candidates only), RESOLVE (best match per record with a
    * second-best MARGIN — the abstain signal reviewers read).
    * Blocking is PIGEONHOLE q-gram tiling (d10's argument on the
    * record grain): the 40-char name splits into five disjoint
    * 8-char tiles; ≤ 2 substitutions can break at most 2 tiles, so
    * ≥ 3 intact tiles GUARANTEE the true pair shares a block —
    * recall by construction, not in expectation. Scoring is
    * `levenshtein` (classic unit-cost DP — identical in Spark
    * codegen and DuckDB); resolution ranks (distance, entity id)
    * and emits best, margin to second-best, and a correctness flag
    * against the seeded truth.
    *
    * Fixture: entities are the documents' 40-char prefixes with an
    * ' #id' tail (the tail is never blocked on — tiles live in the
    * text part); every third entity spawns a dirty copy with TWO
    * deterministic digit substitutions at id-derived positions —
    * a digit never equals the letter/space it replaces, so the
    * true-pair distance is exactly 2.
    *
    * Scale shape: blocking is an equality join on (tile_idx, tile)
    * — id-only rows ride the shuffle, names attach by pk at
    * scoring (the d2/d4 contract); per-block fan-in is data-bounded
    * the d2 way (cap if a tile degenerates). At 100 TB this is the
    * standard ER topology: candidates ∝ Σ block², never n².
    */
  def d24(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val clean = Tables.documents(spark, dir)
      .selectExpr("doc_id AS ent_id",
        "concat(substring(text, 1, 40), ' #', doc_id) AS name")
    val dirty = Tables.documents(spark, dir)
      .filter($"doc_id" % 3 === 1)
      .selectExpr("doc_id AS dirty_id",
        "1 + doc_id % 7 AS p1", "9 + doc_id % 11 AS p2",
        "concat(substring(text, 1, 40), ' #', doc_id) AS name0")
      .selectExpr("dirty_id",
        """concat(substring(name0, 1, CAST(p1 AS INT) - 1),
          |  chr(48 + (dirty_id % 10)),
          |  substring(name0, CAST(p1 AS INT) + 1, CAST(p2 - p1 AS INT) - 1),
          |  chr(48 + ((dirty_id + 3) % 10)),
          |  substring(name0, CAST(p2 AS INT) + 1)) AS name""".stripMargin)
    def tiles(df: DataFrame, idCol: String) = df
      .selectExpr(idCol, s"explode(sequence(0, 4)) AS tile_idx", "name")
      .selectExpr(idCol, "tile_idx",
        s"substring(name, tile_idx * $d24P + 1, $d24P) AS tile")
    val cand = tiles(dirty, "dirty_id")
      .join(tiles(clean, "ent_id"), Seq("tile_idx", "tile"))
      .select($"dirty_id", $"ent_id").distinct()
    val scored = cand
      .join(dirty.select($"dirty_id", $"name".as("dname")), Seq("dirty_id"))
      .join(clean.select($"ent_id", $"name".as("cname")), Seq("ent_id"))
      .selectExpr("dirty_id", "ent_id",
        "CAST(levenshtein(dname, cname) AS BIGINT) AS dist")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"dirty_id").orderBy($"dist", $"ent_id")
    scored.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 2)
      .groupBy($"dirty_id")
      .agg(min(when($"rn" === 1, $"ent_id")).as("matched_id"),
        min(when($"rn" === 1, $"dist")).as("best_dist"),
        coalesce(min(when($"rn" === 2, $"dist")), lit(999L)).as("second_dist"))
      .selectExpr("dirty_id", "matched_id", "best_dist",
        "second_dist - best_dist AS margin",
        "CAST(CASE WHEN matched_id = dirty_id THEN 1 ELSE 0 END AS BIGINT) AS correct")
      .transform(graft.Tables.ordered(_, $"dirty_id"))
  }

  /** d24 oracle: identical entity construction, digit typos, tile
    * blocking, levenshtein scoring and (dist, id) resolution. */
  val d24Sql: String =
    s"""WITH clean AS (SELECT doc_id AS ent_id,
      |        concat(substr(text, 1, 40), ' #', doc_id) AS name
      |      FROM documents),
      |d0 AS (SELECT doc_id AS dirty_id,
      |        1 + doc_id % 7 AS p1, 9 + doc_id % 11 AS p2,
      |        concat(substr(text, 1, 40), ' #', doc_id) AS name0
      |      FROM documents WHERE doc_id % 3 = 1),
      |dirty AS (SELECT dirty_id,
      |        concat(substr(name0, 1, CAST(p1 AS INT) - 1),
      |          chr(48 + CAST(dirty_id % 10 AS INT)),
      |          substr(name0, CAST(p1 AS INT) + 1, CAST(p2 - p1 AS INT) - 1),
      |          chr(48 + CAST((dirty_id + 3) % 10 AS INT)),
      |          substr(name0, CAST(p2 AS INT) + 1)) AS name
      |      FROM d0),
      |dt AS (SELECT dirty_id, i AS tile_idx,
      |        substr(name, i * $d24P + 1, $d24P) AS tile
      |      FROM dirty, generate_series(0, 4) s(i)),
      |ct AS (SELECT ent_id, i AS tile_idx,
      |        substr(name, i * $d24P + 1, $d24P) AS tile
      |      FROM clean, generate_series(0, 4) s(i)),
      |cand AS (SELECT DISTINCT dirty_id, ent_id
      |      FROM dt JOIN ct USING (tile_idx, tile)),
      |sc AS (SELECT c.dirty_id, c.ent_id,
      |        CAST(levenshtein(d.name, e.name) AS BIGINT) AS dist
      |      FROM cand c JOIN dirty d USING (dirty_id)
      |      JOIN clean e USING (ent_id)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY dirty_id
      |        ORDER BY dist, ent_id) AS rn FROM sc)
      |SELECT dirty_id,
      |  CAST(min(CASE WHEN rn = 1 THEN ent_id END) AS BIGINT) AS matched_id,
      |  CAST(min(CASE WHEN rn = 1 THEN dist END) AS BIGINT) AS best_dist,
      |  CAST(coalesce(min(CASE WHEN rn = 2 THEN dist END), 999)
      |    - min(CASE WHEN rn = 1 THEN dist END) AS BIGINT) AS margin,
      |  CAST(CASE WHEN min(CASE WHEN rn = 1 THEN ent_id END) = dirty_id
      |    THEN 1 ELSE 0 END AS BIGINT) AS correct
      |FROM r WHERE rn <= 2
      |GROUP BY dirty_id
      |ORDER BY dirty_id""".stripMargin
}
