package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, stopword-profile language ID, rolling-hash
  * fingerprint. All narrow maps over codegen'd native functions
  * (split/filter/regexp_count/transform) — no UDFs, no shuffles
  * except the final presentation sort.
  */
object TextStats {

  // ---------- t1: token counting (whitespace + BPE-ish subword regex) ----------

  private val subwordRe = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  def t1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        size(split(trim($"text"), "\\s+")).cast("long").as("n_ws_tokens"),
        regexp_count($"text", lit(subwordRe)).cast("long").as("n_subword_tokens"),
        length($"text").cast("long").as("n_chars"))
      .orderBy($"doc_id")
  }

  val t1Sql: String =
    s"""SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '$subwordRe')) AS BIGINT) AS n_subword_tokens,
      |  CAST(length(text) AS BIGINT) AS n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------- t2: quality scoring ----------

  private[operators] val stopList = Seq("the", "a", "and", "of", "to", "in", "is")
  private[operators] def stopSqlSet = stopList.map(w => s"'$w'").mkString("(", ", ", ")")

  def t2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .selectExpr("doc_id",
        "CAST(length(text) AS BIGINT) AS n_chars",
        "CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) AS n_words",
        s"CAST(size(filter(split(lower(text), ' '), w -> w IN $stopSqlSet)) AS BIGINT) AS n_stop",
        "CAST(regexp_count(text, '[.,;:!?]') AS BIGINT) AS n_punct")
      .selectExpr("doc_id", "n_chars", "n_words", "n_stop", "n_punct",
        "CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS avg_word_len",
        "CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_ratio",
        "CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio")
      .selectExpr("*",
        ("least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.4" +
          " + least(1.0, stop_ratio * 5.0) * 0.4" +
          " + (1.0 - least(1.0, punct_ratio * 10.0)) * 0.2") + " AS quality")
      .orderBy($"doc_id")
  }

  val t2Sql: String =
    s"""WITH f AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
      |    CAST(len(list_filter(string_split(lower(text), ' '), w -> w IN $stopSqlSet)) AS BIGINT) AS n_stop,
      |    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct
      |  FROM documents),
      |r AS (
      |  SELECT *, CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS avg_word_len,
      |    CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_ratio,
      |    CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio
      |  FROM f)
      |SELECT *,
      |  least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.4
      |    + least(1.0, stop_ratio * 5.0) * 0.4
      |    + (1.0 - least(1.0, punct_ratio * 10.0)) * 0.2 AS quality
      |FROM r
      |ORDER BY doc_id""".stripMargin

  // ---------- t3: stopword-profile language identification ----------

  private[operators] val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "los", "que", "y", "es"),
    "fr" -> Seq("le", "les", "des", "et", "est"),
    "zh" -> Seq("de", "shi", "zai", "le", "he"),
  )

  private[operators] def scoreExpr(words: String, set: Seq[String]): String =
    s"CAST(size(filter($words, w -> w IN ${set.map(w => s"'$w'").mkString("(", ", ", ")")})) AS BIGINT)"

  private[operators] def scoreSqlExpr(words: String, set: Seq[String]): String =
    s"CAST(len(list_filter($words, w -> w IN ${set.map(w => s"'$w'").mkString("(", ", ", ")")})) AS BIGINT)"

  private[operators] val predExpr: String = {
    val langs = markers.map(_._1)
    langs.init.zipWithIndex.map { case (l, i) =>
      val geAll = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
      val ltPrev = langs.take(i).map(o => s"s_$l > s_$o")
      val cond = (ltPrev :+ geAll).mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
  }

  /** t3's scoring chain over an arbitrary (doc_id, lang, text)
    * corpus — shared by t3 and t28 (which grades it on a seeded
    * corpus).
    */
  private[operators] def t3Scored(docs: DataFrame): DataFrame =
    docs
      .selectExpr("doc_id", "lang", "split(lower(text), ' ') AS words")
      .selectExpr(Seq("doc_id", "lang") ++
        markers.map { case (l, set) => s"${scoreExpr("words", set)} AS s_$l" }: _*)
      .selectExpr("doc_id", "lang", "s_en", "s_de", "s_es", "s_fr", "s_zh",
        s"($predExpr) AS predicted")
      .selectExpr("*", "CASE WHEN predicted = lang THEN 1 ELSE 0 END AS hit")

  def t3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t3Scored(Tables.documents(spark, dir)).orderBy($"doc_id")
  }

  val t3Sql: String = {
    val scores = markers.map { case (l, set) =>
      s"${scoreSqlExpr("words", set)} AS s_$l"
    }.mkString(",\n    ")
    s"""WITH w AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS words FROM documents),
      |s AS (SELECT doc_id, lang,
      |    $scores
      |  FROM w)
      |SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
      |  ($predExpr) AS predicted,
      |  CASE WHEN ($predExpr) = lang THEN 1 ELSE 0 END AS hit
      |FROM s
      |ORDER BY doc_id""".stripMargin
  }

  // ---------- t5: sliding-window document chunking ----------
  // The training-data shape: split each document into word-window
  // chunks (size 50, stride 40) with overlap, keyed (doc_id, chunk_id).

  def t5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "split(trim(text), '\\\\s+') AS words")
      .selectExpr("doc_id", "size(words) AS n_words",
        """posexplode(transform(
          | sequence(0, CAST(greatest(0, ceil((size(words) - 50) / 40.0)) AS INT)),
          | k -> array_join(slice(words, k * 40 + 1, 50), ' '))) AS (chunk_id, chunk)""".stripMargin)
      .selectExpr("doc_id", "chunk_id", "n_words",
        "size(split(chunk, ' ')) AS chunk_words", "chunk")
      .transform(graft.Tables.ordered(_, $"doc_id", $"chunk_id"))
  }

  val t5Sql: String =
    """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents),
      |k AS (SELECT doc_id, words, len(words) AS n_words,
      |        unnest(range(0, 1 + CAST(greatest(0, ceil((len(words) - 50) / 40.0)) AS BIGINT))) AS chunk_id
      |      FROM w)
      |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id, CAST(n_words AS INT) AS n_words,
      |  CAST(len(words[(chunk_id * 40 + 1):(chunk_id * 40 + 50)]) AS INT) AS chunk_words,
      |  array_to_string(words[(chunk_id * 40 + 1):(chunk_id * 40 + 50)], ' ') AS chunk
      |FROM k
      |ORDER BY doc_id, chunk_id""".stripMargin

  // ---------- t6: corpus vocabulary (top-50 terms) ----------

  def t6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .selectExpr("explode(split(lower(trim(text)), '\\\\s+')) AS term")
      .groupBy($"term").agg(count(lit(1)).as("freq"))
      .orderBy($"freq".desc, $"term")
      .limit(50)
  }

  val t6Sql: String =
    """SELECT term, count(*) AS freq
      |FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term FROM documents)
      |GROUP BY term
      |ORDER BY freq DESC, term
      |LIMIT 50""".stripMargin

  // ---------- t7: PII-style redaction (emails, URLs, long digits) ----------

  def t7(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // seed synthetic PII deterministically, then redact it
    Tables.documents(spark, dir)
      .selectExpr("doc_id",
        "concat(text, ' contact user', CAST(doc_id AS STRING), '@example.com or http://site', CAST(doc_id AS STRING), '.org id 1234567890') AS text")
      .selectExpr("doc_id",
        """regexp_replace(regexp_replace(regexp_replace(text,
          | '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>'),
          | 'https?://[^ ]+', '<URL>'),
          | '[0-9]{6,}', '<NUM>') AS redacted""".stripMargin.replace("\n", ""))
      .selectExpr("doc_id", "redacted",
        "CAST(length(redacted) - length(replace(redacted, '<EMAIL>', ''))  AS BIGINT) / 7 AS n_emails")
      .transform(graft.Tables.ordered(_, $"doc_id"))
  }

  val t7Sql: String =
    """WITH seeded AS (
      |  SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or http://site' || CAST(doc_id AS VARCHAR) || '.org id 1234567890' AS text
      |  FROM documents),
      |r AS (SELECT doc_id,
      |        regexp_replace(regexp_replace(regexp_replace(text,
      |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
      |          'https?://[^ ]+', '<URL>', 'g'),
      |          '[0-9]{6,}', '<NUM>', 'g') AS redacted
      |      FROM seeded)
      |SELECT doc_id, redacted,
      |  CAST(length(redacted) - length(replace(redacted, '<EMAIL>', '')) AS BIGINT) / 7 AS n_emails
      |FROM r
      |ORDER BY doc_id""".stripMargin

  // ---------- t8: deterministic stratified train/val/test split ----------
  // Hash-based assignment (md5 of the doc id — stable across runs,
  // machines and engines), stratified report per language.

  def t8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "lang",
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 100 AS bucket")
      .selectExpr("lang",
        "CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split")
      .groupBy($"lang", $"split").agg(count(lit(1)).as("n"))
      .transform(graft.Tables.ordered(_, $"lang", $"split"))
  }

  val t8Sql: String =
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS BIGINT) % 100 AS bucket
      |  FROM documents),
      |s AS (SELECT lang,
      |        CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      |      FROM b)
      |SELECT lang, split, count(*) AS n
      |FROM s
      |GROUP BY lang, split
      |ORDER BY lang, split""".stripMargin

  // ---------- t9: sequence packing into ~4000-char bins ----------
  // Greedy sequential packing by doc order (running character sum ->
  // bin id): the shape used to pack short documents into fixed
  // context windows.
  //
  // The global prefix sum is DISTRIBUTED as a three-level scan (the
  // classic parallel-scan decomposition) — a naive
  // `Window.orderBy(doc_id)` with no partitionBy collapses the whole
  // corpus into one task, which is the #1 scale-killer shape:
  //   offset(doc) = prefix within bucket            (bounded window)
  //               + bucket prefix within superbucket (bounded window)
  //               + superbucket exclusive offset     (driver scan of a
  //                 |docs|/(bucketDocs*superFactor) summary — ~25k
  //                 rows at 1e11 docs — the "collect tiny totals,
  //                 broadcast offsets back" half of the scan)
  // All three levels are exact BIGINT sums, so the decomposition is
  // bitwise-identical to the sequential fold and the single DuckDB
  // global-window oracle below checks all of it. Buckets come from
  // doc_id VALUE ranges (ids are dense), so no sampling-based range
  // partitioner is involved and both window levels are deterministic.
  // The doc-level join back reuses the level-0 window's hash
  // partitioning on `bucket` (big side never re-shuffles).

  def t9(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // widths sized for cluster scale; specs shrink them to exercise
    // all three levels on the small testdata
    val bucketDocs = spark.conf.getOption("graft.pack.bucketDocs")
      .map(_.toLong).getOrElse(4096L)
    val superFactor = spark.conf.getOption("graft.pack.superFactor")
      .map(_.toLong).getOrElse(4096L)
    val docs = Tables.documents(spark, dir)
      .selectExpr("doc_id", "n_chars", s"doc_id div $bucketDocs AS bucket")

    // level 2: superbucket exclusive offsets from a tiny driver scan
    val sbTotals = docs
      .selectExpr(s"bucket div $superFactor AS sb", "n_chars")
      .groupBy($"sb").agg(sum($"n_chars").as("stotal"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val sbOff = sbTotals.map { case (sb, tot) =>
      val off = acc; acc += tot; (sb, off)
    }.toSeq
    val sbOffDf = spark.createDataFrame(sbOff).toDF("sb", "sb_off")

    // level 1: bucket offsets, windowed within the superbucket only
    val wInSb = org.apache.spark.sql.expressions.Window
      .partitionBy($"sb").orderBy($"bucket").rowsBetween(Long.MinValue, -1)
    val bucketOffs = docs.groupBy($"bucket").agg(sum($"n_chars").as("btotal"))
      .withColumn("sb", expr(s"bucket div $superFactor"))
      .withColumn("in_sb", coalesce(sum($"btotal").over(wInSb), lit(0L)))
      .join(broadcast(sbOffDf), Seq("sb"))
      .select($"bucket", ($"in_sb" + $"sb_off").as("bucket_off"))

    // level 0: per-doc offsets, windowed within the bucket only
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy($"bucket").orderBy($"doc_id").rowsBetween(Long.MinValue, -1)
    docs
      .withColumn("local_off", coalesce(sum($"n_chars").over(wLocal), lit(0L)))
      .join(bucketOffs, Seq("bucket"))
      .selectExpr("doc_id", "n_chars",
        "CAST(floor(CAST(local_off + bucket_off AS DOUBLE) / 4000.0) AS BIGINT) AS bin")
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"))
      .transform(graft.Tables.ordered(_, $"bin"))
  }

  val t9Sql: String =
    """WITH o AS (
      |  SELECT doc_id, n_chars,
      |    COALESCE(sum(n_chars) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_chars
      |  FROM documents),
      |b AS (SELECT doc_id, n_chars,
      |        CAST(floor(CAST(prior_chars AS DOUBLE) / 4000.0) AS BIGINT) AS bin
      |      FROM o)
      |SELECT bin, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM b
      |GROUP BY bin
      |ORDER BY bin""".stripMargin

  // ---------- t4: rolling-hash document fingerprint (FNV-1a 64) ----------
  // Native Catalyst expression (graft.functions.Fnv64) — rows-only
  // (the oracle engine has no matching hash primitive).

  def t4(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        graft.functions.Fnv64.fnv64(lower(trim($"text"))).as("fingerprint"))
      .orderBy($"doc_id")
  }

  /** Full t4 oracle: the FNV-1a fold re-expressed as DuckDB HUGEINT
    * arithmetic (graft.functions.Fnv64.duckSigned) — bitwise.
    */
  val t4Sql: String =
    s"""SELECT doc_id, ${graft.functions.Fnv64.duckSigned("lower(trim(text))")} AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------- t10: benchmark decontamination (n-gram overlap) ----------

  /** t10: training-set decontamination — flag train documents sharing
    * any word 8-gram with a held-out eval set (doc_id % 13 == 0).
    * The standard pre-training hygiene pass: candidate generation is
    * a pure equality join on the n-gram string, so at 100 TB it is
    * one hash shuffle of (gram, doc_id) pairs — never a doc×doc
    * comparison; hot grams can be salted like any skewed join key.
    */
  /** Word-8-gram set over a `words` array column (whole-text
    * fallback under 8 words) — shared by t10 and the p5 funnel's
    * decontamination stage, Spark and DuckDB mirrors.
    */
  private[operators] val gram8Expr =
    """CASE WHEN size(words) >= 8
      | THEN array_distinct(transform(sequence(0, size(words) - 8),
      |        i -> concat_ws(' ', slice(words, i + 1, 8))))
      | ELSE array(concat_ws(' ', words)) END""".stripMargin.replace("\n", "")

  private[operators] val gram8Sql =
    """CASE WHEN len(words) >= 8
      | THEN list_distinct(list_transform(range(0, len(words) - 7),
      |        i -> array_to_string(words[(i + 1):(i + 8)], ' ')))
      | ELSE [array_to_string(words, ' ')] END""".stripMargin.replace("\n", "")

  def t10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = Tables.documents(spark, dir)
      .selectExpr("doc_id", "split(lower(trim(text)), ' ') AS words")
      .selectExpr("doc_id", s"explode($gram8Expr) AS g")
    val evalSet = grams.filter($"doc_id" % 13 === 0)
      .select($"doc_id".as("eval_id"), $"g")
    grams.filter($"doc_id" % 13 =!= 0)
      .join(evalSet, Seq("g"))
      .groupBy($"doc_id")
      .agg(countDistinct($"g").as("n_shared"),
        countDistinct($"eval_id").as("n_eval_docs"))
      .orderBy($"doc_id")
  }

  // ---------- t11: corpus bigram LM perplexity-style scoring ----------

  /** t11: quality scoring against a corpus-trained bigram language
    * model — each document's mean add-one-smoothed bigram
    * log-likelihood, ln((c(w1,w2)+1)/(c(w1)+V)). The KenLM-style
    * fluency filter of training-data pipelines, minus the external
    * model: the LM *is* the corpus. Three shuffles (bigram counts,
    * unigram counts, per-doc aggregate); count tables join back by
    * bigram equality, so at 100 TB the model is a distributed table,
    * not a broadcast. Each ln is quantized at 1e9 (SURVEY §8 rule 4)
    * and per-doc averaging is an exact integer sum / count.
    */
  /** The per-bigram quantized log-likelihood table (doc_id, lp9) —
    * t11's whole chain up to the per-doc aggregate, shared by t11
    * and t30's perplexity binning.
    */
  private[operators] def t11Lp9(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bi = Tables.documents(spark, dir)
      .selectExpr("doc_id", "split(lower(trim(text)), ' ') AS words")
      .selectExpr("doc_id",
        "explode(CASE WHEN size(words) >= 2 THEN transform(sequence(0, size(words) - 2), i -> named_struct('w1', words[i], 'w2', words[i + 1])) ELSE array() END) AS b")
      .select($"doc_id", $"b.w1", $"b.w2")
    val biC = bi.cache() // feeds counts, vocab and the scoring join
    val c12 = biC.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val c1 = biC.groupBy($"w1").agg(count(lit(1)).as("c1"))
    // vocab size as a broadcast 1-row join, not a driver count():
    // keeps the whole query one lazy DAG (a count() action here would
    // re-execute the explode eagerly on every call)
    val vdf = biC.select($"w1").union(biC.select($"w2")).distinct()
      .agg(count(lit(1)).cast("double").as("v"))
    biC.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vdf))
      .withColumn("lp9",
        floor(log(($"c12" + 1) / ($"c1" + $"v")) * 1e9 + lit(0.5)).cast("long"))
      .select($"doc_id", $"lp9")
  }

  def t11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t11Lp9(spark, dir)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        ((sum($"lp9") / count(lit(1))) / 1e9).as("avg_logprob"))
      .orderBy($"doc_id")
  }

  /** The oracle CTE chain producing `lp` (doc_id, lp9) — shared by
    * t11 and t30.
    */
  private val t11LpCtes: String =
    """w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS words FROM documents),
      |bi AS (SELECT doc_id, unnest(
      |         CASE WHEN len(words) >= 2
      |           THEN list_transform(range(0, len(words) - 1),
      |                  i -> {'w1': words[i + 1], 'w2': words[i + 2]})
      |           ELSE [] END) AS b
      |       FROM w),
      |bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
      |v AS (SELECT count(*) AS v FROM
      |        (SELECT w1 AS w FROM bg UNION SELECT w2 FROM bg)),
      |lp AS (SELECT doc_id,
      |         CAST(floor(ln((c12 + 1) / (c1 + (SELECT CAST(v AS DOUBLE) FROM v))) * 1e9 + 0.5) AS BIGINT) AS lp9
      |       FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1))""".stripMargin

  val t11Sql: String =
    s"""WITH $t11LpCtes
      |SELECT doc_id, count(*) AS n_bigrams,
      |  (CAST(sum(lp9) AS BIGINT) / count(*)) / 1e9 AS avg_logprob
      |FROM lp GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------- t13: intra-document repetition ratio ----------

  /** t13: repeated-n-gram fraction per document — the share of 3-gram
    * occurrences that are repeats of an earlier occurrence in the
    * same document. The standard "rep-ngram" degeneracy signal for
    * filtering templated/spammy text. A pure narrow map + one
    * aggregate; the ratio is integer-derived (exact).
    */
  def t13(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "split(lower(trim(text)), ' ') AS words")
      .selectExpr("doc_id",
        "explode(CASE WHEN size(words) >= 3 THEN transform(sequence(0, size(words) - 3), i -> concat_ws(' ', slice(words, i + 1, 3))) ELSE array(concat_ws(' ', words)) END) AS g")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"), countDistinct($"g").as("n_distinct"))
      .selectExpr("doc_id", "n_grams", "n_distinct",
        "CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE) AS rep_ratio")
      .orderBy($"doc_id")
  }

  val t13Sql: String =
    """WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS words FROM documents),
      |g AS (SELECT doc_id, unnest(
      |        CASE WHEN len(words) >= 3
      |          THEN list_transform(range(0, len(words) - 2),
      |                 i -> array_to_string(words[(i + 1):(i + 3)], ' '))
      |          ELSE [array_to_string(words, ' ')] END) AS g
      |      FROM w)
      |SELECT doc_id, count(*) AS n_grams, count(DISTINCT g) AS n_distinct,
      |  CAST(count(*) - count(DISTINCT g) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rep_ratio
      |FROM g
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------- t12: per-source quota capping ----------

  /** t12: corpus balancing — cap every source at 20 documents,
    * keeping each source's deterministic-hash sample (md5 order; a
    * stable "random" sample that is reproducible across runs and
    * engines). The per-domain quota pass of pretraining pipelines.
    * One shuffle on source; the rank is a bounded window (quota
    * rows per source survive — at scale use TopKAgg like q23 to keep
    * O(quota) state instead of sorting whole groups).
    */
  def t12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val quota = 20
    // TWO-LEVEL quota selection (TwoLevel.topK): sources are few, so
    // a per-source window would put a source's every document into
    // ONE task.
    val base = Tables.documents(spark, dir)
      .select($"doc_id", $"source", md5(concat($"source", lit(":"), $"doc_id")).as("h"))
    graft.functions.TwoLevel.topK(base, Seq($"source"),
        Seq($"h", $"doc_id"), $"doc_id", quota, rankName = "rn")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), min($"h").as("first_hash"))
      .orderBy($"source")
  }

  val t12Sql: String =
    """WITH h AS (SELECT doc_id, source,
      |            md5(source || ':' || CAST(doc_id AS VARCHAR)) AS h
      |          FROM documents),
      |r AS (SELECT source, h,
      |        row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
      |      FROM h)
      |SELECT source, count(*) AS n_kept, min(h) AS first_hash
      |FROM r WHERE rn <= 20
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------- t14: per-document top-k TF-IDF terms ----------
  // The standard keyword/topic profile of a pretraining corpus: term
  // frequency per doc x inverse document frequency, top 3 terms per
  // doc. Scale shape: one explode + (doc, term) aggregate; the df
  // table derives from the SAME aggregate (exchange-reused subtree,
  // one scan); the corpus size rides in as a 1-row broadcast; the
  // join back on `term` is a shuffle join at corpus scale (billions
  // of term types — never collected); top-k per doc is a bounded
  // window (swap for TopKAgg on giant docs, the q23 substitution).
  // Determinism: tf/df/n are exact counts; the single transcendental
  // (ln) is quantized per §8.4, and tf * idf products of identical
  // doubles are bitwise identical in both engines.

  def t14(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tf = Tables.documents(spark, dir)
      .selectExpr("doc_id", "explode(split(lower(trim(text)), '\\\\s+')) AS term")
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val nDf = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"score".desc, $"term")
    tf.join(dfT, Seq("term"))
      .crossJoin(broadcast(nDf))
      .selectExpr("doc_id", "term",
        "floor(CAST(tf AS DOUBLE) * (floor(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1e6 + 0.5) / 1e6) * 1e6 + 0.5) / 1e6 AS score")
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .select($"doc_id", $"rnk", $"term", $"score")
      .transform(graft.Tables.ordered(_, $"doc_id", $"rnk"))
  }

  val t14Sql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |           FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |s AS (SELECT tf.doc_id, tf.term,
      |        floor(CAST(tf.tf AS DOUBLE) * (floor(ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) * 1e6 + 0.5) / 1e6) * 1e6 + 0.5) / 1e6 AS score
      |      FROM tf JOIN df USING (term) CROSS JOIN n),
      |r AS (SELECT doc_id, term, score,
      |        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INTEGER) AS rnk
      |      FROM s)
      |SELECT doc_id, rnk, term, score FROM r
      |WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  // ---------- t16: BM25 retrieval scoring ----------

  /** t16: BM25 top-k retrieval (k1=1.2, b=0.75) — the lexical
    * retrieval primitive behind hard-negative mining, near-dup
    * triage and eval-set construction. Pure inverted-index shape:
    * query terms (tiny, broadcast) equality-join the (doc, term, tf)
    * index, per-term contributions quantize to integers so the
    * per-(query, doc) sum is order-free, and a bounded window takes
    * top-5 per query. At corpus scale everything shuffles on `term`
    * exactly once (hot boilerplate terms salt like any skewed key);
    * df/avgdl are aggregates of the same index, N rides a 1-row
    * broadcast — nothing is ever collected.
    */
  /** The BM25 scoring pipeline of [[t16]], shared with the hybrid
    * retrieval fusion (v10): (qid, doc_id, score) for the three fixed
    * queries over the whole corpus — callers rank/filter on top.
    */
  private[graft] def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .selectExpr("doc_id", "explode(split(lower(trim(text)), ' ')) AS term")
    val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
    val dfT = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum($"dl") / count(lit(1))).as("avgdl"))
    val queries = Seq((0L, "spark table join"), (1L, "stream window agg"),
      (2L, "customer order value")).toDF("qid", "qtext")
    val qterms = queries
      .selectExpr("qid", "explode(split(qtext, ' ')) AS term").distinct()
    qterms.join(tf, Seq("term"))
      .join(dfT, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .selectExpr("qid", "doc_id",
        "CAST(floor((floor(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 5e-1) / (CAST(df AS DOUBLE) + 5e-1) + 1.0) * 1e6 + 0.5) / 1e6)" +
          " * (CAST(tf AS DOUBLE) / (CAST(tf AS DOUBLE) + 12e-1 * (25e-2 + 75e-2 * (CAST(dl AS DOUBLE) / avgdl))))" +
          " * 1e6 + 0.5) AS BIGINT) AS c6")
      .groupBy($"qid", $"doc_id")
      .agg((sum($"c6") / 1e6).as("score"))
  }

  def t16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // TWO-LEVEL top-k (TwoLevel.topK): queries are few, so a per-qid
    // window would rank a query's every matching doc in ONE task.
    graft.functions.TwoLevel.topK(bm25Scores(spark, dir), Seq($"qid"),
        Seq($"score".desc, $"doc_id"), $"doc_id", 5)
      .select($"qid", $"rnk", $"doc_id", $"score")
      .transform(graft.Tables.ordered(_, $"qid", $"rnk"))
  }

  /** t16's scoring CTE chain (ends with `s` = (qid, doc_id, score)),
    * shared with the v10 hybrid-fusion oracle.
    */
  private[graft] val bm25Ctes: String =
    """toks AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
      |              FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs,
      |            CAST(sum(dl) AS BIGINT) / count(*) AS avgdl
      |          FROM dl),
      |q AS (SELECT * FROM (VALUES (0, 'spark table join'), (1, 'stream window agg'),
      |        (2, 'customer order value')) AS t(qid, qtext)),
      |qt AS (SELECT DISTINCT CAST(qid AS BIGINT) AS qid,
      |         unnest(string_split(qtext, ' ')) AS term FROM q),
      |c AS (SELECT qt.qid, tf.doc_id,
      |        CAST(floor((floor(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 5e-1) / (CAST(df AS DOUBLE) + 5e-1) + 1.0) * 1e6 + 0.5) / 1e6)
      |          * (CAST(tf AS DOUBLE) / (CAST(tf AS DOUBLE) + 12e-1 * (25e-2 + 75e-2 * (CAST(dl.dl AS DOUBLE) / avgdl))))
      |          * 1e6 + 0.5) AS BIGINT) AS c6
      |      FROM qt JOIN tf USING (term) JOIN dfx USING (term)
      |      JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats),
      |s AS (SELECT qid, doc_id, CAST(sum(c6) AS BIGINT) / 1e6 AS score
      |      FROM c GROUP BY 1, 2)""".stripMargin

  val t16Sql: String =
    s"""WITH $bm25Ctes,
      |r AS (SELECT qid, doc_id, score,
      |        CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INTEGER) AS rnk
      |      FROM s)
      |SELECT qid, rnk, doc_id, score FROM r WHERE rnk <= 5
      |ORDER BY qid, rnk""".stripMargin

  // ---------- t15: weighted source-mixture sampling ----------

  /** t15: deterministic mixture resampling — re-weight the corpus to
    * a target per-source mixture, the "data mixing" pass that turns a
    * raw crawl into a training distribution. Sources classed by index
    * mod 5: class 0 upsamples 2× (every doc emits 2 replicas), class
    * 1 downsamples to 40% (deterministic md5 bucket — reproducible
    * across runs AND engines, unlike rand()), the rest pass through.
    *
    * Scale shape: a pure narrow map — hash, per-source weight lookup
    * (a broadcast table in a real pipeline), and an explode whose
    * fan-out is the per-doc replica count. Zero shuffles; composes in
    * front of t8's split/t9's packing unchanged.
    */
  /** The mixture transform itself — STATELESS, so the identical
    * function serves the batch query (t15) and the streaming twin
    * (s11): narrow maps and bounded explodes carry over to
    * `readStream` unchanged.
    */
  def mixtureOf(docs: DataFrame): DataFrame =
    docs
      .selectExpr("doc_id", "source",
        "CAST(substring(source, 4) AS INT) % 5 AS sclass",
        "CAST(conv(substring(md5(concat('mix:', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS BIGINT) % 100 AS bucket")
      .selectExpr("doc_id", "source",
        "CASE WHEN sclass = 0 THEN 2 " +
          "WHEN sclass = 1 THEN (CASE WHEN bucket < 40 THEN 1 ELSE 0 END) " +
          "ELSE 1 END AS reps")
      .filter(col("reps") > 0)
      .selectExpr("doc_id", "source",
        "explode(sequence(CAST(1 AS BIGINT), CAST(reps AS BIGINT))) AS rep")

  def t15(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mixtureOf(Tables.documents(spark, dir))
      .transform(graft.Tables.ordered(_, $"doc_id", $"rep"))
  }

  val t15Sql: String =
    """WITH b AS (
      |  SELECT doc_id, source,
      |    CAST(substring(source, 4) AS INT) % 5 AS sclass,
      |    CAST(('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS BIGINT) % 100 AS bucket
      |  FROM documents),
      |r AS (SELECT doc_id, source,
      |        CASE WHEN sclass = 0 THEN 2
      |             WHEN sclass = 1 THEN (CASE WHEN bucket < 40 THEN 1 ELSE 0 END)
      |             ELSE 1 END AS reps
      |      FROM b)
      |SELECT doc_id, source, unnest(range(1, reps + 1)) AS rep
      |FROM r WHERE reps > 0
      |ORDER BY doc_id, rep""".stripMargin

  val t10Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS words FROM documents),
      |g AS (SELECT doc_id, unnest($gram8Sql) AS g
      |      FROM w)
      |SELECT t.doc_id, count(DISTINCT t.g) AS n_shared,
      |  count(DISTINCT e.doc_id) AS n_eval_docs
      |FROM g t JOIN g e ON t.g = e.g AND e.doc_id % 13 = 0
      |WHERE t.doc_id % 13 <> 0
      |GROUP BY t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // ---------- t17: corpus-learned BPE merge table ----------

  /** Number of batched BPE merge rounds t17 learns (unrolled in the
    * oracle — the v8 precedent for bounded greedy loops), and the
    * within-round batch width. Total merges ≈ rounds × batch — the
    * production-depth path: a 50k-merge vocabulary at batch 256 is
    * ~200 rounds, NOT 50k driver round-trips. The candidate pool per
    * round is capped at [[t17CandK]] ranked pairs (the dominance
    * filter below needs a bounded, identical pool in both engines).
    */
  val t17Rounds = 8
  val t17BatchM = 16
  val t17CandK = 128

  /** Greedy batched merge selection, shared by both engines: rank the
    * round's pair counts by (cnt DESC, pair ASC) — a TOTAL order —
    * keep the top [[t17CandK]], then scan in rank order selecting
    * every pair none of whose symbols — NOR its merged output — was
    * used by an already-selected pair, up to [[t17BatchM]]. The
    * merged-output check matters: ("a","b") and ("ab","c") are
    * disjoint as symbol sets, but applying "a b"→"ab" first lets
    * " ab  c " fire on the SAME word in the same round (a two-level
    * cascade), so application order would leak into the result.
    * Excluding a pair when {a, b, ab} intersects the used set (which
    * itself holds every selected pair's symbols AND merged output)
    * blocks both cascade directions — selected merges then truly
    * commute, and batched application equals any sequential order of
    * the same set. The oracle expresses the same scan as a recursive
    * single-row state machine over the ranked candidates (the greedy
    * set is inherently sequential — a pure dominance anti-join was
    * measured to select ~4/round on a character alphabet, where
    * greedy selects ~13).
    */
  private[graft] def selectBatch(ranked: Seq[(String, Long)],
      batchM: Int = t17BatchM): Seq[(String, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val used = scala.collection.mutable.Set[String]()
    var i = 0
    while (i < ranked.length && out.size < batchM) {
      val Array(a, b) = ranked(i)._1.split(" ", 2)
      val merged = a + b
      if (!used(a) && !used(b) && !used(merged)) {
        out += ranked(i)
        used += a
        used += b
        used += merged
      }
      i += 1
    }
    out.toSeq
  }

  /** t17: distributed byte-pair-encoding learning — the classic
    * subword algorithm (Sennrich et al. 2016) run corpus-scale:
    * production packing/quota logic operates on tokenizer tokens, not
    * words, and the merge table IS the tokenizer.
    *
    * Shape: ONE corpus-wide shuffle builds the (distinct word, freq)
    * vocab — Heaps' law keeps it ~1M rows at 100 TB while the corpus
    * is billions of docs. Each of the [[t17Rounds]] rounds is then a
    * distributed adjacent-pair count over the vocab (freq-weighted
    * exact BIGINT sums), ONE bounded [[t17CandK]]-row collect, the
    * [[selectBatch]] dominance filter picking up to [[t17BatchM]]
    * mutually-disjoint merges, and a narrow map applying them all —
    * so round count ≪ merge count (the per-merge driver round-trip
    * of naive distributed BPE is the scale killer this buys out of).
    * Counts are start-of-round counts, the standard parallel-BPE
    * batching trade, recorded as such.
    *
    * Merge application is leftmost non-overlapping pair rewriting via
    * the doubled-space replace trick, so the DuckDB oracle reproduces
    * it with plain `replace` chained through `list_reduce`: double
    * every space (sentinel-wrapped), replace " a  b " with " ab " per
    * merge in rank order, collapse once. Both engines scan
    * left-to-right, so "a a a" merges to "aa a" exactly like
    * sequential BPE.
    *
    * Output: the learned merge table (round, rk, pair, merged, cnt) —
    * deterministic, integer-counted, bitwise-comparable.
    */
  def t17(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocab = t17Vocab(spark, dir).cache()
    val (rules, _) = t17Learn(vocab)
    vocab.unpersist()
    spark.createDataFrame(rules.map { case (round, rk, pair, cnt) =>
      (round, rk, pair, pair.replace(" ", ""), cnt)
    }).toDF("round", "rk", "pair", "merged", "cnt")
      .transform(graft.Tables.ordered(_, $"round", $"rk"))
  }

  /** (distinct word, freq) with words exploded to space-separated
    * characters — the compact state the merge rounds iterate on.
    */
  private[graft] def t17Vocab(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("explode(split(lower(trim(text)), ' ')) AS w")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("s"), col("freq"))

  /** Runs the batched merge rounds; returns the learned
    * (round, rk, pair, cnt) rules in order plus the final tokenized
    * vocab (s = space-joined tokens). Per-round state is
    * localCheckpoint'd EAGERLY — §8.25's lesson: a lazy checkpoint
    * under iteration recomputes/races; and the lineage cut keeps the
    * analyzer safe at production round counts (§8.19).
    */
  private[graft] def t17Learn(vocab0: DataFrame,
      rounds: Int = t17Rounds, batchM: Int = t17BatchM,
      candK: Int = t17CandK): (Seq[(Int, Int, String, Long)], DataFrame) = {
    val spark = vocab0.sparkSession
    import spark.implicits._
    // hand-written, not Iterate: it stops once a round selects no merge
    var cur = vocab0
    val rules = scala.collection.mutable.ArrayBuffer[(Int, Int, String, Long)]()
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val ranked = cur
        .filter(size(split($"s", " ")) >= 2)
        .select($"freq", explode(expr(
          """transform(sequence(0, size(split(s, ' ')) - 2),
            | i -> concat(element_at(split(s, ' '), i + 1), ' ',
            |             element_at(split(s, ' '), i + 2)))""".stripMargin)).as("pair"))
        .groupBy($"pair").agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"pair".asc)
        .limit(candK).as[(String, Long)].collect().toSeq
      val sel = selectBatch(ranked, batchM)
      if (sel.isEmpty) exhausted = true // every word fully merged
      else {
        sel.zipWithIndex.foreach { case ((pair, cnt), j) =>
          rules += ((round, j + 1, pair, cnt))
        }
        // all merges of a round chain on ONE doubled form (the
        // doubling is preserved around each merged token), collapsed
        // once — survivors are symbol-disjoint so order is moot, but
        // rank order is applied for bit-identical parity with the
        // oracle's list_reduce
        var s: Column = org.apache.spark.sql.functions.replace(
          concat(lit(" "), $"s", lit(" ")), lit(" "), lit("  "))
        sel.foreach { case (pair, _) =>
          s = org.apache.spark.sql.functions.replace(s,
            lit(" " + pair.replace(" ", "  ") + " "),
            lit(" " + pair.replace(" ", "") + " "))
        }
        val next = cur
          .select(trim(regexp_replace(s, lit(" +"), lit(" "))).as("s"), $"freq")
          .localCheckpoint()
        // free the prior round's checkpoint blocks (no-op on round
        // 1's cached vocab — it has no LogicalRDD leaf)
        graft.functions.Lineage.freeCheckpoint(cur)
        cur = next
        round += 1
      }
    }
    (rules.toSeq, cur)
  }

  /** Tokenizer-grain token counts per document using the learned
    * merges — the input the t9 packing variant runs on (spec'd).
    */
  private[graft] def t17TokenCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocab = t17Vocab(spark, dir).cache()
    val (_, tokenized) = t17Learn(vocab)
    val perWord = tokenized
      .select($"s", size(split($"s", " ")).cast("long").as("n_tok"))
      .select(org.apache.spark.sql.functions.replace($"s", lit(" "), lit("")).as("w"), $"n_tok")
      .groupBy($"w").agg(first($"n_tok").as("n_tok"))
    val out = Tables.documents(spark, dir)
      .selectExpr("doc_id", "explode(split(lower(trim(text)), ' ')) AS w")
      .join(perWord, Seq("w"))
      .groupBy($"doc_id").agg(sum($"n_tok").as("n_tokens"))
    vocab.unpersist()
    out
  }

  /** t18: tokenizer-grain token counts per document — t1's counting
    * at the grain production packing/quota logic actually uses: the
    * learned t17 merges re-tokenize every word (the distinct-word
    * table tokenizes ONCE; the corpus re-joins by word — the same
    * vocab-join shape as t11's count tables, never collected), then
    * one per-doc aggregate. Exact integer counts, so the unrolled
    * oracle matches bitwise.
    */
  def t18(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t17TokenCounts(spark, dir).transform(graft.Tables.ordered(_, $"doc_id"))
  }

  /** Oracle: the identical batched rounds unrolled as CTEs — pair
    * counts, QUALIFY'd total-order ranking capped at [[t17CandK]],
    * the dominance anti-join (NOT EXISTS a higher-ranked candidate
    * sharing a symbol — declarative, no greedy state), and the
    * doubled-space merge application chained through `list_reduce`
    * in rank order. The regexp flags differ by engine ('g' is
    * explicit in DuckDB) but the string algebra is the same.
    *
    * Shared CTE prefix: vocab init + the unrolled merge rounds
    * (ends with `w<t17Rounds>` = the fully tokenized vocab).
    */
  private def t17Ctes: String = {
    def pairCte(i: Int): String =
      s"""p$i AS (SELECT l[i] || ' ' || l[i + 1] AS pair, freq
         |  FROM (SELECT l, freq, unnest(range(1, len(l))) AS i
         |        FROM (SELECT string_split(s, ' ') AS l, freq FROM w${i - 1}))),
         |c$i AS MATERIALIZED (SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rnk
         |        FROM (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p$i GROUP BY pair)
         |        QUALIFY rnk <= $t17CandK),
         |g$i AS (
         |  SELECT 0 AS step, []::VARCHAR[] AS used, []::VARCHAR[] AS sel
         |  UNION ALL
         |  SELECT c.rnk AS step,
         |    CASE WHEN NOT (list_contains(g.used, split_part(c.pair, ' ', 1))
         |               OR list_contains(g.used, split_part(c.pair, ' ', 2))
         |               OR list_contains(g.used, replace(c.pair, ' ', ''))) AND len(g.sel) < $t17BatchM
         |         THEN g.used || [split_part(c.pair, ' ', 1), split_part(c.pair, ' ', 2), replace(c.pair, ' ', '')]
         |         ELSE g.used END AS used,
         |    CASE WHEN NOT (list_contains(g.used, split_part(c.pair, ' ', 1))
         |               OR list_contains(g.used, split_part(c.pair, ' ', 2))
         |               OR list_contains(g.used, replace(c.pair, ' ', ''))) AND len(g.sel) < $t17BatchM
         |         THEN list_append(g.sel, c.pair) ELSE g.sel END AS sel
         |  FROM g$i g JOIN c$i c ON c.rnk = g.step + 1),
         |sel$i AS (SELECT sel FROM g$i ORDER BY step DESC LIMIT 1),
         |s$i AS (SELECT p.pair, p.mrk, c.cnt
         |        FROM (SELECT unnest(sel) AS pair,
         |                CAST(unnest(range(1, len(sel) + 1)) AS INTEGER) AS mrk
         |              FROM sel$i) p
         |        JOIN c$i c USING (pair)),
         |w$i AS MATERIALIZED (SELECT trim(regexp_replace(
         |          list_reduce(
         |            list_prepend(replace(' ' || s || ' ', ' ', '  '),
         |              coalesce((SELECT list(pair ORDER BY mrk) FROM s$i), []::VARCHAR[])),
         |            (acc, p) -> replace(acc,
         |              ' ' || replace(p, ' ', '  ') || ' ',
         |              ' ' || replace(p, ' ', '') || ' ')),
         |          ' +', ' ', 'g')) AS s, freq
         |        FROM w${i - 1})""".stripMargin
    val rounds = (1 to t17Rounds).map(pairCte).mkString(",\n")
    s"""wx AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS w FROM documents),
       |vocab AS (SELECT w, count(*) AS freq FROM wx GROUP BY w),
       |w0 AS (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s, freq FROM vocab),
       |$rounds""".stripMargin
  }

  val t17Sql: String = {
    val finalSel = (1 to t17Rounds)
      .map(i => s"SELECT $i AS round, mrk AS rk, pair, replace(pair, ' ', '') AS merged, cnt FROM s$i")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE $t17Ctes
       |$finalSel
       |ORDER BY round, rk""".stripMargin
  }

  // ---------- t20: data-selection importance weights (DSIR) ----------

  /** Hashed-feature bucket count for t20 — vocabulary-independent,
    * so the feature tables are FIXED-SIZE regardless of corpus scale.
    */
  private val dsirBuckets = 512

  /** t20: importance-weighted data selection (DSIR — Xie et al. 2024,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS). t15 resamples to HAND-PICKED per-source weights; t20
    * DERIVES each document's weight from the data itself: estimate
    * target and raw feature distributions from hashed-unigram counts,
    * and weight every document by its log importance ratio
    * log p_target(doc) − log p_raw(doc) = Σ_w lr(f(w)) under the
    * bag-of-hashed-features model. The target here is the sclass-0
    * "curated" source class (t15's convention); a real pipeline
    * points it at any high-quality reference corpus.
    *
    * Determinism: per-feature Laplace-smoothed log-probs are
    * quantized once (floor(ln·1e9+0.5) — §8.4), so every downstream
    * sum/compare is exact BIGINT. Selection avoids BIGINT division
    * entirely (Spark `div` truncates toward zero, DuckDB `//`
    * floors — they DIVERGE on the negative weights this op
    * produces): `selected = iw9·n_docs > Σ iw9` cross-multiplies
    * the above-mean test (safe: n_docs > 0; magnitudes ~1e12·1e4 at
    * gate scale — at billions of docs, drop the flag to a driver-side
    * threshold or rescale the quantization).
    *
    * Scale shape: the feature tables are ≤ [[dsirBuckets]] rows by
    * construction (the POINT of hashed features) — both distribution
    * estimates and the scoring join BROADCAST; the only corpus
    * shuffles are the per-doc aggregate and the two bounded count
    * aggregates. The 1-row selection threshold rides a broadcast
    * cross join. One cached explode feeds all passes.
    */
  /** The shared DSIR estimator internals: the cached hashed-feature
    * occurrence table, the raw per-feature counts, and the quantized
    * per-feature log-ratio table — used by the distributed t20 query
    * and by [[dsirModel]]'s serving export.
    */
  private def dsirParts(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val occ = Tables.documents(spark, dir)
      .selectExpr("doc_id",
        "CAST(substring(source, 4) AS INT) % 5 AS sclass",
        "explode(split(lower(trim(text)), ' ')) AS w")
      .selectExpr("doc_id", "sclass",
        s"CAST(conv(substring(md5(w), 1, 4), 16, 10) AS BIGINT) % $dsirBuckets AS f")
      .cache() // feeds raw counts, target counts, totals and scoring
    val raw = occ.groupBy($"f").agg(count(lit(1)).as("cr"))
    val tgt = occ.filter($"sclass" === 0).groupBy($"f").agg(count(lit(1)).as("ct"))
    val nt = occ.filter($"sclass" === 0).agg(count(lit(1)).as("nt"))
    val nr = occ.agg(count(lit(1)).as("nr"))
    val feat = raw.join(tgt, Seq("f"), "left_outer")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .selectExpr("f",
        s"floor(ln((coalesce(ct, CAST(0 AS BIGINT)) + 1) / CAST(nt + $dsirBuckets AS DOUBLE)) * 1e9 + 0.5)" +
          s" - floor(ln((cr + 1) / CAST(nr + $dsirBuckets AS DOUBLE)) * 1e9 + 0.5) AS lr9")
    (occ, raw, feat)
  }

  def t20(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (occ, _, feat) = dsirParts(spark, dir)
    val scored = occ.join(broadcast(feat), Seq("f"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"lr9").as("iw9"))
    val thr = scored.agg(sum($"iw9").as("tot"), count(lit(1)).as("nd"))
    scored.crossJoin(broadcast(thr))
      .selectExpr("doc_id", "n_words", "iw9",
        "CAST(CASE WHEN iw9 * nd > tot THEN 1 ELSE 0 END AS BIGINT) AS selected")
      .transform(Tables.ordered(_, $"doc_id"))
  }

  /** DSIR model export — the SERVING boundary: the trained estimator
    * is a [[dsirBuckets]]-entry quantized log-ratio table plus the
    * selection threshold (Σiw9, n_docs), and collecting it to the
    * driver is the standard model-deploy step (bounded by
    * construction — 512 rows + 1 row, never corpus-sized). The
    * threshold total needs NO second corpus pass: Σ_docs iw9 =
    * Σ_f cr(f)·lr9(f) over the fixed-size feature table.
    */
  def dsirModel(spark: SparkSession, dir: String): (Map[Long, Long], Long, Long) = {
    import spark.implicits._
    val (_, raw, feat) = dsirParts(spark, dir)
    val m = feat.as[(Long, Long)].collect().toMap
    val tot = raw.join(feat, Seq("f"))
      .agg(sum($"cr" * $"lr9").as("tot")).as[Long].head()
    // every doc contributes ≥1 occurrence (split of any string is
    // non-empty) and every occurrence's feature is in the raw table,
    // so the scored-doc count is exactly the document count
    val nd = Tables.documents(spark, dir).count()
    (m, tot, nd)
  }

  /** Score documents against a trained DSIR model as a PURE NARROW
    * MAP — the model rides the plan as a literal lookup table, so
    * the same function serves the batch corpus and the streaming
    * ingest door (s16): zero shuffles, zero state, stream-safe.
    * Bitwise-identical to t20's distributed scoring by construction
    * (same quantized table, same integer arithmetic; spec'd).
    */
  def dsirScore(docs: DataFrame, lr9: Map[Long, Long], tot: Long, nd: Long): DataFrame =
    docs
      .withColumn("ws", expr("split(lower(trim(text)), ' ')"))
      .withColumn("m", typedLit(lr9))
      .selectExpr("doc_id", "CAST(size(ws) AS BIGINT) AS n_words",
        s"aggregate(ws, CAST(0 AS BIGINT), (acc, w) -> acc + " +
          s"coalesce(element_at(m, CAST(conv(substring(md5(w), 1, 4), 16, 10) AS BIGINT) % $dsirBuckets), CAST(0 AS BIGINT))) AS iw9")
      .selectExpr("doc_id", "n_words", "iw9",
        s"CAST(CASE WHEN iw9 * ${nd}L > ${tot}L THEN 1 ELSE 0 END AS BIGINT) AS selected")

  /** t20 oracle: identical hashed-feature estimate — same md5-prefix
    * bucket idiom as t15's, quantized logs, cross-multiplied
    * above-mean selection; BIGINT sums cast back from HUGEINT.
    */
  val t20Sql: String =
    s"""WITH occ AS (
      |  SELECT doc_id,
      |    CAST(substring(source, 4) AS INT) % 5 AS sclass,
      |    CAST(('0x' || substring(md5(w), 1, 4))::BIGINT AS BIGINT) % $dsirBuckets AS f
      |  FROM (SELECT doc_id, source, unnest(string_split(lower(trim(text)), ' ')) AS w
      |        FROM documents)),
      |raw AS (SELECT f, count(*) AS cr FROM occ GROUP BY f),
      |tgt AS (SELECT f, count(*) AS ct FROM occ WHERE sclass = 0 GROUP BY f),
      |nt AS (SELECT count(*) AS nt FROM occ WHERE sclass = 0),
      |nr AS (SELECT count(*) AS nr FROM occ),
      |feat AS (SELECT f,
      |    CAST(floor(ln((coalesce(ct, 0) + 1) / CAST(nt.nt + $dsirBuckets AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
      |    - CAST(floor(ln((cr + 1) / CAST(nr.nr + $dsirBuckets AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS lr9
      |  FROM raw LEFT JOIN tgt USING (f), nt, nr),
      |scored AS (SELECT doc_id, count(*) AS n_words, CAST(sum(lr9) AS BIGINT) AS iw9
      |           FROM occ JOIN feat USING (f) GROUP BY doc_id),
      |thr AS (SELECT CAST(sum(iw9) AS BIGINT) AS tot, count(*) AS nd FROM scored)
      |SELECT doc_id, n_words, iw9,
      |  CAST(CASE WHEN iw9 * nd > tot THEN 1 ELSE 0 END AS BIGINT) AS selected
      |FROM scored, thr
      |ORDER BY doc_id""".stripMargin

  val t18Sql: String =
    s"""WITH RECURSIVE $t17Ctes,
       |pertok AS (SELECT replace(s, ' ', '') AS w,
       |             CAST(len(string_split(s, ' ')) AS BIGINT) AS n_tok
       |           FROM w$t17Rounds),
       |docw AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
       |         FROM documents)
       |SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |FROM docw JOIN pertok USING (w)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------- t34: tokenizer fertility audit per language ----------

  /** t34: TOKENIZER FERTILITY by language — tokens-per-word of the
    * t17-learned BPE across the corpus's language strata, the
    * multilingual tokenizer-equity audit (Ács 2019; Rust et al.
    * 2021; Petrov et al. 2023 "Language Model Tokenizers Introduce
    * Unfairness"): a tokenizer trained on mixed data merges
    * English-frequent patterns first, so other languages pay more
    * tokens for the same words — more compute, shorter effective
    * context, worse per-byte pricing. Fertility(lang) =
    * Σ tokens / Σ words over the language's documents, in §8.39
    * micro-units, plus the premium vs the corpus's BEST (lowest)
    * fertility — the equity gap number the audit exists for.
    *
    * Scale shape: the tokenizer applies on the DISTINCT-WORD grain
    * exactly as t18 (vocab tokenized once, corpus re-joins by
    * word — never per-occurrence retokenization); per-language
    * sums are one map-side-combined aggregate; the premium join is
    * a 1-row broadcast. At 100 TB the audit costs t18 + a
    * 5-row table.
    */
  def t34(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perDoc = t17TokenCounts(spark, dir)
    val words = Tables.documents(spark, dir)
      .selectExpr("doc_id", "lang",
        "explode(split(lower(trim(text)), ' ')) AS w")
      .groupBy($"doc_id", $"lang").agg(count(lit(1)).as("n_words"))
    val byLang = words.join(perDoc, Seq("doc_id"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("words"),
        sum($"n_tokens").as("tokens"))
      .selectExpr("lang", "n_docs", "words", "tokens",
        "(tokens * 1000000) div words AS fertility_micro")
    val best = byLang.agg(min($"fertility_micro").as("best_micro"))
    byLang.crossJoin(broadcast(best))
      .selectExpr("lang", "n_docs", "words", "tokens", "fertility_micro",
        "fertility_micro - best_micro AS premium_micro")
      .transform(graft.Tables.ordered(_, $"lang"))
  }

  /** t34 oracle: t18's tokenization chain + the per-language
    * aggregate and best-fertility premium.
    */
  val t34Sql: String =
    s"""WITH RECURSIVE $t17Ctes,
       |pertok AS (SELECT replace(s, ' ', '') AS w,
       |             CAST(len(string_split(s, ' ')) AS BIGINT) AS n_tok
       |           FROM w$t17Rounds),
       |docw AS (SELECT doc_id, lang,
       |           unnest(string_split(lower(trim(text)), ' ')) AS w
       |         FROM documents),
       |wc AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_words
       |       FROM docw GROUP BY doc_id, lang),
       |tk AS (SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |       FROM docw JOIN pertok USING (w) GROUP BY doc_id),
       |perdoc AS (SELECT wc.doc_id, wc.lang, wc.n_words, tk.n_tokens
       |           FROM wc JOIN tk ON tk.doc_id = wc.doc_id),
       |bylang AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |             CAST(sum(n_words) AS BIGINT) AS words,
       |             CAST(sum(n_tokens) AS BIGINT) AS tokens,
       |             (CAST(sum(n_tokens) AS BIGINT) * 1000000)
       |               // CAST(sum(n_words) AS BIGINT) AS fertility_micro
       |           FROM perdoc GROUP BY lang),
       |best AS (SELECT min(fertility_micro) AS best_micro FROM bylang)
       |SELECT lang, n_docs, words, tokens, fertility_micro,
       |  fertility_micro - best.best_micro AS premium_micro
       |FROM bylang, best
       |ORDER BY lang""".stripMargin

  // ---------- t21: rule-based quality filtering (Gopher/C4 gates) ----------

  /** Gopher word-count gate [min, max] (Rae et al. 2021, App. A:
    * 50..100k words). The other rule thresholds below are likewise
    * the published ones: mean word length in [3, 10], symbol:word
    * ratio <= 0.1, >= 2 distinct required stopwords, >= 80% of words
    * containing an alphabetic character.
    */
  private val t21MinWords = 50L
  private val t21MaxWords = 100000L

  /** t21: rule-based document FILTERING — the decision layer over
    * t2's continuous quality signals. Each document gets one boolean
    * gate per published crawl-cleaning heuristic (Rae et al. 2021
    * "Scaling Language Models: Methods, Analysis & Insights from
    * Training Gopher" App. A MassiveWeb filters; Raffel et al. 2020
    * C4 §2.2) and the composed keep decision: word-count bounds,
    * mean-word-length bounds, symbol-to-word ratio (# and ...),
    * required-stopword presence (>= 2 distinct of the corpus
    * function-word list [[stopList]]), and alphabetic-word fraction.
    *
    * Every ratio rule is INTEGERIZED by cross-multiplication (e.g.
    * `10*n_sym <= n_words` instead of `n_sym/n_words <= 0.1`), so
    * the verdicts reproduce bitwise across engines — no double
    * division anywhere. Scale shape: a pure narrow map over the
    * corpus (zero shuffles, zero state); [[gopherFlags]] is shared
    * verbatim by the streaming ingest gate (s17), so batch curation
    * and the stream door cannot drift.
    */
  def gopherFlags(docs: DataFrame): DataFrame = {
    val stopCases = stopList.map(w =>
      s"CASE WHEN array_contains(ws, '$w') THEN 1 ELSE 0 END").mkString(" + ")
    docs
      .selectExpr("doc_id", "split(lower(trim(text)), ' ') AS ws",
        "CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars_nw",
        "CAST(regexp_count(text, '#') AS BIGINT)" +
          " + (CAST(length(text) AS BIGINT)" +
          " - CAST(length(replace(text, '...', '')) AS BIGINT)) div 3 AS n_sym")
      .selectExpr("doc_id", "CAST(size(ws) AS BIGINT) AS n_words", "n_chars_nw", "n_sym",
        s"CAST($stopCases AS BIGINT) AS n_stop",
        "CAST(size(filter(ws, x -> x rlike '[a-z]')) AS BIGINT) AS n_alpha")
      .selectExpr("doc_id", "n_words", "n_chars_nw", "n_stop",
        s"CAST(CASE WHEN n_words BETWEEN $t21MinWords AND $t21MaxWords THEN 1 ELSE 0 END AS BIGINT) AS f_nwords",
        "CAST(CASE WHEN 3 * n_words <= n_chars_nw AND n_chars_nw <= 10 * n_words THEN 1 ELSE 0 END AS BIGINT) AS f_wordlen",
        "CAST(CASE WHEN 10 * n_sym <= n_words THEN 1 ELSE 0 END AS BIGINT) AS f_symbol",
        "CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS f_stop",
        "CAST(CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END AS BIGINT) AS f_alpha")
      .selectExpr("*",
        "f_nwords * f_wordlen * f_symbol * f_stop * f_alpha AS keep_doc")
  }

  def t21(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    gopherFlags(Tables.documents(spark, dir))
      .transform(Tables.ordered(_, $"doc_id"))
  }

  /** t21's rule CTE chain (w → f → g), shared by the t21 oracle and
    * the s17 streaming-gate oracle (which filters it to kept docs).
    */
  private[graft] val t21Ctes: String = {
    val stopCases = stopList.map(w =>
      s"CASE WHEN list_contains(ws, '$w') THEN 1 ELSE 0 END").mkString(" + ")
    s"""w AS (
      |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws,
      |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars_nw,
      |    CAST(len(regexp_extract_all(text, '#')) AS BIGINT)
      |      + (CAST(length(text) AS BIGINT)
      |         - CAST(length(replace(text, '...', '')) AS BIGINT)) // 3 AS n_sym
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, n_chars_nw, n_sym,
      |    CAST($stopCases AS BIGINT) AS n_stop,
      |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha
      |  FROM w),
      |g AS (
      |  SELECT doc_id, n_words, n_chars_nw, n_stop,
      |    CAST(CASE WHEN n_words BETWEEN $t21MinWords AND $t21MaxWords THEN 1 ELSE 0 END AS BIGINT) AS f_nwords,
      |    CAST(CASE WHEN 3 * n_words <= n_chars_nw AND n_chars_nw <= 10 * n_words THEN 1 ELSE 0 END AS BIGINT) AS f_wordlen,
      |    CAST(CASE WHEN 10 * n_sym <= n_words THEN 1 ELSE 0 END AS BIGINT) AS f_symbol,
      |    CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS f_stop,
      |    CAST(CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END AS BIGINT) AS f_alpha
      |  FROM f),
      |verdicts AS (
      |  SELECT *, f_nwords * f_wordlen * f_symbol * f_stop * f_alpha AS keep_doc
      |  FROM g)""".stripMargin
  }

  /** t21 oracle: the identical integerized rule set in DuckDB —
    * same single-space word split, same cross-multiplied bounds.
    */
  val t21Sql: String =
    s"""WITH $t21Ctes
      |SELECT * FROM verdicts
      |ORDER BY doc_id""".stripMargin

  // ---------- t24: feature-hashing document embeddings ----------

  private val t24Dims = 64

  /** t24: the HASHING TRICK (Weinberger et al. 2009, ICML) — signed
    * feature-hashed bag-of-words vectors, the text→vector bridge: a
    * fixed-size embedding computed with NO vocabulary (no fitting
    * pass, no dictionary to broadcast), which is what makes it usable
    * at open-vocabulary corpus scale where t6-style vocab tables keep
    * growing. Each word lands in dimension fnv64(word) mod
    * [[t24Dims]] with sign = hash bit 6 (the standard signed variant
    * that makes collisions cancel in expectation rather than
    * accumulate); the doc's vector is the per-dimension signed count,
    * emitted LONG-FORM (doc_id, dim, w) — the sparse layout
    * downstream similarity/clustering joins consume directly, and
    * zero-weight dims never exist to ship.
    *
    * Scale shape: one narrow explode+hash map (the codegen'd
    * [[graft.functions.Fnv64]] expression — no UDF), then ONE
    * (doc_id, dim) shuffle with map-side combine; output ≤ 64 rows
    * per doc. No driver state, no second pass.
    */
  def t24(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(split(lower(trim($"text")), " ")).as("word"))
      .filter($"word" =!= "")
      .withColumn("h", graft.functions.Fnv64.fnv64($"word"))
      .selectExpr("doc_id", s"h & ${t24Dims - 1} AS dim",
        "CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END AS sgn")
      .groupBy($"doc_id", $"dim").agg(sum($"sgn").as("w"))
      .filter($"w" =!= 0)
      .transform(graft.Tables.ordered(_, $"doc_id", $"dim"))
  }

  /** t24 oracle: the FNV fold per word in HUGEINT
    * ([[graft.functions.Fnv64.duckUnsigned]]); `% 64` and bit 6 on
    * the unsigned state equal Spark's `& 63` / `>> 6` on the signed
    * view (power-of-two masks see only the low bits).
    */
  val t24Sql: String = {
    val hu = graft.functions.Fnv64.duckUnsigned("word")
    s"""WITH w AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
      |           FROM documents),
      |f AS (SELECT doc_id, word FROM w WHERE word <> ''),
      |h AS (SELECT doc_id, $hu AS hu FROM f),
      |s AS (SELECT doc_id, CAST(hu % $t24Dims AS BIGINT) AS dim,
      |        CASE WHEN (hu // 64) % 2 = 1 THEN 1 ELSE -1 END AS sgn
      |      FROM h)
      |SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS w
      |FROM s GROUP BY doc_id, dim
      |HAVING sum(sgn) <> 0
      |ORDER BY doc_id, dim""".stripMargin
  }

  // ---------- t25: co-occurrence lift ----------

  private val t25Window = 3
  private val t25MinCount = 5L

  /** t25: WINDOWED CO-OCCURRENCE with LIFT scoring (association
    * ratio, Church & Hanks 1990 "Word association norms, mutual
    * information, and lexicography" — lift is their PMI without the
    * log) — the collocation/phrase-mining pass a corpus pipeline
    * runs to find multi-word expressions worth protecting from
    * tokenizer splits and to build distributional features: pairs
    * of words appearing within [[t25Window]] positions far more
    * often than their unigram frequencies predict.
    *
    * Determinism: PMI's log is a transcendental whose cross-engine
    * reproducibility we never rely on (§8 discipline); lift(a,b) =
    * P(a,b)/(P(a)P(b)) = (pair_cnt · N) / (cnt_a · cnt_b) is two
    * EXACT BIGINT products (all counts ≪ 2^26 even at 100 TB per
    * partition-of-interest; document the 2^53 exactness bound) and
    * ONE IEEE division — bitwise identical everywhere. Ranking by
    * lift downstream equals ranking by PMI (log is monotone).
    *
    * Scale shape: pair generation is a PURE NARROW MAP — a nested
    * array transform enumerates the ≤ W·len in-window pairs per doc
    * (canonicalized least/greatest so (a,b) and (b,a) merge), no
    * positional self-join anywhere. Then ONE (w1, w2) aggregate
    * with map-side combine, bounded by min(Σ W·len, vocab²); the
    * ≥ [[t25MinCount]] filter cuts the hapax tail before the two
    * vocab-sized unigram equality joins; N rides a 1-row broadcast
    * (g2's idiom). Token strings shuffle once, at pair grain.
    */
  def t25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Tables.documents(spark, dir)
      .selectExpr("doc_id", "split(lower(trim(text)), ' ') AS words")
    val toks = w.selectExpr("explode(words) AS term")
    val uni = toks.groupBy($"term").agg(count(lit(1)).as("cnt"))
    // N = Σ unigram counts — derived from the vocab-sized count
    // table, NOT a third corpus scan
    val ntot = uni.agg(sum($"cnt").as("n_tokens"))
    val pairs = w.filter(size($"words") >= 2)
      .selectExpr(
        s"""explode(flatten(transform(sequence(0, size(words) - 2), i ->
           |  transform(sequence(i + 1, least(i + $t25Window, size(words) - 1)), j ->
           |    struct(least(element_at(words, i + 1), element_at(words, j + 1)) AS w1,
           |           greatest(element_at(words, i + 1), element_at(words, j + 1)) AS w2)))))
           |  AS pr""".stripMargin)
      .selectExpr("pr.w1 AS w1", "pr.w2 AS w2")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("pair_cnt"))
      .filter($"pair_cnt" >= t25MinCount)
    pairs
      .join(uni.withColumnRenamed("term", "w1").withColumnRenamed("cnt", "cnt_a"), Seq("w1"))
      .join(uni.withColumnRenamed("term", "w2").withColumnRenamed("cnt", "cnt_b"), Seq("w2"))
      .crossJoin(broadcast(ntot))
      .selectExpr("w1", "w2", "pair_cnt", "cnt_a", "cnt_b",
        "CAST(pair_cnt * n_tokens AS DOUBLE) / CAST(cnt_a * cnt_b AS DOUBLE) AS lift")
      .transform(graft.Tables.ordered(_, $"w1", $"w2"))
  }

  /** t25 oracle: the identical nested list comprehension (DuckDB
    * 1-based list indexing; range(a, b) is [a, b) like Spark's
    * sequence endpoints shifted), identical canonical pair grain and
    * single-division lift.
    */
  val t25Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS words
      |           FROM documents),
      |toks AS (SELECT unnest(words) AS term FROM w),
      |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY term),
      |nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens FROM uni),
      |pr AS (SELECT unnest(flatten(list_transform(range(0, len(words) - 1), i ->
      |         list_transform(range(i + 1, least(i + $t25Window, len(words) - 1) + 1), j ->
      |           [least(words[i + 1], words[j + 1]),
      |            greatest(words[i + 1], words[j + 1])])))) AS p
      |       FROM w WHERE len(words) >= 2),
      |pairs AS (SELECT p[1] AS w1, p[2] AS w2, CAST(count(*) AS BIGINT) AS pair_cnt
      |          FROM pr GROUP BY 1, 2 HAVING count(*) >= $t25MinCount)
      |SELECT p.w1, p.w2, p.pair_cnt, a.cnt AS cnt_a, b.cnt AS cnt_b,
      |       CAST(p.pair_cnt * nt.n_tokens AS DOUBLE)
      |         / CAST(a.cnt * b.cnt AS DOUBLE) AS lift
      |FROM pairs p
      |JOIN uni a ON a.term = p.w1
      |JOIN uni b ON b.term = p.w2
      |CROSS JOIN nt
      |ORDER BY w1, w2""".stripMargin

  // ---------- t26: readability scoring (Flesch / Flesch-Kincaid) ----------

  /** t26: READABILITY scoring — Flesch reading ease (Flesch 1948)
    * and Flesch–Kincaid grade level (Kincaid et al. 1975), the
    * classic text-difficulty features educational-quality filters
    * compute per document (alongside t2's ratios and t21's Gopher
    * gates; FineWeb-Edu-style classifiers consume exactly such
    * signals). Counts are deterministic integer surrogates of the
    * linguistic quantities: words = whitespace tokens (the corpus
    * convention), sentences = terminal-mark RUNS (`[.!?]+` — "!!!"
    * ends one sentence), syllables = vowel GROUPS (`[aeiouy]+`, the
    * standard dictionary-free heuristic). The scores are then fixed
    * formulas over three exact BIGINTs: each is a composition of
    * single IEEE ops (two divisions, two multiplies, two subtracts)
    * in identical textual order in both engines — bitwise without
    * quantization because no transcendental and no float AGGREGATE
    * is involved (§8.4's boundary: order-free scalar math is safe;
    * only accumulation and libm vary).
    *
    * Scale: a pure narrow map — one scan, zero shuffles beyond the
    * presentation sort (the t2/t21 class); regex counting stays in
    * codegen.
    */
  def t26(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .selectExpr("doc_id",
        "CAST(size(split(lower(trim(text)), ' ')) AS BIGINT) AS n_words",
        "CAST(greatest(regexp_count(text, '[.!?]+'), 1) AS BIGINT) AS n_sentences",
        "CAST(regexp_count(lower(text), '[aeiouy]+') AS BIGINT) AS n_syllables")
      .selectExpr("doc_id", "n_words", "n_sentences", "n_syllables",
        "206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) " +
          "- 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch_ease",
        "0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) " +
          "+ 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) - 15.59 AS fk_grade")
      .transform(graft.Tables.ordered(_, $"doc_id"))
  }

  // ---------- t28: language-ID confusion matrix ----------

  /** The t28 evaluation corpus: docs with doc_id % 3 = 0 get their
    * LABELED language's five marker words appended three times (the
    * seeded-fixture discipline — the synthetic corpus's 31-word
    * vocabulary carries only English markers, so every raw doc
    * scores 'en'; the seeded slice gives the matrix its diagonal
    * while the raw remainder shows the honest collapse).
    */
  private val t28SeedExpr: String = {
    val perLang = markers.map { case (l, set) =>
      s"WHEN lang = '$l' THEN ' ' || '${(set ++ set ++ set).mkString(" ")}'"
    }.mkString(" ")
    s"CASE WHEN doc_id % 3 = 0 THEN text || (CASE $perLang END) ELSE text END"
  }

  /** t28: LANG-ID CONFUSION MATRIX — the classifier-eval audit over
    * t3's marker-based language ID against the labeled `lang`
    * column (the v11-recall pattern applied to the text family: t3
    * emits per-doc predictions, t28 grades the MODEL): per
    * (true, predicted) cell, document count and row share in
    * permille — the matrix a curation pipeline reads before
    * trusting a lang filter's routing (off-diagonal mass = wrongly
    * binned training data). Run over [[t28SeedExpr]]'s corpus, the
    * matrix shows BOTH behaviors: the seeded third routes to its
    * true language (diagonal), the raw synthetic remainder
    * collapses to 'en' — exposing a real classifier failure mode is
    * the audit's purpose (t27's detection argument). Counts exact;
    * share is a non-negative integral division (§8.39's bound).
    *
    * Scale shape: t3's narrow scoring map ([[t3Scored]] shared
    * verbatim) + ONE (lang, predicted) map-side-combined aggregate
    * (≤ |langs|² rows) + a lang-grain totals join — evaluation is
    * one corpus pass at any size.
    */
  def t28(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seeded = Tables.documents(spark, dir)
      .selectExpr("doc_id", "lang", s"$t28SeedExpr AS text")
    val cells = t3Scored(seeded)
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n_docs"))
    cells
      .join(cells.groupBy($"lang").agg(sum($"n_docs").as("class_total")), Seq("lang"))
      .selectExpr("lang", "predicted", "n_docs", "class_total",
        "(n_docs * 1000) div class_total AS share_permille")
      .transform(graft.Tables.ordered(_, $"lang", $"predicted"))
  }

  /** t28 oracle: the identical seeded corpus + t3's scoring chain +
    * identical aggregates.
    */
  val t28Sql: String = {
    val scores = markers.map { case (l, set) =>
      s"${scoreSqlExpr("words", set)} AS s_$l"
    }.mkString(",\n    ")
    s"""WITH seeded AS (SELECT doc_id, lang, $t28SeedExpr AS text FROM documents),
      |w AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS words FROM seeded),
      |s AS (SELECT doc_id, lang,
      |    $scores
      |  FROM w),
      |p AS (SELECT lang, ($predExpr) AS predicted FROM s),
      |cells AS (SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n_docs
      |          FROM p GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS class_total
      |        FROM cells GROUP BY 1)
      |SELECT c.lang, c.predicted, c.n_docs, t.class_total,
      |  (c.n_docs * 1000) // t.class_total AS share_permille
      |FROM cells c JOIN tot t ON t.lang = c.lang
      |ORDER BY c.lang, c.predicted""".stripMargin
  }

  // ---------- t27: Zipf rank-frequency audit ----------

  /** Fit region: the top-K terms by count. Capping K (not the full
    * vocabulary) is what keeps the regression sums BIGINT-exact at
    * ANY vocab size — and it is also the statistically right call
    * (Zipf's law holds in the head; the long tail is noise).
    */
  private val t27K = 1000L

  /** t27: ZIPF RANK-FREQUENCY AUDIT — the corpus-health check that a
    * token distribution looks like natural language (Zipf 1949:
    * log-count vs log-rank is a line of slope ≈ −1; template-heavy,
    * machine-generated or over-deduplicated corpora bend it —
    * corpus curation reads this once per snapshot next to t2/t21's
    * per-doc gates). Least-squares slope over (x, y) =
    * (quantized-ln rank, quantized-ln count) for the top-[[t27K]]
    * terms: both lns quantize at 1e-3 (coarse on purpose — it
    * bounds every regression sum: |Σxy| ≤ K·(14·10³)² ≈ 2·10¹¹ ≪
    * 2⁶³), the four sums are exact BIGINTs, and slope =
    * (K·Σxy − Σx·Σy) / (K·Σx² − (Σx)²) is ONE IEEE division of two
    * exact BIGINTs (the g11 discipline — integral `div` is out
    * because Spark truncates toward zero while DuckDB floors, and
    * the slope is NEGATIVE).
    *
    * Scale shape: one token explode + one term aggregate (the
    * vocab table — distributed); the rank is the one vocab-grain
    * window (metadata-sized, the q33 presentation-grain class,
    * WindowGroupLimit-bounded by the K filter); the fit is a 1-row
    * aggregate; corpus totals ride a 1-row broadcast.
    */
  def t27(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val uni = Tables.documents(spark, dir)
      .selectExpr("explode(split(lower(trim(text)), ' ')) AS term")
      .groupBy($"term").agg(count(lit(1)).as("cnt"))
      .cache()
    val tot = uni.agg(count(lit(1)).as("vocab"), sum($"cnt").as("n_tokens"))
    val ranked = uni
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"cnt".desc, $"term")))
      .filter($"rnk" <= t27K)
      .selectExpr(
        "CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS x",
        "CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS y")
    ranked
      .agg(count(lit(1)).as("n_terms"),
        sum($"x").as("sum_x"), sum($"y").as("sum_y"),
        sum($"x" * $"y").as("sum_xy"), sum($"x" * $"x").as("sum_x2"))
      .crossJoin(broadcast(tot))
      .selectExpr("n_terms", "vocab", "n_tokens",
        "sum_x", "sum_y", "sum_xy", "sum_x2",
        "CAST(n_terms * sum_xy - sum_x * sum_y AS DOUBLE) " +
          "/ CAST(n_terms * sum_x2 - sum_x * sum_x AS DOUBLE) AS zipf_slope")
  }

  /** t27 oracle: identical rank window, 1e-3 ln quantization, exact
    * sums, one division.
    */
  val t27Sql: String =
    s"""WITH toks AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS term
      |              FROM documents),
      |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY term),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS vocab,
      |          CAST(sum(cnt) AS BIGINT) AS n_tokens FROM uni),
      |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rnk FROM uni),
      |xy AS (SELECT
      |         CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS x,
      |         CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e3 + 0.5) AS BIGINT) AS y
      |       FROM r WHERE rnk <= $t27K),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
      |        CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
      |        CAST(sum(x * y) AS BIGINT) AS sum_xy,
      |        CAST(sum(x * x) AS BIGINT) AS sum_x2
      |      FROM xy)
      |SELECT n_terms, vocab, n_tokens, sum_x, sum_y, sum_xy, sum_x2,
      |  CAST(n_terms * sum_xy - sum_x * sum_y AS DOUBLE)
      |    / CAST(n_terms * sum_x2 - sum_x * sum_x AS DOUBLE) AS zipf_slope
      |FROM s, tot""".stripMargin

  /** t26 oracle: identical counts (len(regexp_extract_all) ≡
    * regexp_count) and textually identical formula order.
    */
  val t26Sql: String =
    """WITH c AS (SELECT doc_id,
      |  CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS n_words,
      |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
      |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
      |FROM documents)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
      |    - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch_ease,
      |  0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
      |    + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) - 15.59 AS fk_grade
      |FROM c
      |ORDER BY doc_id""".stripMargin

  // ---------- t29: trained char-trigram language ID ----------

  /** Train-split seed words per language (high-frequency function
    * words — public linguistic knowledge) and a DISJOINT test-split
    * set: no test word appears in training, so marker lookup (t3's
    * mechanism) scores zero on the test slice and only
    * orthography-level trigram statistics can route it.
    *
    * The train sets are LENGTH-BALANCED — Σ len(w) = 21 per
    * language, so every profile has exactly 21·[[t29Reps]] trigram
    * tokens and the add-one floor ln(1/(tot+V)) for unknown trigrams is
    * CLASS-INVARIANT: the huge unknown mass of a document's base
    * text cancels in the argmax and only positively-matched
    * trigrams differentiate (unbalanced profiles instead route
    * every unknown-heavy doc to the smallest class — measured).
    */
  private[graft] val t29TrainWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "that", "with", "have", "should"),
    "de" -> Seq("der", "und", "nicht", "sich", "machen"),
    "es" -> Seq("que", "para", "como", "esta", "cuando"),
    "fr" -> Seq("les", "pour", "dans", "vous", "depuis"),
    "zh" -> Seq("shi", "zai", "zhong", "xiang", "sheng"),
  )
  private[graft] val t29TestWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("they", "there", "which", "other", "these"),
    "de" -> Seq("durch", "wird", "nach", "schon", "sicht"),
    "es" -> Seq("pero", "quiso", "comida", "parque", "estaba"),
    "fr" -> Seq("nous", "tout", "leurs", "sans", "pouvoir"),
    "zh" -> Seq("shuo", "zhei", "guan", "zhan", "shan"),
  )

  /** The t29 scoring corpus: the train third (doc_id % 3 = 1)
    * carries its label's TRAIN words ×3, the eval third
    * (doc_id % 3 = 0) its label's disjoint TEST words ×3, the last
    * third stays raw.
    */
  /** Seed repetitions: ×10 (not t28's ×3) so the labeled material's
    * trigram mass dominates the base text's accidental orthography
    * (the synthetic vocabulary's -er agent nouns — order / filter /
    * customer — hit the German der/er_ trigrams, and "query" hits
    * the Spanish que; at ×3 that cross-talk outvoted the seeds —
    * measured).
    */
  private[graft] val t29Reps = 10

  private[graft] val t29CorpusExpr: String = {
    def arm(words: Seq[(String, Seq[String])], residue: Int): String = {
      val perLang = words.map { case (l, set) =>
        s"WHEN lang = '$l' THEN ' ' || '${Seq.fill(t29Reps)(set).flatten.mkString(" ")}'"
      }.mkString(" ")
      s"WHEN doc_id % 3 = $residue THEN text || (CASE $perLang END)"
    }
    s"CASE ${arm(t29TrainWords, 1)} ${arm(t29TestWords, 0)} ELSE text END"
  }

  /** The TRAINING text per train-third doc: the labeled seed
    * material ALONE. Training on the full seeded text instead pulls
    * in the synthetic base vocabulary — identical across labels —
    * and NB's smoothing then turns unequal class corpus sizes into
    * a systematic small-class bias (measured: every eval-third 'en'
    * doc routed 'de'); the seed-only profile is the clean labeled
    * supervision the fixture provides.
    */
  private[graft] val t29TrainSeedExpr: String = {
    val perLang = t29TrainWords.map { case (l, set) =>
      s"WHEN lang = '$l' THEN '${Seq.fill(t29Reps)(set).flatten.mkString(" ")}'"
    }.mkString(" ")
    s"CASE $perLang END"
  }

  /** t29: TRAINED LANGUAGE ID — char-trigram Naive Bayes (the
    * Cavnar–Trenkle 1994 n-gram family; t11's add-one idiom at
    * character grain), the REAL classifier the round-9 verdict asked
    * for in place of t3's marker-profile toy, graded by t28's
    * confusion-matrix shape. Profiles train on the TRAIN third's
    * labeled seed material ([[t29TrainSeedExpr]] — see its note on
    * why the shared base vocabulary must stay out of training): per
    * (lang, trigram) counts over '_'-padded word trigrams, add-one
    * smoothed against the language's token total + the train
    * vocabulary size. Every document then scores
    * s_l = Σ_g c(doc, g) · ⌊ln((cnt_l(g)+1)/(tot_l+V))·10⁹⌋ — exact
    * BIGINT sums of 1e9-quantized log-likelihoods (§8.4; overflow
    * bound: |lp9| ≤ 2·10¹⁰, c ≤ 10³ per trigram, ≤ 10³ distinct
    * trigrams per doc ⇒ |s_l| ≤ 2·10¹⁶ ≪ 2⁶³) — and predicts by
    * t3's shared argmax ladder.
    *
    * What the matrix proves (vs t28): the EVAL third carries words
    * the classifier NEVER SAW — marker lookup scores them zero —
    * yet they route to their true language through shared
    * orthography (der/durch, que/quiso, zhong/zhan…), so BOTH
    * seeded thirds sit on the diagonal (~2/3 of every non-en class,
    * vs t28's 1/3) while the raw third still honestly collapses to
    * the corpus's actual language. Spec asserts diagonal dominance
    * on the eval third specifically.
    *
    * Scale shape: training is one (lang, trigram) map-side-combined
    * aggregate (≤ langs × vocab rows); the profile pivots to ONE
    * broadcast table and totals/vocab to a 1-row broadcast; scoring
    * is a narrow explode + per-doc-trigram count + broadcast join +
    * one doc-grain aggregate; the matrix is ≤ |langs|² rows. No
    * shuffle ever carries text beyond the trigram tokens.
    */
  def t29(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def trigrams(df: DataFrame): DataFrame = df
      .selectExpr("doc_id", "lang",
        "explode(split(lower(trim(text)), ' ')) AS w")
      .filter(length($"w") > 0)
      .selectExpr("doc_id", "lang", "concat('_', w, '_') AS p")
      .selectExpr("doc_id", "lang",
        "explode(transform(sequence(1, length(p) - 2), i -> substring(p, i, 3))) AS g")
    val tri = trigrams(Tables.documents(spark, dir)
      .selectExpr("doc_id", "lang", s"$t29CorpusExpr AS text"))
    // the train third's supervision is one identical seed per class,
    // so profiles aggregate the DISTINCT supervision — training on
    // every copy would scale each class's totals by its doc count
    // and leak class priors into the per-trigram likelihoods (the
    // textbook NB balance correction; unbalanced totals routed every
    // unknown-heavy doc to the smallest class — measured)
    val train = trigrams(Tables.documents(spark, dir)
      .filter($"doc_id" % 3 === 1)
      .select($"lang").distinct()
      .selectExpr("CAST(0 AS BIGINT) AS doc_id", "lang",
        s"$t29TrainSeedExpr AS text"))
    val langs = markers.map(_._1)
    val profCols = langs.map(l =>
      sum(when($"lang" === l, 1L).otherwise(0L)).as(s"n_$l"))
    val prof = train.groupBy($"g").agg(profCols.head, profCols.tail: _*)
    val totCols = langs.map(l =>
      sum(when($"lang" === l, 1L).otherwise(0L)).as(s"tot_$l")) :+
      countDistinct($"g").cast("double").as("v")
    val totv = train.agg(totCols.head, totCols.tail: _*)
    val scoreCols = langs.map(l =>
      sum($"c" * floor(log((coalesce(col(s"n_$l"), lit(0L)) + lit(1)) /
        (col(s"tot_$l") + $"v")) * 1e9 + lit(0.5)).cast("long")).as(s"s_$l"))
    val scored = tri
      .groupBy($"doc_id", $"lang", $"g").agg(count(lit(1)).as("c"))
      .join(broadcast(prof), Seq("g"), "left")
      .crossJoin(broadcast(totv))
      .groupBy($"doc_id", $"lang")
      .agg(scoreCols.head, scoreCols.tail: _*)
    val cells = scored
      .selectExpr("doc_id", "lang", s"($predExpr) AS predicted")
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n_docs"))
    cells
      .join(cells.groupBy($"lang").agg(sum($"n_docs").as("class_total")), Seq("lang"))
      .selectExpr("lang", "predicted", "n_docs", "class_total",
        "(n_docs * 1000) div class_total AS share_permille")
      .transform(graft.Tables.ordered(_, $"lang", $"predicted"))
  }

  /** t29 oracle: identical seeded corpus, padded-trigram explode,
    * pivoted add-one profile, quantized log-likelihood sums, shared
    * argmax ladder and matrix aggregates.
    */
  val t29Sql: String = {
    val langs = markers.map(_._1)
    val profCols = langs.map(l =>
      s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS n_$l").mkString(", ")
    val totCols = langs.map(l =>
      s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS tot_$l").mkString(", ")
    val scoreCols = langs.map(l =>
      s"CAST(sum(c * CAST(floor(ln((coalesce(n_$l, 0) + 1) / (tot_$l + v)) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS s_$l").mkString(",\n    ")
    s"""WITH corpus AS (SELECT doc_id, lang, $t29CorpusExpr AS text FROM documents),
      |wds AS (SELECT doc_id, lang, unnest(string_split(lower(trim(text)), ' ')) AS w FROM corpus),
      |pd AS (SELECT doc_id, lang, '_' || w || '_' AS p FROM wds WHERE length(w) > 0),
      |tri AS (SELECT doc_id, lang,
      |          unnest(list_transform(range(1, length(p) - 1), i -> substr(p, CAST(i AS INTEGER), 3))) AS g
      |        FROM pd),
      |trainc AS (SELECT CAST(0 AS BIGINT) AS doc_id, lang, $t29TrainSeedExpr AS text
      |           FROM (SELECT DISTINCT lang FROM documents WHERE doc_id % 3 = 1) tl),
      |tww AS (SELECT doc_id, lang, unnest(string_split(lower(trim(text)), ' ')) AS w FROM trainc),
      |tpd AS (SELECT doc_id, lang, '_' || w || '_' AS p FROM tww WHERE length(w) > 0),
      |train AS (SELECT doc_id, lang,
      |            unnest(list_transform(range(1, length(p) - 1), i -> substr(p, CAST(i AS INTEGER), 3))) AS g
      |          FROM tpd),
      |prof AS (SELECT g, $profCols FROM train GROUP BY g),
      |totv AS (SELECT $totCols, CAST(count(DISTINCT g) AS DOUBLE) AS v FROM train),
      |dt AS (SELECT doc_id, lang, g, CAST(count(*) AS BIGINT) AS c
      |       FROM tri GROUP BY doc_id, lang, g),
      |sc AS (SELECT doc_id, lang,
      |    $scoreCols
      |  FROM dt LEFT JOIN prof USING (g), totv
      |  GROUP BY doc_id, lang),
      |p AS (SELECT lang, ($predExpr) AS predicted FROM sc),
      |cells AS (SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n_docs
      |          FROM p GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS class_total
      |        FROM cells GROUP BY 1)
      |SELECT c.lang, c.predicted, c.n_docs, t.class_total,
      |  (c.n_docs * 1000) // t.class_total AS share_permille
      |FROM cells c JOIN tot t ON t.lang = c.lang
      |ORDER BY c.lang, c.predicted""".stripMargin
  }

  // ---------- t30: perplexity binning (CCNet head/middle/tail) ----------

  /** t30: PERPLEXITY BINNING — the CCNet data-selection recipe
    * (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data"): score every document with the
    * corpus LM and split the corpus into head / middle / tail
    * perplexity thirds — the quality tiers LLM pretraining mixes at
    * different rates. The LM is t11's add-one bigram chain SHARED
    * VERBATIM ([[t11Lp9]]); per doc the exact mean negative
    * log-likelihood in nano-units, nll9 = (−Σ lp9) div n — both
    * operands non-negative (log-probs ≤ 0), so integral div is
    * floor in both engines (§8.39) — and the tier from e15's
    * sketch-threshold machinery: 256-cell nll9 histogram (width =
    * max div 256 + 1), 333/667-permille threshold buckets off the
    * cumulative sums, tier = 1 + #thresholds strictly below the
    * doc's bucket (head = most fluent = lowest nll). No
    * user-grain window anywhere — the e15 conversion's discipline
    * from day one; the only window rides the ≤256-row histogram
    * (HistQ.locate's documented metadata-grain class).
    *
    * Scale shape: t11's distributed count-table joins (the LM is a
    * table, never a broadcast) + ONE doc-grain aggregate; the
    * histogram is a ≤256-row id-free aggregate; width and the two
    * thresholds ride 1-row broadcasts; labels attach in a final
    * narrow map.
    */
  def t30(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nll = t11Lp9(spark, dir)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"lp9").as("s"))
      .selectExpr("doc_id", "n_bigrams", "(-s) div n_bigrams AS nll9")
      .cache()
    val wdf = nll.agg(max($"nll9").as("mx"))
      .selectExpr("(greatest(CAST(0 AS BIGINT), mx) div 256) + 1 AS w")
    val bk = nll.crossJoin(broadcast(wdf))
      .selectExpr("doc_id", "n_bigrams", "nll9",
        "least(CAST(255 AS BIGINT), nll9 div w) AS bkt")
    val hist = bk.groupBy($"bkt").agg(count(lit(1)).as("cnt"))
    val wb = org.apache.spark.sql.expressions.Window.orderBy($"bkt") // ≤256 rows: metadata grain
    val cum = hist
      .withColumn("cum", sum($"cnt").over(wb.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("tot", sum($"cnt").over(wb.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)))
    val th = cum
      .crossJoin(broadcast(
        spark.createDataFrame(Seq(333, 667).map(Tuple1(_))).toDF("q")))
      .filter($"cum" * 1000 >= $"q" * $"tot")
      .groupBy($"q").agg(min($"bkt").as("tb"))
      .groupBy().agg(
        max(when($"q" === 333, $"tb")).as("t1"),
        max(when($"q" === 667, $"tb")).as("t2"))
    bk.crossJoin(broadcast(th))
      .selectExpr("doc_id", "n_bigrams", "nll9",
        "CASE 1 + CAST(bkt > t1 AS INT) + CAST(bkt > t2 AS INT) " +
          "WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier")
      .transform(graft.Tables.ordered(_, $"doc_id"))
  }

  /** t30 oracle: t11's shared lp chain, identical exact nll, widths,
    * permille thresholds and tier ladder (`nl`/`bk` MATERIALIZED —
    * multi-consumer, §8.38).
    */
  val t30Sql: String =
    s"""WITH $t11LpCtes,
      |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |        CAST(sum(lp9) AS BIGINT) AS s FROM lp GROUP BY 1),
      |nl AS MATERIALIZED (SELECT doc_id, n_bigrams, (-s) // n_bigrams AS nll9 FROM d),
      |wd AS (SELECT (greatest(CAST(0 AS BIGINT), max(nll9)) // 256) + 1 AS w FROM nl),
      |bk AS MATERIALIZED (SELECT doc_id, n_bigrams, nll9,
      |        least(CAST(255 AS BIGINT), nll9 // w) AS bkt FROM nl, wd),
      |h AS (SELECT bkt, CAST(count(*) AS BIGINT) AS cnt FROM bk GROUP BY 1),
      |c AS (SELECT bkt, cnt,
      |        CAST(sum(cnt) OVER (ORDER BY bkt) AS BIGINT) AS cum,
      |        CAST(sum(cnt) OVER () AS BIGINT) AS tot
      |      FROM h),
      |qs AS (SELECT * FROM (VALUES (333), (667)) AS t(q)),
      |loc AS (SELECT q, min(bkt) AS tb
      |        FROM c CROSS JOIN qs WHERE cum * 1000 >= q * tot GROUP BY q),
      |th AS (SELECT max(CASE WHEN q = 333 THEN tb END) AS t1,
      |         max(CASE WHEN q = 667 THEN tb END) AS t2 FROM loc)
      |SELECT doc_id, n_bigrams, nll9,
      |  CASE 1 + CAST(bkt > t1 AS INT) + CAST(bkt > t2 AS INT)
      |       WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier
      |FROM bk, th
      |ORDER BY doc_id""".stripMargin

  // ---------- t31: Unicode NFC canonicalization audit ----------

  /** t31: NFC CANONICALIZATION (UAX #15; round 10) — the
    * normalization pass a corpus pipeline runs BEFORE every
    * hash-keyed stage (d1's digest, d2's shingles, t4's
    * fingerprint), because the composed ("é" U+00E9) and decomposed
    * ("e"+U+0301 combining acute) spellings of the same text are
    * different byte sequences that hash apart and silently survive
    * exact dedup. The synthetic corpus is ASCII (already NFC), so
    * the fixture DERIVES both real spellings per doc in-query — the
    * t28 seeded-fixture discipline: `dirty` spells every 'e' with
    * the combining mark, `composed` spells it precomposed — and the
    * audit proves [[graft.functions.NfcNormalize]] (a native
    * codegen'd Catalyst expression; Spark has no built-in
    * normalizer) collapses dirty onto composed byte-for-byte:
    * `collapses` = 1 on every doc, `n_composed` counts the
    * compositions (= the doc's 'e' count), the length columns pin
    * the codepoint arithmetic. Canonical composition is fully
    * specified by Unicode and stable across versions, so the JDK
    * normalizer and DuckDB's utf8proc `nfc_normalize` agree
    * bitwise — the cross-engine oracle IS the conformance check.
    *
    * Scale shape: one narrow row-local projection inside
    * whole-stage codegen (the expression fast-paths
    * already-normalized strings with a scan-only check and zero
    * copies) — zero data exchanges; the only shuffle is the
    * presentation sort. At 100 TB this runs at scan speed alongside
    * the digest it feeds.
    */
  def t31(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Spark's chr() keeps byte semantics (n % 256), so the marks are
    // source unicode escapes: dirty = decomposed e+U+0301, composed =
    // precomposed U+00E9
    Tables.documents(spark, dir)
      .selectExpr("doc_id",
        "regexp_replace(text, 'e', 'e\u0301') AS dirty",
        "regexp_replace(text, 'e', '\u00e9') AS composed")
      .withColumn("norm", graft.functions.NfcNormalize.nfc($"dirty"))
      .selectExpr("doc_id",
        "CAST(length(dirty) AS BIGINT) AS len_decomposed",
        "CAST(length(norm) AS BIGINT) AS len_nfc",
        "CAST(length(dirty) - length(norm) AS BIGINT) AS n_composed",
        "CAST(CASE WHEN norm = composed THEN 1 ELSE 0 END AS BIGINT) AS collapses")
      .transform(graft.Tables.ordered(_, $"doc_id"))
  }

  /** t31 oracle: the same derived spellings, DuckDB's utf8proc
    * `nfc_normalize`, the same codepoint-length algebra.
    */
  val t31Sql: String =
    """WITH v AS (SELECT doc_id,
      |        regexp_replace(text, 'e', 'e' || chr(769), 'g') AS dirty,
      |        regexp_replace(text, 'e', chr(233), 'g') AS composed
      |      FROM documents),
      |n AS (SELECT doc_id, dirty, composed, nfc_normalize(dirty) AS norm FROM v)
      |SELECT doc_id,
      |  CAST(length(dirty) AS BIGINT) AS len_decomposed,
      |  CAST(length(norm) AS BIGINT) AS len_nfc,
      |  CAST(length(dirty) - length(norm) AS BIGINT) AS n_composed,
      |  CAST(CASE WHEN norm = composed THEN 1 ELSE 0 END AS BIGINT) AS collapses
      |FROM n
      |ORDER BY doc_id""".stripMargin

  // ---------- t32: code-vs-prose routing ----------

  /** t32 fixture: the corpus is pure prose (space-separated words —
    * zero code symbols), so the t28 seeded-fixture discipline
    * applies: docs with doc_id % 7 = 3 get a deterministic code
    * block appended, parameterized by doc_id so the blocks are not
    * byte-identical across docs.
    */
  private val t32Seed =
    "CASE WHEN doc_id % 7 = 3 THEN text || ' def f(x) { return x + '" +
      " || CAST(doc_id % 10 AS STRING) || '; } val y = f(2); if (y > 0) { y = y * 2; }'" +
      " ELSE text END"

  /** Symbol-density routing threshold (permille of characters) and
    * the keyword floor — prose measures 0 on both, the seeded code
    * block ~45‰ and 4 keywords, so the gate swings decisively.
    */
  private val t32SymPermille = 20L
  private val t32KwFloor = 2L

  /** t32: CODE-vs-PROSE ROUTING — the mixture-separation gate every
    * pretraining pipeline runs before sampling (code and prose are
    * weighted differently in the data mixture, and code leaking
    * into the prose pot skews dedup/quality stats; the
    * StarCoder/StackOverflow-class ingest split, done with the
    * classic symbol-density heuristic rather than a learned
    * model): per doc, exact counts of code SYMBOLS
    * ({};()=+*<>) and code KEYWORDS (def/return/val/if as words),
    * symbol density in permille (§8.39-safe), and the route
    * verdict = density ≥ [[t32SymPermille]] AND keywords ≥
    * [[t32KwFloor]] — the two-feature AND keeps symbol-heavy
    * math prose and keyword-mentioning prose out (both features
    * alone miss differently). On the seeded corpus the gate routes
    * exactly the doc_id % 7 = 3 slice to 'code' — spec-pinned
    * two-way swing.
    *
    * Scale shape: one narrow row-local projection (regex counts +
    * integer algebra) — zero data exchanges, scan speed; the t21
    * quality-gate economics.
    */
  /** t32's seed + features + gate over a (doc_id, text) frame —
    * shared verbatim with the streaming ingest door (s31).
    */
  private[graft] def t32Route(df: DataFrame): DataFrame =
    df.selectExpr("doc_id", s"$t32Seed AS s")
      .selectExpr("doc_id",
        "CAST(length(s) AS BIGINT) AS n_chars",
        """CAST(regexp_count(s, '[{};()=+*<>]') AS BIGINT) AS n_sym""",
        """CAST(regexp_count(s, '\\b(def|return|val|if)\\b') AS BIGINT) AS n_kw""")
      .selectExpr("doc_id", "n_chars", "n_sym", "n_kw",
        "(n_sym * 1000) div n_chars AS sym_permille",
        s"""CASE WHEN (n_sym * 1000) div n_chars >= $t32SymPermille
           | AND n_kw >= $t32KwFloor THEN 'code' ELSE 'prose' END AS route""".stripMargin)

  def t32(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t32Route(Tables.documents(spark, dir))
      .transform(graft.Tables.ordered(_, $"doc_id"))
  }

  /** t32 oracle: identical seed expression, len(regexp_extract_all)
    * counts and the same two-feature gate.
    */
  val t32Sql: String = {
    val seed = t32Seed.replace("AS STRING", "AS VARCHAR")
    s"""WITH v AS (SELECT doc_id, $seed AS s FROM documents),
      |c AS (SELECT doc_id, CAST(length(s) AS BIGINT) AS n_chars,
      |        CAST(len(regexp_extract_all(s, '[{};()=+*<>]')) AS BIGINT) AS n_sym,
      |        CAST(len(regexp_extract_all(s, '\\b(def|return|val|if)\\b')) AS BIGINT) AS n_kw
      |      FROM v)
      |SELECT doc_id, n_chars, n_sym, n_kw,
      |  (n_sym * 1000) // n_chars AS sym_permille,
      |  CASE WHEN (n_sym * 1000) // n_chars >= $t32SymPermille
      |       AND n_kw >= $t32KwFloor THEN 'code' ELSE 'prose' END AS route
      |FROM c
      |ORDER BY doc_id""".stripMargin
  }

  // ---------- t33: RAKE keyword extraction ----------

  private val t33TopK = 50
  private val t33MaxWords = 4 // standard RAKE candidate cap

  /** t33: RAKE KEYWORD EXTRACTION (Rose, Engel, Cramer & Cowley
    * 2010, "Automatic Keyword Extraction from Individual
    * Documents") — the unsupervised keyphrase miner a corpus
    * pipeline runs for topical indexing/tagging: candidate phrases
    * are the maximal stopword-free word runs (segmentation by the
    * gaps-and-islands trick — phrase id = running stopword count,
    * the q24 idiom on the WORD grain), each word scores
    * deg/freq where freq counts its phrase occurrences and deg
    * sums the lengths of the phrases it appears in (rake-nltk's
    * self-inclusive degree), and a phrase scores the sum of its
    * words' scores — multi-word collocations outrank frequent
    * single words, RAKE's whole point; candidates cap at
    * [[t33MaxWords]] words (the standard RAKE max_words — without
    * it this sparse-stopword corpus promotes document-length
    * run-ons, measured). Exact integers:
    * deg/freq are BIGINT corpus stats; the per-word ratio is a
    * non-negative integral milli division (§8.39, truncation
    * documented); phrase score sums those. Top [[t33TopK]] under
    * the (score DESC, phrase ASC) total order.
    *
    * Scale shape: one doc-key exchange for segmentation windows,
    * a VOCAB-grain word-stat aggregate (Heaps-bounded — the t6/t17
    * class), phrase assembly from per-(doc, phrase) bounded
    * groups, and a bounded top-k — never a corpus-wide sort.
    */
  def t33(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val byDocPos = w.partitionBy($"doc_id").orderBy($"pos")
    val words = Tables.documents(spark, dir)
      .selectExpr("doc_id",
        "posexplode(split(lower(trim(text)), ' ')) AS (pos, word)")
      .withColumn("is_stop",
        $"word".isInCollection(stopList).cast("long"))
      .withColumn("phrase_id", sum($"is_stop").over(byDocPos))
      .filter($"is_stop" === 0L && length($"word") > 0)
      .select($"doc_id", $"phrase_id", $"pos", $"word")
      .localCheckpoint()
    val phraseLen = words.groupBy($"doc_id", $"phrase_id")
      .agg(count(lit(1)).as("plen"))
      .filter($"plen" <= t33MaxWords) // drop run-on candidates (RAKE max_words)
    val occ = words.join(phraseLen, Seq("doc_id", "phrase_id"))
    val wordStats = occ.groupBy($"word")
      .agg(count(lit(1)).as("freq"), sum($"plen").as("deg"))
      .selectExpr("word", "(deg * 1000) div freq AS wscore_milli")
    val phrases = occ.join(wordStats, Seq("word"))
      .groupBy($"doc_id", $"phrase_id")
      .agg(
        expr("array_join(transform(array_sort(collect_list(struct(pos, word)))," +
          " s -> s.word), ' ')").as("phrase"),
        sum($"wscore_milli").as("score_milli"))
    phrases.groupBy($"phrase")
      .agg(count(lit(1)).as("n_occ"), max($"score_milli").as("score_milli"))
      .orderBy($"score_milli".desc, $"phrase")
      .limit(t33TopK)
      .transform(graft.Tables.ordered(_, $"score_milli".desc, $"phrase"))
  }

  /** t33 oracle: identical segmentation (running stopword count),
    * vocab stats, milli word scores and (score DESC, phrase ASC)
    * top-k.
    */
  val t33Sql: String = {
    val stops = stopList.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
      |wx AS (SELECT doc_id,
      |        CAST(unnest(range(1, len(string_split(s, ' ')) + 1)) AS BIGINT) AS pos,
      |        unnest(string_split(s, ' ')) AS word
      |      FROM t),
      |m AS (SELECT doc_id, pos, word,
      |        CASE WHEN word IN ($stops) THEN 1 ELSE 0 END AS is_stop
      |      FROM wx),
      |seg AS (SELECT doc_id, pos, word,
      |        CAST(sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS phrase_id,
      |        is_stop
      |      FROM m),
      |wd AS (SELECT doc_id, phrase_id, pos, word FROM seg
      |      WHERE is_stop = 0 AND length(word) > 0),
      |pl AS (SELECT doc_id, phrase_id, CAST(count(*) AS BIGINT) AS plen
      |      FROM wd GROUP BY 1, 2 HAVING count(*) <= $t33MaxWords),
      |occ AS (SELECT wd.doc_id, wd.phrase_id, wd.pos, wd.word, pl.plen
      |      FROM wd JOIN pl USING (doc_id, phrase_id)),
      |ws AS (SELECT word,
      |        (CAST(sum(plen) AS BIGINT) * 1000) // CAST(count(*) AS BIGINT) AS wscore_milli
      |      FROM occ GROUP BY 1),
      |ph AS (SELECT o.doc_id, o.phrase_id,
      |        string_agg(o.word, ' ' ORDER BY o.pos) AS phrase,
      |        CAST(sum(ws.wscore_milli) AS BIGINT) AS score_milli
      |      FROM occ o JOIN ws USING (word) GROUP BY 1, 2),
      |agg AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ,
      |        CAST(max(score_milli) AS BIGINT) AS score_milli
      |      FROM ph GROUP BY 1)
      |SELECT phrase, n_occ, score_milli FROM agg
      |ORDER BY score_milli DESC, phrase
      |LIMIT $t33TopK""".stripMargin
  }
}
