package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Knn, TextStats, Media}

class DedupKnnSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = SharedSpark.sf
  import spark.implicits._

  test("d1: seeded exact duplicates collapse, others stay singletons") {
    val rows = Dedup.d1(spark, sf).collect()
    val n = Tables.documents(spark, sf).count()
    assert(rows.length == n) // one canonical row per distinct text
    rows.foreach { r =>
      val id = r.getAs[Long]("canonical_id")
      val copies = r.getAs[Long]("n_copies")
      assert(copies == (if (id % 5 == 0) 2L else 1L), s"doc $id")
    }
  }

  test("d2: MinHash/LSH recovers the seeded near-dup pairs") {
    val got = Dedup.d2(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val seeded = Tables.documents(spark, sf)
      .filter($"doc_id" % 7 === 0).select($"doc_id").as[Long].collect()
      .map(id => (id, id + 10000)).toSet
    val found = seeded.intersect(got)
    // banding is probabilistic-by-construction; near-identical docs
    // (jaccard ~0.9) must nearly all collide in >=1 of 4 bands
    assert(found.size >= (seeded.size * 0.9).toInt,
      s"found ${found.size} of ${seeded.size}")
  }

  test("d3: seeded near-dups have small hamming distance") {
    val got = Dedup.d3(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val seeded = Tables.documents(spark, sf)
      .filter($"doc_id" % 7 === 0).select($"doc_id").as[Long].collect()
      .map(id => (id, id + 10000)).toSet
    assert(seeded.intersect(got).size >= (seeded.size * 0.8).toInt)
  }

  test("d4: seeded pairs have high n-gram jaccard") {
    val rows = Dedup.d4(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("jaccard") > 0.5))
  }

  test("v1: exactly 5 ranked neighbors per query, descending") {
    val rows = Knn.v1(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 10)
    byQ.values.foreach { rs =>
      assert(rs.length == 5)
      val sims = rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("cos_sim"))
      assert(sims.sameElements(sims.sorted.reverse))
    }
  }

  test("v2 LSH: nonzero recall vs brute force") {
    val brute = Knn.v1(spark, sf).select($"qid", $"vec_id")
      .as[(Long, Long)].collect().toSet
    val lsh = Knn.v2(spark, sf).select($"qid", $"vec_id")
      .as[(Long, Long)].collect().toSet
    assert(lsh.nonEmpty)
    assert(brute.intersect(lsh).size >= 5,
      s"recall too low: ${brute.intersect(lsh).size}/50")
  }

  test("v3 IVF: structure and nonzero recall") {
    val rows = Knn.v3(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.groupBy(_.getAs[Long]("qid")).values.forall(_.length <= 3))
    val brute = Knn.v1(spark, sf).filter($"rnk" <= 3)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val ivf = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    assert(brute.intersect(ivf).nonEmpty)
  }

  test("t19: dup score covers every scored doc and agrees with d12's span docs") {
    val scores = graft.operators.Dedup.t19(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("dup_grams"), r.getAs[Long]("n_grams"), r.getAs[Long]("dup_permille")))
      .toMap
    // permille arithmetic and bounds hold on every row
    scores.values.foreach { case (d, n, pm) =>
      assert(d >= 0 && d <= n && n > 0)
      assert(pm == math.floor(d * 1000.0 / n).toLong && pm >= 0 && pm <= 1000)
    }
    // the seeded promo docs (doc_id % 9 == 0) share an 8-word tail ⇒ dup
    val seeded = scores.keys.filter(_ % 9 == 0)
    assert(seeded.nonEmpty && seeded.forall(k => scores(k)._1 > 0))
    // every doc d12 flags with removable spans must carry dup grams here
    graft.operators.Dedup.d12(spark, sf).collect()
      .map(_.getAs[Long]("doc_id"))
      .foreach(k => assert(scores(k)._1 > 0, s"d12 spans but t19 zero for $k"))
  }

  test("d13: one survivor per cluster; clusters close over d2's verified pairs") {
    val pairs = graft.operators.Dedup.d2(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    val rows = graft.operators.Dedup.d13(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("root"), r.getAs[Long]("kept")))
    val byDoc = rows.map(t => t._1 -> t._2).toMap
    // exactly the pair-graph nodes, no more
    assert(byDoc.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    // both ends of every verified pair landed in the same cluster
    pairs.foreach { case (a, b) =>
      assert(byDoc(a) == byDoc(b), s"pair ($a,$b) split across clusters")
    }
    // exactly one survivor per cluster, and it is the cluster min
    rows.groupBy(_._2).foreach { case (root, members) =>
      assert(members.count(_._3 == 1L) == 1)
      assert(members.filter(_._3 == 1L).head._1 == root)
      assert(members.map(_._1).min == root)
    }
    // the single-pass path: d13Apply on PRECOMPUTED pairs (the shape
    // a pipeline that already ran d2 ships) is row-identical to the
    // composed gate entry — no second minhash run required
    val precomputed = spark.createDataset(pairs).toDF("src", "dst")
    val applied = graft.operators.Dedup.d13Apply(precomputed).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("root"), r.getAs[Long]("kept")))
    assert(applied.toSeq == rows.toSeq)
  }

  test("d14: bloom prefilter prunes without changing the plain-join answer") {
    import graft.operators.Dedup
    val rows = Dedup.d14(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("is_dup")))
    assert(rows.nonEmpty)
    // plain-join reference (no bloom anywhere)
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "md5(lower(trim(text))) AS digest")
      .as[(Long, String)].collect()
    val archive = docs.filter(_._1 % 2 == 0).map(_._2).toSet
    val batch = docs.filter(_._1 % 2 == 1) ++
      docs.filter(_._1 % 10 == 0).map { case (id, d) => (id + 50000, d) }
    val want = batch.map { case (id, d) => (id, if (archive(d)) 1L else 0L) }
      .sortBy(_._1)
    assert(rows.toSeq == want.toSeq)
    // the seeded re-ingestions are all flagged; dedup is non-trivial
    val dupIds = rows.filter(_._2 == 1L).map(_._1).toSet
    val seeded = docs.filter(_._1 % 10 == 0).map(_._1 + 50000).toSet
    assert(seeded.subsetOf(dupIds))
    assert(rows.count(_._2 == 0L) > 0)
    // the prefilter really prunes: candidates (bloom-passing rows)
    // sit between the true dups (no false negatives) and well below
    // the whole batch at 1% fpp
    val bloom = Tables.documents(spark, sf)
      .filter($"doc_id" % 2 === 0)
      .selectExpr("md5(lower(trim(text))) AS digest")
      .stat.bloomFilter("digest", archive.size.toLong, 0.01)
    val nCand = batch.count { case (_, d) => bloom.mightContainString(d) }
    assert(nCand >= dupIds.size, "bloom produced a false negative")
    assert(nCand <= dupIds.size + math.max(10, batch.length / 20),
      s"bloom barely pruned: $nCand candidates of ${batch.length}")
  }

  test("v9 IVF-PQ: candidates confined to probed clusters, ranked lists well-formed") {
    val rows = Knn.v9(spark, sf).collect()
    assert(rows.nonEmpty)
    // well-formed per-query lists: <= 3 results, ranks contiguous from 1
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { g =>
      assert(g.length <= 3)
      assert(g.map(_.getAs[Int]("rnk")).sorted.sameElements(1 to g.length))
    }
    // every result must live in a cluster its query probed: recompute
    // assignment + probes with the independent exact path (v1All's
    // quantized cosine) and check containment
    val e = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("vec_id", "transform(v, x -> x / sqrt(aggregate(zip_with(v, v, (a, b) -> a * b), CAST(0 AS DOUBLE), (acc, x) -> acc + x))) AS nv")
      .as[(Long, Array[Double])].collect().toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }
      val q = d * 1e6
      (if (q >= 0) math.floor(q + 0.5) else math.ceil(q - 0.5)) / 1e6
    }
    val cents = (10L until 18L).map(c => c -> e(c))
    def nearest(v: Array[Double], n: Int): Seq[Long] =
      cents.map { case (cid, cv) => (cid, cos(cv, v)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(n).map(_._1)
    rows.foreach { r =>
      val qid = r.getAs[Long]("qid")
      val vid = r.getAs[Long]("vec_id")
      val probed = nearest(e(qid), 2).toSet
      assert(probed.contains(nearest(e(vid), 1).head),
        s"result $vid for query $qid is outside its probed clusters")
    }
  }

  test("TopKAgg typed aggregator equals window+rank top-k") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"value", $"event_id")
    // typed aggregator path: O(k) state per group
    val got = ev.as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new graft.functions.TopKAgg(3).toColumn)
      .flatMap { case (uid, tops) => tops.map(t => (uid, t._1, t._2)) }
      .collect().toSet
    // window path: sorts whole groups
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"value".desc, $"event_id")
    val want = ev.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 3)
      .select($"user_id", $"value", $"event_id")
      .as[(Long, Double, Long)].collect().toSet
    assert(got == want)
  }

  test("v4 k-means: every corpus vector assigned, clusters nonempty") {
    val rows = Knn.v4(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("cluster_size")).sum
    val corpus = Tables.embeddings(spark, sf).filter($"vec_id" >= 10).count()
    assert(total == corpus)
    assert(rows.length >= 2 && rows.forall(_.getAs[Long]("cluster_size") > 0))
  }

  test("t4: FNV-1a fingerprint matches the scalar implementation") {
    val one = TextStats.t4(spark, sf).filter($"doc_id" === 0).head()
    val text = Tables.documents(spark, sf).filter($"doc_id" === 0)
      .select($"text").as[String].head()
    val expected = graft.functions.Fnv64.hashBytes(
      text.trim.toLowerCase.getBytes("UTF-8"))
    assert(one.getAs[Long]("fingerprint") == expected)
  }

  test("d8: bucketed near-dup is a subset of d5 with recall >= 0.8") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a", $"id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = pairs(Dedup.d5(spark, sf))
    val got = pairs(Dedup.d8(spark, sf))
    // precision 1.0: every emitted pair passed the exact verify
    assert(got.subsetOf(all))
    val recall = got.size.toDouble / all.size
    // deterministic planes + data => a fixed measured 0.856 here
    assert(recall >= 0.8, s"recall $recall (${got.size}/${all.size})")
  }

  test("t9: three-level distributed prefix sum == the sequential fold") {
    // shrink the bucket widths so 500 docs exercise all three levels
    // (multiple buckets per superbucket, multiple superbuckets)
    spark.conf.set("graft.pack.bucketDocs", "64")
    spark.conf.set("graft.pack.superFactor", "4")
    try {
      val got = TextStats.t9(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val docs = Tables.documents(spark, sf)
        .select($"doc_id", $"n_chars").as[(Long, Long)]
        .collect().sortBy(_._1)
      var off = 0L
      val binned = docs.map { case (_, nc) =>
        val b = math.floor(off / 4000.0).toLong; off += nc; (b, nc)
      }
      val expected = binned.groupBy(_._1).toSeq
        .map { case (b, xs) => (b, xs.length.toLong, xs.map(_._2).sum) }
        .sortBy(_._1)
      assert(got == expected)
    } finally {
      spark.conf.unset("graft.pack.bucketDocs")
      spark.conf.unset("graft.pack.superFactor")
    }
  }

  test("d9: clusters partition the corpus; one survivor per cluster") {
    val rows = Dedup.d9(spark, sf).collect()
    val corpus = Tables.embeddings(spark, sf).filter($"vec_id" >= 10).count()
    assert(rows.map(_.getAs[Long]("n_members")).sum == corpus)
    assert(rows.map(_.getAs[Long]("survivor_id")).distinct.length == rows.length)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_removed") == r.getAs[Long]("n_members") - 1)
      val c = r.getAs[Double]("survivor_cos")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
    }
  }

  test("t14: exactly top-3 terms per doc, scores non-increasing") {
    val rows = TextStats.t14(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length == 3 * nDocs)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("score"))
      assert(byRank.length == 3)
      assert(byRank.sliding(2).forall(p => p(0) >= p(1)))
    }
  }

  test("m4: payload dedup reconciles with the seeded duplicates") {
    val rows = Media.m4(spark, sf).collect()
    val removed = rows.map(_.getAs[Long]("n_removed")).sum
    val seeded = Tables.documents(spark, sf).filter($"doc_id" % 10 === 0).count()
    // every seeded duplicate must be removed; natural prefix
    // collisions may add more
    assert(removed >= seeded)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_payloads") - r.getAs[Long]("n_distinct")
        == r.getAs[Long]("n_removed"))
    }
  }

  test("t1/t2/t3 shapes") {
    assert(TextStats.t1(spark, sf).filter($"n_ws_tokens" <= 0).count() == 0)
    val q = TextStats.t2(spark, sf).agg(min($"quality"), max($"quality")).head()
    assert(q.getDouble(0) >= 0.0 && q.getDouble(1) <= 1.0)
    val langs = TextStats.t3(spark, sf).select($"predicted").distinct()
      .as[String].collect().toSet
    assert(langs.subsetOf(Set("en", "de", "es", "fr", "zh")))
  }

  test("m2 resize: aspect preserved, long edge capped at 256") {
    val rows = Media.m2Resize(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(math.max(r.out_width, r.out_height) <= 256)
      if (math.max(r.width, r.height) > 256) {
        val inAspect = r.width.toDouble / r.height
        val outAspect = r.out_width.toDouble / r.out_height
        assert(math.abs(inAspect - outAspect) / inAspect < 0.1)
      } else assert(r.out_width == r.width && r.out_height == r.height)
    }
  }

  test("m3 frame sampling: only videos, stride-4 indices, stable checksums") {
    import spark.implicits._
    val rows = Media.m3Frames(spark, sf).collect()
    assert(rows.nonEmpty)
    val vids = Tables.documents(spark, sf).filter($"doc_id" % 3 === 2).count()
    assert(rows.map(_.doc_id).distinct.length == vids)
    rows.groupBy(_.doc_id).values.foreach { fs =>
      assert(fs.map(_.frame_idx).sorted.sameElements(0 until fs.head.n_frames by 4))
      assert(fs.map(_.frame_checksum).distinct.length == fs.length)
    }
  }

  test("m1: batched decode stub preserves rows and emits sane metadata") {
    val rows = Media.m1(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(Set("IMG", "AUD", "VID")(r.getAs[String]("format")))
      assert(r.getAs[Int]("width") >= 16 && r.getAs[Int]("width") <= 1024)
      assert(r.getAs[Long]("n_bytes") > 0)
    }
  }

  test("m5: audio energies recompute from payload bytes; only AUD docs emit") {
    val rows = Media.m5(spark, sf)
      .select($"doc_id", $"n_frames", $"frame_idx", $"energy")
      .as[(Long, Int, Int, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._1 % 3 == 1)) // AUD payloads only
    assert(rows.forall(r => r._4 >= 0 && r._4 <= 16L * 128 * 128))
    val byDoc = rows.groupBy(_._1)
    val payloads = Media.payloads(spark, sf).collect()
      .map(r => r.doc_id -> r.payload).toMap
    byDoc.foreach { case (id, fs) =>
      val p = payloads(id)
      val expectFrames = (p.length - 16) / 8 + 1
      assert(fs.length == expectFrames)
      assert(fs.map(_._3).sorted.sameElements(0 until expectFrames))
      // recompute one frame independently (overlap check: frame 1
      // starts at byte 8, inside frame 0's window)
      fs.find(_._3 == 1).foreach { case (_, _, f, e) =>
        val expect = (0 until 16).map { i =>
          val s = (p(f * 8 + i) & 0xff) - 128L; s * s
        }.sum
        assert(e == expect)
      }
    }
  }

  test("d7: dedup application removes exactly the seeded copies") {
    import spark.implicits._
    val rows = Dedup.d7(spark, sf).collect()
    val nRemoved = rows.map(_.getAs[Long]("n_removed")).sum
    val nKept = rows.map(_.getAs[Long]("n_kept")).sum
    val docs = Tables.documents(spark, sf)
    // every %5 doc gained one exact copy; dedup must remove exactly those
    assert(nRemoved == docs.filter($"doc_id" % 5 === 0).count())
    assert(nKept == docs.count())
  }

  test("t10: decontamination flags exactly the overlapping train docs") {
    import spark.implicits._
    val rows = graft.operators.TextStats.t10(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 13 != 0)
      assert(r.getAs[Long]("n_shared") >= 1)
      assert(r.getAs[Long]("n_eval_docs") >= 1)
    }
  }

  test("t12: every source capped at quota, sample is deterministic") {
    import spark.implicits._
    val a = graft.operators.TextStats.t12(spark, sf).collect()
    val b = graft.operators.TextStats.t12(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val perSource = Tables.documents(spark, sf)
      .groupBy($"source").count().as[(String, Long)].collect().toMap
    a.foreach { r =>
      val kept = r.getAs[Long]("n_kept")
      assert(kept <= 20)
      assert(kept == math.min(20L, perSource(r.getAs[String]("source"))))
    }
  }

  test("t13: repetition ratio in [0,1) and templated docs score higher") {
    val rows = graft.operators.TextStats.t13(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val ratio = r.getAs[Double]("rep_ratio")
      assert(ratio >= 0.0 && ratio < 1.0)
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_grams"))
    }
    // the tiny-vocab synthetic corpus must show real repetition spread
    assert(rows.map(_.getAs[Double]("rep_ratio")).distinct.length > 10)
  }

  test("v6 SQ: int8 quantization keeps high recall vs exact top-5") {
    import spark.implicits._
    val sq = Knn.v6(spark, sf).as[(Long, Int, Long, Double)].collect()
    val exact = Knn.v1(spark, sf).as[(Long, Int, Long, Double)].collect()
    val sqTop = sq.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val exTop = exact.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(sqTop.keySet == exTop.keySet)
    // the corpus cosines are near-isotropic (neighbor gaps ~1e-3,
    // below int8 resolution), so set recall aside and require the
    // sharper property: SQ's picks must score close to the exact
    // optimum under exact scoring — much tighter than PQ's bar
    val exactOf = Knn.v1All(spark, sf).as[(Long, Long, Double)].collect()
      .map { case (q, v, c) => (q, v) -> c }.toMap
    val byQ = exactOf.toSeq.groupBy(_._1._1)
    val sqPickMean = sq.map { case (q, _, v, _) => exactOf((q, v)) }.sum / sq.length
    val corpusMean = exactOf.values.sum / exactOf.size
    val corpusBest = byQ.values.map(_.map(_._2).max).sum / byQ.size
    assert(sqPickMean > corpusMean + 0.8 * (corpusBest - corpusMean),
      s"sq=$sqPickMean corpus=$corpusMean best=$corpusBest")
  }

  test("v5 PQ: valid ranked lists and positive recall vs brute force") {
    import spark.implicits._
    val pq = Knn.v5(spark, sf).as[(Long, Int, Long, Double)].collect()
    val exact = Knn.v1(spark, sf).as[(Long, Int, Long, Double)].collect()
    val pqTop = pq.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val exTop = exact.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(pqTop.keySet == exTop.keySet)
    pq.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._2).sorted.sameElements(1 to rs.length))
      val scores = rs.sortBy(_._2).map(_._4)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    // the testdata embeddings are near-isotropic (even the exact top-5
    // ignores the label column), so exact-top-5 recall is not a fair
    // bar for a coarse quantizer; the property that matters is that
    // ADC ordering tracks true cosine: PQ's picks must score clearly
    // above the corpus average under EXACT scoring
    val exactAll = {
      val e = Knn.v1All(spark, sf).as[(Long, Long, Double)].collect()
      e.groupBy(_._1).view.mapValues(rs => rs.map(_._3)).toMap
    }
    val exactOf = Knn.v1All(spark, sf).as[(Long, Long, Double)].collect()
      .map { case (q, v, c) => (q, v) -> c }.toMap
    val pqPickMean = pq.map { case (q, _, v, _) => exactOf((q, v)) }.sum / pq.length
    val corpusMean = exactAll.values.flatten.sum / exactAll.values.map(_.length).sum
    val corpusBest = exactAll.values.map(_.max).sum / exactAll.size
    assert(pqPickMean > corpusMean + 0.3 * (corpusBest - corpusMean),
      s"pq=$pqPickMean corpus=$corpusMean best=$corpusBest")
  }

  test("d2 skew guard: a mega-bucket is dropped, normal pairs survive") {
    // 150 identical docs land every band in one bucket of 150 > cap —
    // without the guard that's 150·149/2 candidate pairs per band; a
    // correctly divided pipeline sends exact clones to d1 instead.
    val clones = (1L to 150L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta"))
    val pair = Seq(
      (900L, "one two three four five six seven eight nine ten"),
      (901L, "one two three four five six seven eight nine ten extra"))
    val corpus = (clones ++ pair).toDF("doc_id", "text")
    val cands = Dedup.bandedCandidates(Dedup.shingleExplode(corpus), Dedup.bucketCap)
      .as[(Long, Long)].collect()
    assert(!cands.exists { case (a, b) => a <= 150 && b <= 150 },
      "mega-bucket pairs should be capped away")
    assert(cands.contains((900L, 901L)), "the honest near-dup pair must survive")
  }

  test("d10 cross-decontam: seeded eval near-dups recovered with high recall") {
    val got = Dedup.d10(spark, sf)
      .select($"train_id", $"eval_id", $"jaccard")
      .as[(Long, Long, Double)].collect()
    assert(got.forall(_._3 >= 0.4))
    assert(got.forall { case (t, e, _) => t < 200000 && e >= 200000 })
    // every 11th doc seeded a mutated eval twin; banding should
    // recover (almost) all of those (train, train+200000) pairs
    val seeded = Tables.documents(spark, sf).select($"doc_id").as[Long]
      .collect().filter(_ % 11 == 0).map(id => (id, id + 200000)).toSet
    val hits = got.map(r => (r._1, r._2)).toSet
    val recall = seeded.count(hits.contains).toDouble / seeded.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("t16 BM25: ranked lists are valid and every hit shares a query term") {
    val rows = TextStats.t16(spark, sf)
      .select($"qid", $"rnk", $"doc_id", $"score")
      .as[(Long, Int, Long, Double)].collect()
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L))
    val qterms = Map(
      0L -> Set("spark", "table", "join"),
      1L -> Set("stream", "window", "agg"),
      2L -> Set("customer", "order", "value"))
    val texts = Tables.documents(spark, sf)
      .select($"doc_id", lower(trim($"text"))).as[(Long, String)]
      .collect().toMap
    byQ.foreach { case (qid, rs) =>
      assert(rs.length == 5)
      assert(rs.map(_._2).sorted.sameElements(1 to 5))
      val scores = rs.sortBy(_._2).map(_._4)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(rs.forall(_._4 > 0))
      // every retrieved doc actually contains a query term
      rs.foreach { r =>
        val words = texts(r._3).split(" ").toSet
        assert(qterms(qid).exists(words.contains), s"doc ${r._3} has no term of q$qid")
      }
    }
  }

  test("t15 mixture: class-0 doubled, class-1 thinned, rest passed through") {
    val rows = TextStats.t15(spark, sf)
      .select($"doc_id", $"source", $"rep").as[(Long, String, Long)].collect()
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"source").as[(Long, String)].collect()
    def cls(src: String) = src.drop(3).toInt % 5
    val reps = rows.groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).sorted.toSeq)
    docs.foreach { case (id, src) =>
      cls(src) match {
        case 0 => assert(reps((id, src)) == Seq(1L, 2L), s"doc $id")
        case 1 => assert(!reps.contains((id, src)) || reps((id, src)) == Seq(1L))
        case _ => assert(reps((id, src)) == Seq(1L), s"doc $id")
      }
    }
    // the 40% downsample keeps some but not all of class 1
    val c1 = docs.filter(d => cls(d._2) == 1)
    val kept = c1.count(d => reps.contains((d._1, d._2)))
    assert(kept > 0 && kept < c1.length, s"kept $kept of ${c1.length}")
  }

  test("v7 range search: exactly the pairs at or above the threshold") {
    val got = Knn.v7(spark, sf)
      .select($"qid", $"vec_id", $"cos_sim").as[(Long, Long, Double)]
      .collect()
    val all = Knn.v1All(spark, sf).as[(Long, Long, Double)].collect()
    val want = all.filter(_._3 >= 0.2)
    assert(got.toSet == want.toSet)
    assert(got.forall(_._3 >= 0.2))
    // sanity: the threshold actually prunes
    assert(got.length < all.length)
  }

  test("d11: the seeded header is stripped everywhere; whole-copy docs empty out") {
    val rows = Dedup.d11(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_lines"),
        r.getAs[Long]("n_removed"), r.getAs[String]("new_text")))
    assert(rows.nonEmpty)
    // every document loses at least the shared header line
    rows.foreach { case (id, nl, nr, _) =>
      assert(nr >= 1 && nr <= nl, s"doc $id removed $nr of $nl")
    }
    // originals of copied docs and the copies themselves lose every
    // line (their full content is corpus-duplicated)
    rows.filter(t => t._1 % 5 == 0 || t._1 >= 10000)
      .foreach { case (id, nl, nr, txt) =>
        assert(nr == nl, s"doc $id kept ${nl - nr} duplicated lines")
        assert(txt == null, s"doc $id new_text should be null")
      }
    // surviving text never contains the boilerplate header
    rows.filter(_._4 != null).foreach { case (id, _, _, txt) =>
      assert(!txt.contains("standard corpus header line"), s"doc $id")
    }
  }

  test("p5: funnel chains; stage-3 removals equal the gate-surviving copies") {
    val rows = graft.operators.Corpus.p5(spark, sf).collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_in"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("n_removed")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq ==
      Seq("1_quality", "2_langid", "3_exact_dedup", "4_decontam"))
    rows.foreach { case (s, nIn, nKept, nRem) =>
      assert(nIn - nKept == nRem && nKept <= nIn, s"stage $s inconsistent")
    }
    rows.sliding(2).foreach { w =>
      assert(w(0)._3 == w(1)._2, "stages must chain n_kept -> n_in")
    }
    // n_in of stage 1 = train docs + seeded copies
    val docs = Tables.documents(spark, sf).select($"doc_id").as[Long].collect()
    val train = docs.filter(_ % 13 != 0)
    assert(rows.head._2 == train.length + train.count(_ % 5 == 0))
    // a copy shares its original's text, hence its gate flags — so
    // dedup removes exactly the copies whose original survived both
    // gates (the testdata corpus has no natural duplicates)
    val q = TextStats.t2(spark, sf).select($"doc_id", $"quality")
      .as[(Long, Double)].collect().toMap
    val hit = TextStats.t3(spark, sf).select($"doc_id", $"hit")
      .as[(Long, Int)].collect().toMap
    val expected = train.filter(_ % 5 == 0)
      .count(id => q(id) >= 0.5 && hit(id) == 1)
    assert(rows(2)._4 == expected,
      s"stage-3 removed ${rows(2)._4}, expected $expected surviving copies")
  }

  test("d6 stars: component parity with propagation; log-round chain convergence") {
    // on d6's own edge set the stars contraction must produce the
    // identical component table
    val edges = Dedup.d6Edges(spark, sf).cache()
    val (pl, _, pc) = Dedup.ccPropagate(edges, 20)
    val (sl, _, sc) = Dedup.ccStars(edges, 50)
    assert(pc && sc, s"propagation converged: $pc, stars converged: $sc")
    val base = pl.as[(Long, Long)].collect().sorted.toSeq
    val stars = sl.as[(Long, Long)].collect().sorted.toSeq
    assert(base.nonEmpty)
    assert(stars == base)
    edges.unpersist()
    // a 64-node path graph: diameter 63, so propagation needs ~63
    // rounds while large-star/small-star contracts in O(log n)
    val n = 64
    val chain = spark.range(0, n - 1).selectExpr("id AS src", "id + 1 AS dst")
    val (lbl, rounds, conv) = Dedup.ccStars(chain, 50)
    assert(conv, "stars did not converge")
    val bound = math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt + 1
    assert(rounds <= bound, s"stars took $rounds rounds (> log2($n)+1 = $bound)")
    val labels = lbl.as[(Long, Long)].collect()
    assert(labels.length == n && labels.forall(_._2 == 0L))
    // propagation within the same round budget must NOT have converged
    val (_, _, pconv) = Dedup.ccPropagate(chain, rounds)
    assert(!pconv, "propagation should need diameter rounds, not log")
  }

  test("components: a propagation that hits its round budget frees its labels before the stars fallback") {
    // three distributed runs (localMax = -1) over path graphs whose
    // diameters (21, 24, 30) exceed propagation's 20-round budget:
    // each falls back to stars. A fallback that dropped the
    // propagation's last checkpoint without freeing it would leave
    // one persisted RDD per run behind until driver GC — three here,
    // beyond the slack (+ 2) the deep-graphs lineage test allows.
    val (_, before, after) = SharedSpark.withPinnedPersisted {
      Seq(21, 24, 30).foreach { d =>
        val path = spark.range(0, d).selectExpr("id AS src", "id + 1 AS dst")
        val comps = Dedup.components(path, localMax = -1L)
        val labels = comps.as[(Long, Long)].collect()
        assert(labels.length == d + 1 && labels.forall(_._2 == 0L),
          s"diameter-$d path is not one component rooted at 0")
        graft.functions.Lineage.freeCheckpoint(comps)
      }
    }
    assert(after <= before + 2,
      s"the stars fallback leaked persisted RDDs: $before -> $after")
  }

  test("d6 leaves no persisted RDD behind") {
    val (rows, left) = SharedSpark.leftPersisted(Dedup.d6(spark, sf).collect())
    assert(rows.nonEmpty)
    assert(left.isEmpty, s"d6 left persisted RDDs: ${left.keys}")
  }

  test("d13Apply leaves no persisted RDD behind") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("src", "dst")
    val (rows, left) = SharedSpark.leftPersisted(Dedup.d13Apply(pairs).collect())
    assert(rows.length == 5)
    assert(left.isEmpty, s"d13Apply left persisted RDDs: ${left.keys}")
  }

  test("d13Apply over a path beyond propagation's round budget: labels outlive the freed pairs") {
    // 25 pairs on a 26-node path: diameter 25 > 20 rounds, so the
    // labels come from the stars fallback, which d13Apply's freed
    // pairs checkpoint must not feed
    val pairs = spark.range(0, 25).selectExpr("id AS src", "id + 1 AS dst")
    val (out, left) = SharedSpark.leftPersisted {
      val applied = Dedup.d13Apply(pairs)
      val rows = applied.collect()
      assert(rows.map(_.getAs[Long]("doc_id")).toSeq == (0L to 25L))
      assert(rows.forall(_.getAs[Long]("root") == 0L))
      assert(rows.map(_.getAs[Long]("kept")).sum == 1L)
      applied
    }
    // the only RDD left is the labels' checkpoint the result reads
    assert(left.size == 1, s"d13Apply left persisted RDDs: ${left.keys}")
    graft.functions.Lineage.freeCheckpoint(out)
    assert(!spark.sparkContext.getPersistentRDDs.contains(left.keys.head))
  }

  test("d12: planted substring is recalled in every seeded doc, spans merge") {
    val rows = Dedup.d12(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_spans"),
        r.getAs[Long]("removed_words")))
    assert(rows.nonEmpty)
    val promoLen = graft.operators.Dedup.d12Promo.split(" ").length
    assert(promoLen > graft.operators.Dedup.d12K)
    val seeded = Tables.documents(spark, sf)
      .select($"doc_id").as[Long].collect().filter(_ % 9 == 0)
    assert(seeded.nonEmpty)
    val byId = rows.map(t => t._1 -> t).toMap
    // every doc carrying the planted 11-word run is flagged, and its
    // merged span covers at least the full run (the windows overlap
    // into ONE span, not 4 separate K-word spans)
    seeded.foreach { d =>
      val t = byId.get(d)
      assert(t.isDefined, s"seeded doc $d not flagged")
      assert(t.get._3 >= promoLen, s"doc $d removed only ${t.get._3} words")
    }
    // brute-force cross-check on a sample: a flagged doc really shares
    // a K-gram with some other doc (digest path introduces no false
    // positives at this scale)
    val texts = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, tx) =>
        id -> (if (id % 9 == 0) tx + " " + graft.operators.Dedup.d12Promo else tx)
      }.toMap
    def grams(s: String) = s.trim.split(" ")
      .sliding(graft.operators.Dedup.d12K).map(_.mkString(" ")).toSet
    val allGrams = texts.toSeq.flatMap { case (id, tx) => grams(tx).map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    rows.take(20).foreach { case (id, _, _) =>
      assert(grams(texts(id)).exists(g => allGrams(g) >= 2),
        s"doc $id flagged but shares no $id-gram with another doc")
    }
  }

  test("m6: seeded variants pair with their base within the DCT verify bound") {
    import graft.operators.Media
    val pairs = Media.m6(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Number]("hamming").intValue()))
    assert(pairs.nonEmpty)
    // reference hash per doc, computed locally through the SAME real
    // PNG roundtrip + integer DCT — the distributed path must agree
    def pay(id: Long, text: String): String = {
      val pre = if (id % 3 == 0) "IMG" else if (id % 3 == 1) "AUD" else "VID"
      (pre + text.take(61)).padTo(64, ' ')
    }
    def flip8(s: String): String =
      if (s.length >= 8) s.updated(7, (s.charAt(7).toInt ^ 1).toChar) else s
    val texts = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val baseIds = texts.keys.filter(_ % 6 == 0).toSeq.sorted
    assert(baseIds.nonEmpty)
    val pairMap = pairs.map(t => (t._1, t._2) -> t._3).toMap
    var found = 0
    baseIds.foreach { d =>
      val hBase = Media.dctPhash(Media.pngLuminance(pay(d, texts(d))))
      val hVar = Media.dctPhash(Media.pngLuminance(
        flip8((if (d % 3 == 0) "IMG" else if (d % 3 == 1) "AUD" else "VID") + texts(d).take(61)).padTo(64, ' ')))
      val ham = java.lang.Long.bitCount(hBase ^ hVar)
      val got = pairMap.get((d, d + 30000))
      if (ham <= 4) {
        assert(got.contains(ham), s"seeded pair $d: expected hamming $ham, got $got")
        found += 1
      } else assert(got.isEmpty, s"pair $d beyond bound (ham=$ham) must not appear")
    }
    // the ±1-pixel seeding must actually be recalled for nearly all
    // seeds: a real DCT moves each coefficient by ≤ 4096 per unit
    assert(found >= baseIds.size * 9 / 10,
      s"only $found of ${baseIds.size} seeded pairs within hamming 4")
    // verification really bounds the distance
    assert(pairs.forall(_._3 <= 4))
  }

  test("m6: DCT pHash golden values and basis sanity") {
    import graft.operators.Media
    // DC row of the basis is flat 64s; AC rows sum to ~0 (rounding)
    assert(Media.dctW(0).forall(_ == 64L))
    (1 until 8).foreach(u => assert(math.abs(Media.dctW(u).sum) <= 2,
      s"AC basis row $u sums to ${Media.dctW(u).sum}"))
    // a constant image has NO positive AC coefficient: hash 0
    assert(Media.dctPhash(Array.fill(64)(80)) == 0L)
    // a horizontal step edge excites only horizontal AC terms: the
    // sign pattern is confined to bits u*8 (v = 0), u >= 1
    val edge = Array.tabulate(64)(i => if (i % 8 < 4) 100 else 20)
    val hEdge = Media.dctPhash(edge)
    assert(hEdge != 0L)
    val vBitsMask = (for (u <- 1 until 8) yield 1L << (u * 8 - 1)).reduce(_ | _)
    assert((hEdge & ~vBitsMask) == 0L,
      f"edge hash 0x$hEdge%x has bits outside horizontal AC positions")
    // PNG roundtrip is lossless: luminance == char & 127
    val s = ("IMG" + ("The quick brown fox jumps over the lazy dog again " * 2)).take(64)
    assert(Media.pngLuminance(s).toSeq == s.map(_.toInt & 127).toSeq)
  }

  test("m12: VAD segments are maximal dense runs over m5's frames; the gate swings both ways") {
    import graft.operators.Media
    val frames = Media.m5(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("frame_idx"), r.getAs[Long]("energy")))
    val segs = Media.m12(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("seg_start"), r.getAs[Int]("seg_end"),
        r.getAs[Long]("n_frames"), r.getAs[Long]("energy_total"), r.getAs[Long]("peak_energy")))
    assert(segs.nonEmpty)
    // independent recompute: walk each doc's frames, collect runs >= 3
    val want = frames.groupBy(_._1).toSeq.flatMap { case (doc, fs) =>
      val hot = fs.sortBy(_._2).filter(_._3 >= 33000L)
      val runs = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Int, Long)]]
      hot.foreach { f =>
        if (runs.nonEmpty && runs.last.last._2 + 1 == f._2)
          runs(runs.size - 1) = runs.last :+ f
        else runs += Seq(f)
      }
      runs.filter(_.size >= 3).map { r =>
        (doc, r.head._2, r.last._2, r.size.toLong, r.map(_._3).sum, r.map(_._3).max)
      }
    }.sortBy(s => (s._1, s._2))
    assert(segs.toSeq == want)
    // the gate discriminates: some frames pass, some fail, and not
    // every hot run survives the >= 3 hangover
    val hotN = frames.count(_._3 >= 33000L)
    assert(hotN > 0 && hotN < frames.length)
    assert(segs.map(_._4).sum < hotN, "every hot frame landed in a segment — hangover never bit")
  }

  test("m8: scenes partition each video's frames contiguously at the cut points") {
    import graft.operators.Media
    val frames = Media.m3(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("frame_idx"),
        r.getAs[Long]("frame_checksum")))
    val scenes = Media.m8(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("scene_id"),
        r.getAs[Int]("start_frame"), r.getAs[Long]("n_scene_frames")))
    assert(scenes.nonEmpty)
    val byDoc = frames.groupBy(_._1)
    scenes.groupBy(_._1).foreach { case (doc, sc) =>
      val fs = byDoc(doc).sortBy(_._2)
      // scenes tile the video: ids contiguous from 0, lengths sum to
      // the frame count, each scene starts where the previous ended
      val ordered = sc.sortBy(_._2)
      assert(ordered.map(_._2).sameElements(0L until ordered.length))
      assert(ordered.map(_._4).sum == fs.length)
      assert(ordered.head._3 == fs.head._2)
      // recompute the cuts independently from the m3 checksums
      val sigs = fs.map(f => ((f._3 % 997) + 997) % 997)
      val cutIdx = sigs.zip(sigs.tail).zipWithIndex.collect {
        case ((a, b), i) if math.abs(b - a) > 500 => fs(i + 1)._2
      }
      assert(ordered.tail.map(_._3).toSeq == cutIdx.toSeq,
        s"doc $doc scene starts != recomputed cuts")
    }
  }

  test("v10 hybrid RRF: fused ranks reconcile with both arms' independent rankings") {
    import graft.operators.{Knn, TextStats}
    val rows = Knn.v10(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("rrf"), r.getAs[Int]("lex_rnk"), r.getAs[Int]("vec_rnk")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (qid, g) =>
      // contiguous ranks, rrf non-increasing, ties broken by doc_id
      assert(g.map(_._2).sorted.sameElements(1 to g.length))
      val ordered = g.sortBy(_._2)
      ordered.sliding(2).foreach { case Array(a, b) =>
        assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3),
          s"qid $qid not ordered at rnk ${b._2}")
      case _ => }
      // every row appears in >= 1 arm and its rrf is EXACTLY the
      // fixed-order two-term sum of its recorded arm ranks
      g.foreach { case (_, _, doc, rrf, lr, vr) =>
        assert(lr > 0 || vr > 0, s"doc $doc in neither arm")
        assert(lr <= 20 && vr <= 20)
        val expect = (if (lr > 0) 1.0 / (lr + 60) else 0.0) +
          (if (vr > 0) 1.0 / (vr + 60) else 0.0)
        assert(rrf == expect, s"doc $doc rrf $rrf != $expect")
      }
    }
    // recorded arm ranks equal the arms' own independent rankings
    val lex = TextStats.bm25Scores(spark, sf)
      .filter($"doc_id" >= 10)
      .select($"qid", $"doc_id", $"score").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(t => (-t._3, t._2)).map(_._2)
        .take(20).zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap).toMap
    rows.foreach { case (qid, _, doc, _, lr, _) =>
      assert(lex.get(qid).flatMap(_.get(doc)).getOrElse(0) == lr,
        s"qid $qid doc $doc lex_rnk mismatch")
    }
  }

  test("v11 ANN recall: per-query overlap equals the two arms' set intersection") {
    import graft.operators.Knn
    val exact = Knn.v1(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
    val approx = Knn.v2(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val rows = Knn.v11(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("n_overlap"), r.getAs[Double]("recall")))
    // one row per exact-arm query, even a zero-overlap one
    assert(rows.map(_._1).toSet == exact.map(_._1).toSet)
    val wantOverlap = exact.groupBy(_._1).view
      .mapValues(_.count(approx.contains)).toMap
    rows.foreach { case (qid, n, rec) =>
      assert(n == wantOverlap(qid), s"qid $qid overlap $n != ${wantOverlap(qid)}")
      assert(rec == n / 5.0 && rec >= 0.0 && rec <= 1.0)
    }
    // sanity floor, not a quality gate: v2's 8-table/6-bit family
    // measures mean recall 0.46 on this corpus (the number v11
    // exists to surface — v2's candidates are bucket-bound by
    // design, d8's lshBitsFor discussion). A collapse toward 0 means
    // the hash family or the harness broke, which IS spec-worthy.
    val mean = rows.map(_._3).sum / rows.length
    assert(mean >= 0.25, s"mean recall $mean — LSH index or harness broke")
  }

  test("v12 silhouette: cluster means equal a local recomputation; scores stay in [0,1]") {
    import graft.operators.Knn
    val rows = Knn.v12(spark, sf).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("n_members"),
        r.getAs[Double]("mean_silhouette")))
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, s) =>
      assert(n > 0 && s >= 0.0 && s <= 1.0)
    }
    // local recompute through the same quantized-cosine kernel
    val nv = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("vec_id", "transform(v, x -> x / sqrt(aggregate(zip_with(v, v, (a, b) -> a * b), CAST(0 AS DOUBLE), (acc, x) -> acc + x))) AS nv")
      .as[(Long, Array[Double])].collect().toMap
    def cosQ(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }
      val q = d * 1e6
      (if (q >= 0) math.floor(q + 0.5) else math.ceil(q - 0.5)) / 1e6
    }
    val cents = (10L until 18L).map(c => c -> nv(c))
    val per = nv.keys.filter(_ >= 18).toSeq.map { id =>
      val scored = cents.map { case (cid, cv) => (cid, cosQ(cv, nv(id))) }
        .sortBy { case (cid, c) => (-c, cid) }
      val (own, c1) = scored.head
      val c2 = scored(1)._2
      val (da, db) = (1.0 - c1, 1.0 - c2)
      own -> (if (db == 0.0) 0L else math.floor(((db - da) / db) * 1e6 + 0.5).toLong)
    }
    val want = per.groupBy(_._1).map { case (cid, ss) =>
      cid -> (ss.size.toLong, ss.map(_._2).sum.toDouble / ss.size / 1e6)
    }
    assert(rows.map(r => r._1 -> ((r._2, r._3))).toMap == want)
  }

  test("v13 drift: halves partition the corpus; counts, dispersion and share deltas match a local replay") {
    import graft.operators.Knn
    val rows = Knn.v13(spark, sf).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
        r.getAs[Long]("dist_ref"), r.getAs[Long]("dist_cur"),
        r.getAs[Long]("share_delta_pm")))
    assert(rows.nonEmpty)
    // local replay through the same quantized-cosine assignment
    val nv = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("vec_id", "transform(v, x -> x / sqrt(aggregate(zip_with(v, v, (a, b) -> a * b), CAST(0 AS DOUBLE), (acc, x) -> acc + x))) AS nv")
      .as[(Long, Array[Double])].collect().toMap
    def cosQ(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }
      val q = d * 1e6
      (if (q >= 0) math.floor(q + 0.5) else math.ceil(q - 0.5)) / 1e6
    }
    val cents = (10L until 18L).map(c => c -> nv(c))
    val asg = nv.keys.filter(_ >= 18).toSeq.map { id =>
      val (cid, c1) = cents.map { case (c, cv) => (c, cosQ(cv, nv(id))) }
        .minBy { case (c, s) => (-s, c) }
      (cid, id % 2, math.floor((1.0 - c1) * 1e6 + 0.5).toLong)
    }
    val nrt = asg.count(_._2 == 0L).toLong; val nct = asg.count(_._2 == 1L).toLong
    val want = asg.groupBy(_._1).map { case (cid, g) =>
      val (r, c) = g.partition(_._2 == 0L)
      (cid, r.size.toLong, c.size.toLong, r.map(_._3).sum, c.map(_._3).sum,
        math.abs(r.size.toLong * 1000 / nrt - c.size.toLong * 1000 / nct))
    }.toSeq.sortBy(_._1)
    assert(rows.toSeq == want)
    // the two halves partition the monitored corpus exactly
    assert(rows.map(_._2).sum + rows.map(_._3).sum == nv.keys.count(_ >= 18))
  }

  test("d15 soft dedup: survivor weights preserve the corpus mass and match d13's clusters") {
    import graft.operators.Dedup
    val w = Dedup.d15(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("weight"))).toMap
    val nDocs = Tables.documents(spark, sf).count()
    // mass conservation: Σ weight == corpus size (nothing lost, the
    // soft-dedup contract)
    assert(w.values.sum == nDocs)
    // survivors are exactly d13's kept CORPUS docs plus every
    // unclustered doc — d2's pair universe also contains its seeded
    // re-ingestion fixtures (doc_id ≥ 10000, not documents rows);
    // they participate in components but carry no corpus mass
    val labels = Dedup.d13(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("root"), r.getAs[Long]("kept")))
    val corpus = (0L until nDocs).toSet
    val clustered = labels.map(_._1).toSet
    val kept = labels.filter(_._3 == 1L).map(_._1).toSet.intersect(corpus)
    assert(w.keySet == corpus.diff(clustered) ++ kept)
    // each survivor's weight is its component's CORPUS member count;
    // singletons weigh 1
    val sizes = labels.filter(l => corpus(l._1)).groupBy(_._2).view
      .mapValues(_.length.toLong).toMap
    kept.foreach(r => assert(w(r) == sizes(r), s"root $r"))
    w.keySet.filterNot(kept).foreach(d => assert(w(d) == 1L, s"singleton $d"))
    // dedup is real: at least one survivor carries mass > 1
    assert(w.values.exists(_ > 1L))
  }

  test("d21: audit histogram equals a union-find recompute over d2's pairs; mass conserves") {
    import graft.operators.Dedup
    val got = Dedup.d21(spark, sf).collect()
      .map(r => (r.getAs[Long]("csize"), r.getAs[Long]("n_clusters"),
        r.getAs[Long]("docs_removed"), r.getAs[Long]("chars_removed"))).toSeq.sortBy(_._1)
    val docs = Tables.documents(spark, sf).selectExpr("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val corpus = docs ++ docs.filter(_._1 % 7 == 0)
      .map { case (id, t) => (id + 10000, t + " zq extra tail token") }
    val chars = corpus.map { case (id, t) => id -> t.length.toLong }.toMap
    val pairs = Dedup.d2(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    val nodes = (pairs.map(_._1) ++ pairs.map(_._2)).toSet
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n).toSeq: _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val clusters = nodes.groupBy(find)
    val perCluster = clusters.map { case (root, ms) =>
      (ms.size.toLong, ms.map(chars).sum, chars(root))
    }
    val hist = perCluster.groupBy(_._1).map { case (s, cs) =>
      (s, cs.size.toLong, (s - 1) * cs.size, cs.map(c => c._2 - c._3).sum)
    }.toSeq
    val want = (hist :+ ((1L, corpus.size.toLong - nodes.size, 0L, 0L))).sortBy(_._1)
    assert(got == want)
    // mass conservation: the histogram accounts for every corpus doc
    assert(got.map { case (s, n, _, _) => s * n }.sum == corpus.size.toLong)
    // dedup is real: some multi-doc cluster with positive savings
    assert(got.exists { case (s, _, dr, cr) => s > 1 && dr > 0 && cr > 0 })
  }

  test("v20: MIPS equals a sequential recompute, diverges from cosine, and the norm-augmentation preserves its order") {
    import graft.operators.Knn
    val got = Knn.v20(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"), r.getAs[Long]("vec_id")))
    val emb = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val queries = emb.filter(_._1 < 10)
    val corpus = emb.filter(_._1 >= 10)
      .map { case (id, v) => (id, v.map(_ * ((10 + id % 5).toDouble / 10.0))) }
    def dotQ(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }
      val q = d * 1e6
      (if (q >= 0) math.floor(q + 0.5) else math.ceil(q - 0.5)) / 1e6
    }
    val want = queries.flatMap { case (qid, qv) =>
      corpus.map { case (cid, cv) => (qid, cid, dotQ(qv, cv)) }
        .sortBy { case (_, cid, ip) => (-ip, cid) }.take(5).zipWithIndex
        .map { case ((_, cid, _), i) => (qid, (i + 1).toLong, cid) }
    }
    assert(got.toSeq == want.toSeq)
    // norm signal is real: MIPS top-5 differs from cosine top-5 (v1)
    // for at least one query
    val cosTop = Knn.v1(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"), r.getAs[Long]("vec_id"))).toSet
    assert(got.exists(!cosTop.contains(_)), "MIPS never diverged from cosine")
    // the reduction: augmented unit vectors x* = [x; sqrt(M^2-|x|^2)]/M
    // rank by cosine exactly as raw vectors rank by inner product
    val bigM = corpus.map { case (_, v) => math.sqrt(v.map(x => x * x).sum) }.max
    queries.foreach { case (qid, qv) =>
      val byIp = corpus.map { case (cid, cv) =>
        (cid, cv.zip(qv).map { case (a, b) => a * b }.sum)
      }.sortBy { case (cid, ip) => (-ip, cid) }.map(_._1).take(20).toSeq
      val byAug = corpus.map { case (cid, cv) =>
        val aug = math.sqrt(math.max(0.0, bigM * bigM - cv.map(x => x * x).sum))
        // cos(q*, x*) = (q.x + 0*aug) / (|q| * M): rank-equal to q.x
        (cid, cv.zip(qv).map { case (a, b) => a * b }.sum /
          (math.sqrt(qv.map(x => x * x).sum) * bigM) + 0.0 * aug)
      }.sortBy { case (cid, c) => (-c, cid) }.map(_._1).take(20).toSeq
      assert(byIp == byAug, s"augmentation reordered query $qid")
    }
  }

  test("v8 MMR: 5 diverse picks from the top-10 pool, step 1 = argmax relevance") {
    val rows = Knn.v8(spark, sf)
      .select($"qid", $"rnk", $"vec_id", $"mmr_score")
      .as[(Long, Int, Long, Double)].collect()
    val pool = Knn.v1All(spark, sf).as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy { case (_, cid, rel) => (-rel, cid) }
        .take(10)).toMap
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == pool.keySet)
    byQ.foreach { case (qid, rs) =>
      assert(rs.length == 5)
      assert(rs.map(_._3).distinct.length == 5) // no repeats
      assert(rs.map(_._2).sorted.sameElements(1 to 5))
      // every pick comes from the query's top-10 candidate pool
      val poolIds = pool(qid).map(_._2).toSet
      assert(rs.forall(r => poolIds.contains(r._3)))
      // step 1 is pure relevance: the pool's top-1
      val first = rs.find(_._2 == 1).get
      assert(first._3 == pool(qid).head._2)
    }
  }

  test("v14 refine: exact re-rank of the ADC shortlist, recall never below v5") {
    import graft.operators.Knn
    def asMap(df: org.apache.spark.sql.DataFrame, score: String) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double](score)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val v14 = asMap(Knn.v14(spark, sf), "cos_sim")
    val v5 = asMap(Knn.v5(spark, sf), "score")
    val v1 = asMap(Knn.v1(spark, sf), "cos_sim")
    assert(v14.keySet == v1.keySet)
    // refined cosines are the TRUE cosines: where a (qid, vec_id)
    // pair also appears in exact v1, the scores agree bitwise
    val v1Score = v1.values.flatten.map(t => (t._1, t._3) -> t._4).toMap
    v14.values.flatten.foreach { case (qid, _, vid, s) =>
      v1Score.get((qid, vid)).foreach(exact =>
        assert(s == exact, s"qid $qid vec $vid: refined $s != exact $exact"))
    }
    // per query: 5 contiguous ranks, ordered by (cos desc, id)
    v14.foreach { case (qid, rs) =>
      assert(rs.map(_._2).toSeq == (1 to 5))
      rs.sliding(2).foreach {
        case Array(a, b) => assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3))
        case _ => }
    }
    // the refine stage cannot lose ground: recall@5 vs exact v1 is
    // at least v5's (deterministic data — a drop means a real bug)
    def recall(m: Map[Long, Array[(Long, Int, Long, Double)]]) =
      v1.keys.map { q =>
        val truth = v1(q).map(_._3).toSet
        (m(q).map(_._3).toSet & truth).size.toDouble / truth.size
      }.sum / v1.size
    val r14 = recall(v14); val r5 = recall(v5)
    // the meaningful invariant: exact re-ranking of a superset
    // shortlist can only match or beat pure-ADC ranking (the toy
    // 16-code codebook keeps absolute recall modest at sf0.001 —
    // ~0.12 for both stages; the refine contract, not the number,
    // is what this pins)
    assert(r14 >= r5, s"refine recall $r14 < ADC recall $r5")
    assert(r14 > 0.0, s"refine recall zero — shortlist misses all truth")
  }

  test("v16: the kNN graph equals an independent sequential recompute") {
    val got = Knn.v16(spark, sf).collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("nbr_id"), r.getAs[Double]("cos_sim")))
    // independent mirror of the whole pipeline: planes, sign buckets,
    // cap, self-join candidates, quantized cosine, (cos DESC, id) top-k
    val nTables = 8; val bits = 6; val dim = 64; val cap = 100; val k = 5
    def plane(j: Int): Array[Double] = Array.tabulate(dim) { i =>
      val x = math.sin(j * 131.7 + i * 17.3) * 43758.5453
      x - math.floor(x) - 0.5
    }
    def q6(x: Double) =
      (if (x * 1e6 >= 0) math.floor(x * 1e6 + 0.5) else math.ceil(x * 1e6 - 0.5)) / 1e6
    val vecs = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .as[(Long, Array[Double])].collect()
      .map { case (id, v) =>
        val nrm = math.sqrt(v.map(x => x * x).sum)
        (id, v.map(_ / nrm))
      }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val buckets: List[((Int, Int), Long)] = (for {
      (id, nv) <- vecs.toList; t <- 0 until nTables
    } yield {
      var b = 0
      (0 until bits).foreach { bit =>
        if (math.floor(dot(nv, plane(t * bits + bit)) * 1e6 + 0.5) >= 0)
          b |= (1 << bit)
      }
      ((t, b), id)
    })
    val byBucket: Map[(Int, Int), List[Long]] = buckets.groupBy(_._1)
      .map { case (tb, v) => tb -> v.map(_._2) }
      .filter(_._2.length <= cap)
    val cand: Set[(Long, Long)] = byBucket.values.flatMap(ids =>
      for (a <- ids; b <- ids if a != b) yield (a, b)).toSet
    val nvOf: Map[Long, Array[Double]] = vecs.toMap
    val want = cand.groupBy(_._1).toSeq.flatMap { case (src, ps) =>
      ps.toSeq.map { case (_, nbr) => (nbr, q6(dot(nvOf(src), nvOf(nbr)))) }
        .sortBy { case (nbr, c) => (-c, nbr) }.take(k).zipWithIndex
        .map { case ((nbr, c), i) => (src, i + 1, nbr, c) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want && got.nonEmpty)
    // shape invariants: no self-edges, ranks dense from 1, cos in range
    got.foreach { case (s, _, n, c) => assert(s != n && c >= -1.0 && c <= 1.0) }
    got.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq == (1 to g.length))
    }
  }

  test("v17: every seeded semantic copy is pruned, its source kept; rest singleton") {
    val raw = Knn.v17(spark, sf).collect()
    // the giant-cluster alarm: on this corpus the largest cluster is
    // exactly a seeded (source, copy) pair — every row carries it
    assert(raw.forall(_.getAs[Long]("max_csize") == 2L))
    val rows = raw
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster"),
        r.getAs[Long]("csize"), r.getAs[Boolean]("keep")))
    val byId = rows.map(t => t._1 -> t).toMap
    val n = Tables.embeddings(spark, sf).count()
    val seeded = (0L until n).filter(_ % 25 == 0)
    assert(rows.length == n + seeded.length)
    // each copy clusters with exactly its source (bucket collision +
    // cos >= 0.9 + closure), is pruned, and the source survives
    seeded.foreach { id =>
      assert(byId(id + 1000000) == (id + 1000000, id, 2L, false), s"copy of $id")
      assert(byId(id) == (id, id, 2L, true), s"source $id")
    }
    // the natural pair maximum (~0.47) is far under the 0.9 cut, so
    // every non-seeded vector must be its own singleton cluster
    rows.filter(t => t._1 < 1000000 && !seeded.contains(t._1)).foreach { t =>
      assert(t._2 == t._1 && t._3 == 1L && t._4, s"unexpected cluster: $t")
    }
    assert(rows.count(!_._4) == seeded.length)
  }

  test("v15: hamming shortlist + exact rerank equals a sequential recompute") {
    val got = Knn.v15(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Int]("ham"), r.getAs[Double]("cos_sim")))
    // sequential reference from the raw embeddings
    val vecs = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .as[(Long, Array[Double])].collect()
      .map { case (id, v) =>
        val nrm = math.sqrt(v.map(x => x * x).sum)
        (id, v.map(_ / nrm))
      }.toMap
    def q6(x: Double) =
      (if (x * 1e6 >= 0) math.floor(x * 1e6 + 0.5) else math.ceil(x * 1e6 - 0.5)) / 1e6
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    // signatures over the identical planes (offset 300, 63 bits)
    val planes = (0 until 63).map { b =>
      (0 until 64).map { i =>
        val x = math.sin((300 + b) * 131.7 + i * 17.3) * 43758.5453
        x - math.floor(x) - 0.5
      }.toArray
    }.toArray
    def sig(nv: Array[Double]): Long =
      (0 until 63).foldLeft(0L) { (s, b) =>
        if (math.floor(dot(nv, planes(b)) * 1e6 + 0.5) >= 0) s | (1L << b) else s
      }
    val sigs = vecs.map { case (id, nv) => id -> sig(nv) }
    val want = sigs.filter(_._1 < 10).toSeq.sortBy(_._1).flatMap { case (qid, qs) =>
      val short = sigs.filter(_._1 >= 10).toSeq
        .map { case (cid, cs) => (cid, java.lang.Long.bitCount(qs ^ cs)) }
        .sortBy { case (cid, h) => (h, cid) }.take(20)
      short.map { case (cid, h) => (qid, cid, h, q6(dot(vecs(qid), vecs(cid)))) }
        .sortBy { case (_, cid, _, c) => (-c, cid) }.take(5).zipWithIndex
        .map { case ((q, cid, h, c), i) => (q, i + 1, cid, h, c) }
    }
    assert(got.toSeq == want, s"got=${got.length} want=${want.length}")
  }

  test("t24: hashed features equal a sequential FNV recompute; dims bounded") {
    val got = TextStats.t24(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dim"), r.getAs[Long]("w")))
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "lower(trim(text)) AS t")
      .as[(Long, String)].collect()
    val want = docs.flatMap { case (id, t) =>
      t.split(" ", -1).filter(_.nonEmpty).map { w =>
        val h = graft.functions.Fnv64.hashBytes(w.getBytes("UTF-8"))
        ((id, h & 63L), if (((h >> 6) & 1L) == 1L) 1L else -1L)
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      .filter(_._2 != 0).toSeq
      .map { case ((id, d), w) => (id, d, w) }.sortBy(x => (x._1, x._2))
    assert(got.toSeq == want)
    assert(got.forall(_._2 < 64) && got.nonEmpty)
  }

  test("m9: landmark matches equal a sequential recompute; shifted copies match") {
    val got = Media.m9(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_shared")))
    // sequential reference straight from the document text bytes
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "substring(text, 1, 61) AS t")
      .as[(Long, String)].collect()
    val payloads = docs.filter(_._1 % 3 == 1).map { case (id, t) => (id, "AUD" + t) } ++
      docs.filter(_._1 % 30 == 25).map { case (id, t) => (id + 200000L, "AUDXXXXXXXX" + t) }
    def landmarks(s: String): Set[Long] = {
      val bytes = s.getBytes("UTF-8").map(b => ((b & 0xff) - 128).toLong)
      if (bytes.length < 16) return Set.empty
      val n = (bytes.length - 16) / 8 + 1
      val e = (0 until n).map(f => (0 until 16).map(i => { val x = bytes(f * 8 + i); x * x }).sum)
      val peaks = (1 until n - 1).filter(f => e(f) > e(f - 1) && e(f) > e(f + 1))
      peaks.zip(peaks.drop(1)).map { case (a, b) =>
        (b - a).toLong * 1048576L + (e(a) / 1024) * 1024L + (e(b) / 1024)
      }.toSet
    }
    val fps = payloads.map { case (id, s) => (id, landmarks(s)) }
    val byFp = fps.flatMap { case (id, st) => st.map(f => (f, id)) }
      .groupBy(_._1).filter(_._2.length <= 16)
    val want = byFp.values.toSeq
      .flatMap(g => for (a <- g.toSeq; b <- g.toSeq if a._2 < b._2) yield (a._2, b._2))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.map { case ((a, b), c) => (a, b, c) }.sortBy(x => (x._1, x._2))
    assert(got.toSeq == want)
    // shift invariance: at least one seeded (orig, orig+200000) pair
    // survives with shared interior landmarks
    assert(got.exists { case (a, b, _) => b == a + 200000L },
      "no shifted copy matched its original")
  }

  test("d17: containment equals a sequential recompute and exposes what Jaccard misses") {
    val got = Dedup.d17(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("containment"), r.getAs[Double]("jaccard")))
    def shingles(text: String): Set[String] = {
      val words = text.toLowerCase.trim.split(" ", -1)
      if (words.length >= 3) words.sliding(3).map(_.mkString(" ")).toSet
      else Set(words.mkString(" "))
    }
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "text").as[(Long, String)].collect().toMap
    val want = docs.keys.filter(_ % 9 == 0).toSeq.sorted.map { id =>
      val orig = shingles(docs(id))
      val prefix = shingles(
        docs(id).toLowerCase.trim.split(" ", -1).take(12).mkString(" "))
      val inter = (prefix & orig).size
      (id + 30000L, id, inter.toDouble / prefix.size,
        inter.toDouble / (prefix.size + orig.size - inter))
    }
    assert(got.toSeq == want)
    // the asymmetry the operator exists for: full containment with
    // small Jaccard on the seeded prefix copies
    assert(got.count { case (_, _, c, j) => c == 1.0 && j < 0.5 } > got.length / 2,
      s"prefix copies should be contained but not Jaccard-similar")
    got.foreach { case (_, _, c, j) => assert(c >= j) }
  }

  test("d18: every seeded prefix copy surfaces through the candidate join") {
    val got = Dedup.d18(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("containment"), r.getAs[Double]("jaccard")))
    // recall on the seeded ground truth: each 12-word-prefix copy is
    // fully contained in its source, and d18's PREFIX-FILTER candidate
    // stage (not an arithmetic pair list — this is the composed
    // pipeline) must surface every one of them
    val seeded = Tables.documents(spark, sf)
      .filter($"doc_id" % 9 === 0).select($"doc_id").as[Long].collect()
    assert(seeded.nonEmpty)
    val byPair = got.map(t => (t._1, t._2) -> t._3).toMap
    seeded.foreach { id =>
      assert(byPair.get((id + 30000L, id)).contains(1.0),
        s"seeded pair ${id + 30000}→$id missing or not fully contained")
    }
    // every emitted pair meets the integer threshold, and the
    // asymmetry story holds: containment dominates Jaccard
    got.foreach { case (a, b, c, j) =>
      assert(c >= 0.8 && c >= j && a != b)
    }
  }

  test("d16: canonical URL groups are exact; survivors are min ids; mass conserved") {
    val rows = Dedup.d16(spark, sf).collect()
      .map(r => (r.getAs[String]("canonical_url"), r.getAs[Long]("n_dups"),
        r.getAs[Long]("survivor_id")))
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "source").as[(Long, String)].collect()
    def canon(id: Long, src: String): String =
      s"http://${src.toLowerCase}.example.com/p/${id % 10}"
    val want = docs.groupBy { case (id, src) => canon(id, src) }
      .map { case (u, g) => (u, g.length.toLong, g.map(_._1).min) }
      .toSeq.sortBy(_._1)
    assert(rows.toSeq == want)
    assert(rows.map(_._2).sum == docs.length, "every doc lands in exactly one group")
    assert(rows.length < docs.length, "the URL noise actually collapses")
  }

  test("t25: co-occurrence lift equals a sequential recompute; lift separates pairs") {
    val got = TextStats.t25(spark, sf).collect()
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("pair_cnt"), r.getAs[Long]("cnt_a"),
        r.getAs[Long]("cnt_b"), r.getAs[Double]("lift")))
    val docs = Tables.documents(spark, sf)
      .selectExpr("lower(trim(text)) AS t").as[String].collect()
    val toks = docs.map(_.split(" ", -1).toSeq)
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = toks.map(_.size.toLong).sum
    val pairCnt = scala.collection.mutable.Map.empty[(String, String), Long]
    toks.foreach { ws =>
      for (i <- 0 until ws.length - 1; j <- i + 1 to math.min(i + 3, ws.length - 1)) {
        val k = if (ws(i) <= ws(j)) (ws(i), ws(j)) else (ws(j), ws(i))
        pairCnt(k) = pairCnt.getOrElse(k, 0L) + 1L
      }
    }
    val want = pairCnt.filter(_._2 >= 5L).toSeq.map { case ((a, b), c) =>
      (a, b, c, uni(a), uni(b), (c * n).toDouble / (uni(a) * uni(b)).toDouble)
    }.sortBy(x => (x._1, x._2))
    assert(got.toSeq == want, s"got=${got.length} want=${want.length}")
    assert(got.nonEmpty)
    // lift must actually separate: the strongest collocation scores
    // far above the weakest surviving pair — a flat lift surface
    // would mean the window count carries no signal beyond unigram
    // frequency (at tiny corpus scale all survivors sit above 1, so
    // the spread, not the absolute level, is the discriminator)
    assert(got.exists(_._6 > 1.5) && got.map(_._6).max > 10.0 * got.map(_._6).min,
      s"lift range: ${got.map(_._6).min}..${got.map(_._6).max}")
    // canonical pair grain: w1 <= w2 always, no duplicate pairs
    got.foreach { case (a, b, _, _, _, _) => assert(a <= b) }
    assert(got.map(x => (x._1, x._2)).distinct.length == got.length)
  }

  test("v18: filtered kNN equals a sequential recompute; post-filtering provably loses") {
    val got = Knn.v18(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Double]("cos_sim")))
    val raw = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "label", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .as[(Long, Int, Array[Double])].collect()
    def norm(v: Array[Double]): Array[Double] = {
      var i = 0; var d = 0.0
      while (i < v.length) { d += v(i) * v(i); i += 1 }
      val nrm = math.sqrt(d)
      v.map(_ / nrm)
    }
    def cosQ(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var dot = 0.0
      while (i < a.length) { dot += a(i) * b(i); i += 1 }
      val q = dot * 1e6
      (if (q >= 0) math.floor(q + 0.5) else math.ceil(q - 0.5)) / 1e6
    }
    val all = raw.map { case (id, l, v) => (id, l, norm(v)) }
    val queries = all.filter(_._1 < 10).sortBy(_._1)
    val corpus = all.filter(_._1 >= 10)
    val want = queries.flatMap { case (qid, ql, qv) =>
      corpus.filter(_._2 == ql)
        .map { case (cid, cl, cv) => (cid, cl, cosQ(qv, cv)) }
        .sortBy { case (cid, _, s) => (-s, cid) }.take(5).zipWithIndex
        .map { case ((cid, cl, s), i) => (qid, i + 1, cid, cl, s) }
    }
    assert(got.toSeq == want.toSeq, s"got=${got.length} want=${want.length}")
    assert(got.nonEmpty && got.forall { case (qid, _, _, l, _) =>
      l == queries.find(_._1 == qid).get._2
    })
    // why pre-filtering: post-filtering the UNFILTERED top-5 by the
    // query's label must lose qualifying neighbors for at least one
    // query (selective filter ⇒ the global top-k is mostly other
    // labels); the pre-filtered result always returns the full k
    // when the label has >= k corpus members
    val postFiltered = queries.map { case (qid, ql, qv) =>
      val top = corpus.map { case (cid, _, cv) => (cid, cosQ(qv, cv)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(5)
        .count { case (cid, _) => corpus.find(_._1 == cid).get._2 == ql }
      (qid, top)
    }
    assert(postFiltered.exists(_._2 < 5),
      "post-filtering lost nothing — the filter is not selective enough to gate this property")
    got.groupBy(_._1).foreach { case (qid, rows) =>
      val ql = queries.find(_._1 == qid).get._2
      if (corpus.count(_._2 == ql) >= 5) assert(rows.length == 5)
    }
  }

  test("v19: sweep is monotone and its nprobe=2 level IS v3") {
    val rows = Knn.v19(spark, sf).collect()
      .map(r => (r.getAs[Long]("nprobe"), r.getAs[Long]("sum_overlap"),
        r.getAs[Long]("recall_micro"), r.getAs[Long]("n_cand"),
        r.getAs[Long]("cand_frac_micro"))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    // widening the probe set can only add candidates and overlap
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2 && b._3 >= a._3 && b._4 > a._4 && b._5 > a._5,
        s"non-monotone: $a -> $b")
    }
    // recall must be real but imperfect on untrained centroids (a
    // perfect curve would mean the prune isn't pruning)
    assert(rows.last._3 > rows.head._3, "nprobe carries no recall signal")
    assert(rows.head._3 > 0L && rows.last._3 < 1000000L)
    // cross-operator pin: the sweep's nprobe=2 pruned top-k must be
    // EXACTLY v3's independently-oracled result set
    val (_, approx) = Knn.v19Parts(spark, sf)
    val lvl2 = approx.filter("nprobe = 2").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"))).toSet
    val v3rows = Knn.v3(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"))).toSet
    assert(lvl2 == v3rows, s"sweep level 2 != v3: ${lvl2.size} vs ${v3rows.size}")
  }

  test("d20: threshold sweep equals a sequential recompute and is monotone in tau") {
    val got = Dedup.d20(spark, sf).collect()
      .map(r => ((r.getAs[Long]("tau_permille"), r.getAs[Long]("grade")),
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_over")))).toMap
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "lower(trim(text)) AS t").as[(Long, String)].collect()
    def shingles(t: String): Set[String] = {
      val ws = t.split(" ", -1)
      if (ws.length >= 3) ws.sliding(3).map(_.mkString(" ")).toSet
      else Set(ws.mkString(" "))
    }
    val taus = Seq(500L, 600L, 700L, 800L, 900L)
    val scored = docs.map { case (id, t) =>
      val g = (id % 5).toInt
      val junk = (0 to g * 4).map(i => s"zq${g}x$i").mkString(" ")
      val a = shingles(t)
      val b = shingles(t + " " + junk)
      (g.toLong, (a & b).size.toLong, a.size.toLong, b.size.toLong)
    }
    val want = (for {
      tau <- taus; g <- 0L until 5L
    } yield {
      val ps = scored.filter(_._1 == g)
      ((tau, g), (ps.size.toLong,
        ps.count { case (_, i, na, nb) => i * 1000 >= tau * (na + nb - i) }.toLong))
    }).toMap
    assert(got == want)
    // tightening tau can only shrink the pass set (same pairs, same
    // scores) — and it must actually bite somewhere
    (0L until 5L).foreach { g =>
      taus.sliding(2).foreach { case Seq(t1, t2) =>
        assert(got((t2, g))._2 <= got((t1, g))._2)
      }
    }
    val total: Long => Long = tau => (0L until 5L).map(g => got((tau, g))._2).sum
    assert(total(900L) < total(500L), "the sweep never discriminates")
    assert(total(500L) > 0L)
  }

  test("d19: boilerplate strips exactly the template; sub-ratio repeats survive") {
    val got = Dedup.d19(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_lines"), r.getAs[Long]("n_boiler"),
        r.getAs[String]("new_text")))
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "source", "text").as[(Long, String, String)].collect()
    assert(got.length == docs.length)
    val byId = docs.map(d => d._1 -> d).toMap
    got.foreach { case (id, src, nLines, nBoiler, newText) =>
      val (_, wantSrc, text) = byId(id)
      assert(src == wantSrc)
      // exactly the two seeded 8-word template lines are chrome
      assert(nBoiler == 2L, s"doc $id: $nBoiler")
      val words = text.trim.split(" ", -1)
      assert(nLines == 2L + math.max((words.length + 7) / 8, 1).toLong)
      // the organic content survives byte-identically (re-chunked
      // and re-joined on single spaces)
      assert(newText == words.mkString(" "), s"doc $id content damaged")
    }
    // the d11 contrast: an 8-word window shared by >= 2 docs of one
    // source but <= half of them must SURVIVE here (d11 would cut it)
    val bySource = docs.groupBy(_._2)
    val shared = bySource.view.mapValues { ds =>
      val lineDocs = ds.flatMap { case (id, _, t) =>
        val ws = t.trim.split(" ", -1)
        (0 until math.max((ws.length + 7) / 8, 1))
          .map(k => ws.slice(k * 8, k * 8 + 8).mkString(" ")).distinct.map((_, id))
      }.groupBy(_._1).view.mapValues(_.map(_._2).distinct.length).toMap
      (lineDocs, ds.length)
    }.toMap
    val subRatio = shared.flatMap { case (src, (lineDocs, nd)) =>
      lineDocs.collect { case (l, c) if c >= 2 && c * 2 <= nd => (src, l) }
    }
    if (subRatio.nonEmpty) {
      val (src, line) = subRatio.head
      val holder = docs.find { case (_, s, t) =>
        s == src && {
          val ws = t.trim.split(" ", -1)
          (0 until math.max((ws.length + 7) / 8, 1))
            .exists(k => ws.slice(k * 8, k * 8 + 8).mkString(" ") == line)
        }
      }.get._1
      val newText = got.find(_._1 == holder).get._5
      assert(newText.contains(line), s"sub-ratio shared line was wrongly removed")
    }
  }

  test("v21: graph-ANN beam search equals a sequential best-first recompute") {
    val got = Knn.v21(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
        r.getAs[Long]("in_exact")))
    // --- sequential mirror of the whole serving path: corpus-only
    // degree-16 graph (v16's mirror restricted to vec_id >= 10,
    // top-16 per node) traversed undirected, IVF-seeded entries
    // (8 centroids = first corpus vectors, 8 reps per cell, 2
    // probed cells per query), 6 best-first hops at the log-n
    // scheduled beam (max(8, 2*ceil(log2 n)) — integer bit-length),
    // top-5, brute-force ground truth for the in_exact flag ---
    val nTables = 8; val bits = 6; val dim = 64; val cap = 100; val k = 5
    val deg = 16; val nCents = 8; val nReps = 8; val nProbes = 2
    val hops = 6
    def plane(j: Int): Array[Double] = Array.tabulate(dim) { i =>
      val x = math.sin(j * 131.7 + i * 17.3) * 43758.5453
      x - math.floor(x) - 0.5
    }
    def q6(x: Double) =
      (if (x * 1e6 >= 0) math.floor(x * 1e6 + 0.5) else math.ceil(x * 1e6 - 0.5)) / 1e6
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val vecs = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .as[(Long, Array[Double])].collect()
      .map { case (id, v) =>
        val nrm = math.sqrt(v.map(x => x * x).sum)
        (id, v.map(_ / nrm))
      }
    val nvOf = vecs.toMap
    val corpus = vecs.filter(_._1 >= 10)
    val beam = math.max(8, 2 * (64 - java.lang.Long
      .numberOfLeadingZeros(math.max(1L, corpus.length.toLong - 1))))
    val buckets = (for { (id, nv) <- corpus.toList; t <- 0 until nTables } yield {
      var b = 0
      (0 until bits).foreach { bit =>
        if (math.floor(dot(nv, plane(t * bits + bit)) * 1e6 + 0.5) >= 0)
          b |= (1 << bit)
      }
      ((t, b), id)
    }).groupBy(_._1).map { case (tb, v) => tb -> v.map(_._2) }
      .filter(_._2.length <= cap)
    val cand = buckets.values.flatMap(ids =>
      for (a <- ids; b <- ids if a != b) yield (a, b)).toSet
    val knn = cand.groupBy(_._1).map { case (src, ps) =>
      src -> ps.toSeq.map { case (_, nbr) => (nbr, q6(dot(nvOf(src), nvOf(nbr)))) }
        .sortBy { case (nbr, c) => (-c, nbr) }.take(deg).map(_._1)
    }
    val und = knn.toSeq
      .flatMap { case (s, ns) => ns.flatMap(n => Seq((s, n), (n, s))) }
      .distinct.groupBy(_._1).map { case (s, ps) => s -> ps.map(_._2).toSet }
    // IVF entry index: assign every graph node to its nearest of the
    // first nCents corpus vectors (centroid-first dot order), keep
    // each cell's nReps members nearest the centroid
    val cents = corpus.filter(_._1 < 10 + nCents).sortBy(_._1)
    val nodeCell = und.keys.toSeq.sorted.map { n =>
      val (cid, cs) = cents.map { case (cid, cv) => (cid, q6(dot(cv, nvOf(n)))) }
        .minBy { case (cid, s) => (-s, cid) }
      (n, cid, cs)
    }
    val reps = nodeCell.groupBy(_._2).map { case (cid, ms) =>
      cid -> ms.sortBy { case (n, _, cs) => (-cs, n) }.take(nReps).map(_._1)
    }
    val queries = vecs.filter(_._1 < 10).sortBy(_._1)
    val want = queries.flatMap { case (qid, qv) =>
      val probed = cents.map { case (cid, cv) => (cid, q6(dot(qv, cv))) }
        .sortBy { case (cid, s) => (-s, cid) }.take(nProbes).map(_._1)
      val seeds = probed.flatMap(cid => reps.getOrElse(cid, Seq.empty))
      var visited = seeds.map(n => n -> q6(dot(qv, nvOf(n)))).toMap
      var expanded = Set.empty[Long]
      (1 to hops).foreach { _ =>
        val frontier = visited.filterNot(kv => expanded(kv._1)).toSeq
          .sortBy { case (n, s) => (-s, n) }.take(beam).map(_._1)
        expanded ++= frontier
        val cands = frontier.flatMap(n => und.getOrElse(n, Set.empty[Long]))
          .distinct.filterNot(visited.contains)
        visited ++= cands.map(n => n -> q6(dot(qv, nvOf(n))))
      }
      val brute = corpus.map { case (cid, cv) => (cid, q6(dot(qv, cv))) }
        .sortBy { case (cid, c) => (-c, cid) }.take(k).map(_._1).toSet
      visited.toSeq.sortBy { case (n, s) => (-s, n) }.take(k).zipWithIndex
        .map { case ((n, s), i) => (qid, i + 1, n, s, if (brute(n)) 1L else 0L) }
    }
    assert(got.toSeq == want.toSeq && got.nonEmpty)
    // the hill-climb finds most true neighbors (recall@5 measured
    // 0.98 / 1.00 / 0.74 at sf0.001/0.01/0.1 with the degree-16
    // graph + IVF entries — scale-stable, vs 0.82/0.64/0.38 for
    // the round-10 degree-5 fixed-seed build)
    val recall = got.map(_._5).sum.toDouble / got.length
    assert(recall >= 0.6, s"recall@5 $recall")
    got.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq == (1 to g.length))
    }
  }

  test("v17 chain: a-b and b-c similar but a-c not - chaining clusters all three, min-id kept") {
    // hand-built transitive chain: b at the center, a/c displaced
    // oppositely along e1 by 0.35*|b| => cos(a,b) = cos(b,c) =
    // 1/sqrt(1.1225) ~ 0.944 >= 0.9, cos(a,c) = 0.8775/1.1225 ~ 0.78 < 0.9
    val dim = 64; val nTables = 8; val bits = 6
    def plane(j: Int): Array[Double] = Array.tabulate(dim) { i =>
      val x = math.sin(j * 131.7 + i * 17.3) * 43758.5453
      x - math.floor(x) - 0.5
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def bucketsOf(v: Array[Double]): Seq[(Int, Int)] = {
      val nrm = math.sqrt(dot(v, v))
      val nv = v.map(_ / nrm)
      (0 until nTables).map { t =>
        var b = 0
        (0 until bits).foreach { bit =>
          if (math.floor(dot(nv, plane(t * bits + bit)) * 1e6 + 0.5) >= 0)
            b |= (1 << bit)
        }
        (t, b)
      }
    }
    // deterministic seed search: first base whose chain collides in
    // >= 1 bucket table for BOTH adjacent pairs (the candidate stage
    // must propose them; the a-c pair may collide too - the 0.9
    // edge cut rejects it regardless)
    val found = (1 to 200).iterator.map { seed =>
      val rnd = new scala.util.Random(seed)
      val b = Array.tabulate(dim)(i => if (i == 0) 0.0 else rnd.nextGaussian())
      val nb = math.sqrt(dot(b, b))
      val a = b.clone(); a(0) = 0.35 * nb
      val c = b.clone(); c(0) = -0.35 * nb
      (a, b, c)
    }.find { case (a, b, c) =>
      val (ba, bb, bc) = (bucketsOf(a).toSet, bucketsOf(b).toSet, bucketsOf(c).toSet)
      ba.intersect(bb).nonEmpty && bb.intersect(bc).nonEmpty
    }
    assert(found.nonEmpty, "no colliding chain base found")
    val (a, b, c) = found.get
    val corpus = spark.createDataFrame(Seq(
      (1L, a.toSeq), (2L, b.toSeq), (3L, c.toSeq))).toDF("vec_id", "v")
    val got = Knn.v17Clusters(corpus).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster"),
        r.getAs[Long]("csize"), r.getAs[Boolean]("keep"))).sortBy(_._1)
    // chaining merges all three through b even though a and c are
    // NOT semantic duplicates of each other - and the min-id member
    // (a, an endpoint, not the hub) is the surviving representative:
    // exactly the concentration behavior max_csize exists to surface
    assert(got.toSeq == Seq(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false)))
  }

  test("v25: hard negatives equal a sequential mining recompute") {
    val got = Knn.v25(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Long]("neg_cell"),
        r.getAs[Double]("cos_sim"), r.getAs[Long]("margin_micro"))).toSeq
    def q6(x: Double) =
      (if (x * 1e6 >= 0) math.floor(x * 1e6 + 0.5) else math.ceil(x * 1e6 - 0.5)) / 1e6
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val vecs = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .as[(Long, Array[Double])].collect()
      .map { case (id, v) =>
        val nrm = math.sqrt(v.map(x => x * x).sum); (id, v.map(_ / nrm))
      }
    val cents = vecs.filter(t => t._1 >= 10 && t._1 < 18).sortBy(_._1)
    def cellOf(nv: Array[Double]): Long =
      cents.map { case (cid, cv) => (cid, q6(dot(cv, nv))) }
        .minBy { case (cid, s) => (-s, cid) }._1
    val corpus = vecs.filter(_._1 >= 18)
    val corpusCell = corpus.map { case (id, nv) => id -> cellOf(nv) }.toMap
    val want = vecs.filter(_._1 < 10).sortBy(_._1).flatMap { case (qid, qv) =>
      val acell = cellOf(qv)
      val scored = corpus.map { case (id, nv) => (id, q6(dot(qv, nv))) }
      val posTop = scored.filter(t => corpusCell(t._1) == acell).map(_._2).max
      scored.filter(t => corpusCell(t._1) != acell)
        .sortBy { case (id, s) => (-s, id) }.take(5).zipWithIndex
        .map { case ((id, s), i) =>
          (qid, (i + 1).toLong, id, corpusCell(id), s,
            math.round(posTop * 1e6) - math.round(s * 1e6))
        }
    }.toSeq
    assert(got == want && got.nonEmpty)
    // mined negatives are all foreign-cell; boundary anchors exist
    // (negative margins — the curriculum signal) but are a minority
    val anchorCell = vecs.filter(_._1 < 10)
      .map { case (id, nv) => id -> cellOf(nv) }.toMap
    got.foreach { t => assert(t._4 != anchorCell(t._1)) }
    assert(got.exists(_._6 < 0L) && got.count(_._6 < 0L) < got.length)
  }

  test("v22: the anytime curve is monotone and its last point equals v21's recall") {
    val rows = Knn.v22(spark, sf).collect()
      .map(r => (r.getAs[Long]("hop"), r.getAs[Long]("n_visited"),
        r.getAs[Long]("n_top"), r.getAs[Long]("n_hits"),
        r.getAs[Long]("recall_permille"))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L to 6L))
    // cost grows (until the reachable set saturates) and recall
    // never goes DOWN with more exploration: the visited set only
    // grows, so its top-k only improves
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2, "visited set shrank")
      assert(b._4 >= a._4 && b._5 >= a._5, "recall regressed with more hops")
    }
    // internal consistency + the curve's last point IS v21's recall
    rows.foreach { case (_, _, nTop, nHits, rp) =>
      assert(nHits <= nTop && rp == nHits * 1000 / nTop)
    }
    val v21Hits = Knn.v21(spark, sf).collect()
      .map(_.getAs[Long]("in_exact")).sum
    assert(rows.last._4 == v21Hits)
    // the search does real work: the curve must actually rise
    assert(rows.last._4 > rows.head._4, "flat curve - search useless")
  }


  test("v26: NSW batch insert — edge contract and from-scratch recall parity") {
    val (insEdges, ixAug, newQs) = Knn.v26Parts(spark, sf)
    val edges = insEdges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val newIds = newQs.map(_._1).toSet
    assert(newIds.nonEmpty)
    // every new node links to exactly v21Degree STANDING nodes (the
    // batch variant never links new-to-new: inserts see only the
    // stable base, so the batch is order-free)
    val perNew = edges.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perNew.keySet == newIds)
    assert(perNew.values.forall(_ == 16), "insert degree != 16")
    assert(edges.forall { case (s, n) => newIds(s) && !newIds(n) && n >= 10 })
    // the judge contract: post-insert recall ON THE INSERTED QUERIES
    // matches a from-scratch full-corpus build within a pinned
    // tolerance (serve each inserted vector as a query; recall@5
    // against the full-corpus brute — which contains the vector
    // itself at rank 1)
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val flags = df.collect().map(_.getAs[Long]("in_exact"))
      flags.sum.toDouble / flags.length
    }
    val augRows = Knn.v21ServeBatch(ixAug, newQs)
    val recAug = recall(augRows)
    val recFull = recall(Knn.v21ServeBatch(Knn.v21Static(spark, sf), newQs))
    assert(recAug >= recFull - 0.10,
      s"insert recall $recAug too far below from-scratch $recFull")
    // reachability: inserted vectors must FIND THEMSELVES (cos 1.0
    // at rank 1) — the links wired them into the navigable graph
    val selfHits = augRows.collect().filter(r =>
      r.getAs[Long]("qid") == r.getAs[Long]("vec_id") &&
        r.getAs[Int]("rnk") == 1)
    assert(selfHits.length == newIds.size,
      s"${newIds.size - selfHits.length} inserted vectors unreachable")
  }


  test("v27: soft delete — tombstones never surface but stay navigable; live recall holds") {
    val rows = Knn.v27(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
        r.getAs[Long]("in_exact"), r.getAs[Long]("n_tomb_visited"))).toSeq
    assert(rows.nonEmpty)
    // the delete contract: no tombstoned id ever surfaces
    assert(rows.forall(_._3 % 23 != 0), "tombstoned id in results")
    // in_exact re-grounds against the LIVE corpus: JVM brute mirror
    def q6(x: Double) =
      (if (x * 1e6 >= 0) math.floor(x * 1e6 + 0.5) else math.ceil(x * 1e6 - 0.5)) / 1e6
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val vecs = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .as[(Long, Array[Double])].collect()
      .map { case (id, v) =>
        val nrm = math.sqrt(v.map(x => x * x).sum); (id, v.map(_ / nrm))
      }
    val live = vecs.filter(t => t._1 >= 10 && t._1 % 23 != 0)
    val bruteTop = vecs.filter(_._1 < 10).map { case (qid, qv) =>
      qid -> live.map { case (cid, cv) => (cid, q6(dot(qv, cv))) }
        .sortBy { case (cid, sc) => (-sc, cid) }.take(5).map(_._1).toSet
    }.toMap
    rows.foreach { case (qid, _, vid, _, ie, _) =>
      assert(ie == (if (bruteTop(qid)(vid)) 1L else 0L), s"in_exact wrong at $qid/$vid")
    }
    // soft delete keeps tombstones NAVIGABLE: searches traverse them
    // (n_tomb_visited recounted from the actual final search state)
    assert(rows.exists(_._6 > 0L), "no tombstone ever traversed - filter too early?")
    val ix = Knn.v21Static(spark, sf)
    val qs = vecs.filter(_._1 < 10).sortBy(_._1)
    val recount = Knn.v21SearchOn(ix, qs).last
      .filter("node % 23 = 0").groupBy(col("qid"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("n")).toMap
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._6).distinct == Seq(recount.getOrElse(qid, 0L)))
    }
    // deleting ~4% must not crater live recall
    val recall = rows.map(_._5).sum.toDouble / rows.length
    assert(recall >= 0.8, s"live recall $recall")
  }

  test("v29: persisted index serves bitwise-identically; the committed-read gates refuse torn or tampered stores") {
    def parse(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
        r.getAs[Long]("in_exact"))).toSeq
    // the artifact boundary is semantically invisible: save → load →
    // serve equals the in-memory build's serve, bitwise
    val viaStore = parse(Knn.v29(spark, sf)).sorted
    val inMemory = parse(Knn.v21(spark, sf)).sorted
    assert(viaStore == inMemory && viaStore.nonEmpty)
    // the gates: build a store by hand and damage it per failure class
    val ix = Knn.v21Static(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_v29_spec_")
    val store = root.toString
    Knn.saveIndex(ix, store)
    def walkFiles(sub: String) = {
      val d = new java.io.File(store, sub)
      // largest first — small parts can be row-empty, and deleting
      // one of those would not drift the count the gate watches
      d.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(-_.length())
    }
    try {
      // healthy store loads and serves
      assert(Knn.loadIndex(spark, store).cents.nonEmpty)
      // junk beside the components is ignored (manifest-scoped reads)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(store, "junk.bin"), Array[Byte](1, 2, 3))
      assert(Knn.loadIndex(spark, store).cents.nonEmpty)
      // a lost graph part = count drift → a COLD process (the real
      // consumer of the gate — a fresh serving fleet bootstrapping
      // from storage) refuses to serve; clearCache() simulates the
      // cold process, since a warm one correctly keeps serving the
      // version it already loaded and cached
      val part = walkFiles("graph").head
      val bytes = java.nio.file.Files.readAllBytes(part.toPath)
      assert(part.delete())
      spark.catalog.clearCache()
      intercept[IllegalArgumentException](Knn.loadIndex(spark, store))
      java.nio.file.Files.write(part.toPath, bytes) // restore
      spark.catalog.clearCache()
      assert(Knn.loadIndex(spark, store).cents.nonEmpty)
      // a tampered manifest count → refuse
      val mf = java.nio.file.Paths.get(store, "_MANIFEST")
      val orig = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
      java.nio.file.Files.write(mf,
        orig.replaceFirst("graph \\d+", "graph 1").getBytes("UTF-8"))
      intercept[IllegalArgumentException](Knn.loadIndex(spark, store))
      java.nio.file.Files.write(mf, orig.getBytes("UTF-8"))
      // a missing manifest (torn write — marker never landed) → refuse
      java.nio.file.Files.delete(mf)
      intercept[IllegalArgumentException](Knn.loadIndex(spark, store))
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(root.toFile)
    }
  }

  test("v30: store vacuum — newest committed survives, superseded + dead torn reclaimed, in-flight publish untouched") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_v30_spec_")
    val rootP = root.toString
    def mk(name: String, committed: Boolean): Unit = {
      val d = new java.io.File(rootP, name); d.mkdirs()
      Files.write(d.toPath.resolve("part-00000.parquet"), Array[Byte](1))
      if (committed)
        Files.write(d.toPath.resolve("_MANIFEST"),
          "vectors 0".getBytes("UTF-8"))
    }
    def names() = Option(new java.io.File(rootP).listFiles())
      .getOrElse(Array.empty).map(_.getName).toSet
    try {
      // empty store: no-op
      assert(Knn.vacuumIndexStore(rootP, 1).isEmpty)
      // v1 committed, v2 torn (dead crash), v3/v4 committed,
      // v5 torn NEWER than the newest committed — under the
      // single-publisher contract that is the publish in flight
      Seq("v1" -> true, "v2" -> false, "v3" -> true, "v4" -> true,
        "v5" -> false).foreach { case (n, c) => mk(n, c) }
      val before = Knn.latestCommittedVersion(rootP)
      assert(before.contains(4))
      assert(Knn.vacuumIndexStore(rootP, keep = 2) == Seq("v1", "v2"),
        "keep=2: superseded v1 + dead torn v2 reclaimed, nothing else")
      assert(names() == Set("v3", "v4", "v5"),
        "the in-flight torn v5 must never be reclaimed (mid-publish safety)")
      assert(Knn.latestCommittedVersion(rootP) == before,
        "vacuum must be invisible to 'what do I serve'")
      assert(Knn.vacuumIndexStore(rootP, keep = 1) == Seq("v3"))
      assert(names() == Set("v4", "v5"),
        "the newest committed version survives keep=1 by construction")
      assert(Knn.vacuumIndexStore(rootP, keep = 1).isEmpty, "idempotent")
      intercept[IllegalArgumentException](Knn.vacuumIndexStore(rootP, 0))
      // an all-torn store is untouched wholesale: the only torn dir
      // may be a FIRST publish in flight
      val root2 = graft.store.Versioned.tempRoot("graft_v30_spec2_")
      val d2 = new java.io.File(root2, "v1"); d2.mkdirs()
      Files.write(d2.toPath.resolve("part-00000.parquet"), Array[Byte](1))
      assert(Knn.vacuumIndexStore(root2, 1).isEmpty && d2.exists(),
        "an all-torn store must not be vacuumed")
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(root.toFile)
    }
    // end-to-end: the full lifecycle query (publish → torn crash →
    // supersede → vacuum → committed-read bootstrap → serve) emits
    // v28's rows bitwise — retention is invisible to serving
    def parse(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
        r.getAs[Long]("in_exact"), r.getAs[Long]("n_tomb_visited"))).toSeq
    val vacuumed = parse(Knn.v30(spark, sf))
    assert(vacuumed == parse(Knn.v28(spark, sf)) && vacuumed.nonEmpty,
      "serving from the vacuumed store must equal the in-process compacted serve")
  }

  test("v31: delta segments — O(|delta|) publish bytes, zero-build assembly, torn segment skipped, kind-aware vacuum, fold serves the base bitwise") {
    val Knn = graft.operators.Knn
    import java.nio.file.Files
    def dirSize(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(dirSize).sum
      else f.length()
    def parse(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
        r.getAs[Long]("in_exact"))).toSeq
    // drive the lifecycle by hand for the structural pins
    val root = new java.io.File(graft.store.Versioned.tempRoot("graft_v31_spec_"))
    val rootP = root.getAbsolutePath
    val e = Knn.vectors(spark, sf)
    val insPred = s"vec_id >= 10 AND vec_id % ${Knn.v26ModK} = 0"
    val basePred = s"vec_id >= 10 AND vec_id % ${Knn.v26ModK} <> 0"
    val (gB, repsB, centsB) = Knn.v21Index(spark, e, basePred)
    val eBase = e.filter(s"NOT ($insPred)")
    Knn.saveIndexVersion(
      Knn.V21Static(eBase, gB, repsB.persist(), centsB), rootP)
    val ixB = Knn.V21Static(eBase, gB, repsB, centsB)
    val newQs = Knn.codebook(e, insPred)
    val ins = Knn.v21InsertEdges(ixB, newQs)
      .select(col("new_id").as("src_id"), col("nbr_id"))
    val dEdges = ins.unionByName(ins.select(col("nbr_id").as("src_id"),
      col("src_id").as("nbr_id"))).distinct().localCheckpoint()
    val dVecs = e.filter(insPred).select(col("vec_id"), col("nv"))
    // DELTA publishes perform no index build
    val b0 = Knn.indexBuilds.get()
    Knn.saveDeltaVersion(rootP,
      Map("vectors" -> dVecs, "edges" -> dEdges))
    Knn.saveDeltaVersion(rootP,
      Map("tombs" -> e.filter(insPred).select(col("vec_id"))))
    assert(Knn.indexBuilds.get() == b0, "a delta publish must not build")
    // WRITE AMPLIFICATION: each segment is a small fraction of the base
    val v1b = dirSize(new java.io.File(rootP, "v1"))
    val v2b = dirSize(new java.io.File(rootP, "v2"))
    val v3b = dirSize(new java.io.File(rootP, "v3"))
    assert(v2b * 2 < v1b && v3b * 2 < v1b,
      s"delta bytes must be O(|delta|): base=$v1b insert=$v2b tomb=$v3b")
    // COLD ASSEMBLY: zero builds, gates pass, tombstones fold, and the
    // assembled serve equals the in-memory augmented index's, bitwise
    spark.catalog.clearCache()
    val (ixL, tombs, bVer) = Knn.loadAnnStoreLsm(spark, rootP)
    assert(Knn.indexBuilds.get() == b0, "assembly must not build")
    assert(bVer == 1)
    val insIds = e.filter(insPred).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(tombs.collect().map(_.getLong(0)).toSet == insIds)
    val qs = Knn.codebook(e, "vec_id < 10")
    val viaStore = parse(Knn.v21ServeBatch(ixL, qs)).sorted
    val inMem = parse(Knn.v21ServeBatch(
      Knn.V21Static(e, gB.unionByName(dEdges), repsB, centsB), qs)).sorted
    assert(viaStore == inMem && viaStore.nonEmpty,
      "base+delta assembly must serve the augmented index bitwise")
    // a TORN delta (no manifest) is invisible to assembly
    val torn = new java.io.File(rootP, "v4"); torn.mkdirs()
    Files.write(torn.toPath.resolve("part-crash.parquet"), Array[Byte](1))
    assert(parse(Knn.v21ServeBatch(Knn.loadAnnStoreLsm(spark, rootP)._1,
      qs)).sorted == viaStore, "a torn segment must never serve")
    // kind-aware vacuum on a synthetic mixed store
    val r2 = graft.store.Versioned.tempRoot("graft_v31_spec2_")
    def mk(name: String, kind: String): Unit = {
      val d = new java.io.File(r2, name); d.mkdirs()
      Files.write(d.toPath.resolve("part-00000.parquet"), Array[Byte](1))
      if (kind != "torn")
        Files.write(d.toPath.resolve("_MANIFEST"),
          (if (kind == "delta") "kind delta\nvectors 0" else "vectors 0")
            .getBytes("UTF-8"))
    }
    Seq("v1" -> "base", "v2" -> "delta", "v3" -> "base", "v4" -> "delta",
      "v5" -> "torn").foreach { case (n, k) => mk(n, k) }
    // keepBases=2 keeps both bases and every delta above the oldest
    // kept base; the torn v5 is above the newest committed (in flight)
    assert(Knn.vacuumAnnStoreLsm(r2, keepBases = 2).isEmpty)
    // keepBases=1: the superseded base v1 and its FOLDED delta v2 go;
    // the unfolded delta v4 above the kept base v3 survives
    assert(Knn.vacuumAnnStoreLsm(r2, keepBases = 1) == Seq("v1", "v2"))
    assert(Option(new java.io.File(r2).listFiles()).get.map(_.getName)
      .toSet == Set("v3", "v4", "v5"))
    // FOLD on the real store: base ∪ inserts − tombstones, published
    // as the next base; vacuum reclaims the folded segments; the
    // vacuumed store serves the base corpus bitwise (= v31's output)
    val eFold = ixL.e.join(tombs, Seq("vec_id"), "left_anti")
    val (gF, repsF, centsF) = Knn.v21Index(spark, eFold, basePred)
    Knn.saveIndexVersion(
      Knn.V21Static(eFold, gF, repsF.persist(), centsF), rootP)
    Knn.vacuumAnnStoreLsm(rootP, keepBases = 1)
    assert(Option(new java.io.File(rootP).listFiles()).get.map(_.getName)
      .toSet == Set("v5"), "fold + vacuum must leave only the new base")
    spark.catalog.clearCache()
    val (ixS, t2, _) = Knn.loadAnnStoreLsm(spark, rootP)
    assert(t2.isEmpty)
    val folded = parse(Knn.v21ServeBatch(ixS, qs)).sorted
    assert(folded == parse(Knn.v21ServeBatch(ixB, qs)).sorted,
      "the folded store must serve the base corpus bitwise")
    // the end-to-end query runs the same story in one call, two
    // builds total (trainer + fold)
    val b1 = Knn.indexBuilds.get()
    val viaQuery = parse(Knn.v31(spark, sf)).sorted
    assert(viaQuery == folded && Knn.indexBuilds.get() == b1 + 2)
    repsB.unpersist(); repsF.unpersist()
  }

  test("v32: index-store quorum — minority poison convicted and healed from the majority, manifests equal the majority's, a tie refuses with every base untouched") {
    val Knn = graft.operators.Knn
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    def parse(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
        r.getAs[Long]("in_exact"))).toSeq
    // the query's own contract: the healed minority serves batch
    // v21's rows bitwise — poison, vote and heal invisible
    val viaQuorum = parse(Knn.v32(spark, sf)).sorted
    val batch = parse(Knn.v21(spark, sf)).sorted
    assert(viaQuorum == batch && viaQuorum.nonEmpty)
    // kernel pins on synthetic three-replica stores
    val base = new java.io.File(graft.store.Versioned.tempRoot("graft_v32spec_"))
    val roots = Seq("r1", "r2", "r3").map(nm =>
      new java.io.File(base, nm).getAbsolutePath)
    val vecs = (0L until 50L).map(i => (i, Array(i.toDouble)))
      .toDF("vec_id", "nv").localCheckpoint()
    val graph = (0L until 49L).map(i => (i, i + 1))
      .toDF("src_id", "nbr_id").localCheckpoint()
    val cents = Array((0L, Array(0.0)))
    roots.foreach { r =>
      assert(Knn.saveIndexVersion(
        Knn.V21Static(vecs, graph, vecs, cents), r) == 1)
    }
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    // SELF-CONSISTENT poison: drop a deterministic graph row and
    // rewrite the manifest count to match — the load gate passes,
    // only the cross-replica vote can see it
    def poison(root: String, dropLast: Boolean): Unit = {
      val dir = s"$root/v1/graph"
      val df = spark.read.parquet(dir)
      val victim =
        if (dropLast) df.orderBy(col("src_id").desc, col("nbr_id").desc)
          .limit(1)
        else df.orderBy(col("src_id"), col("nbr_id")).limit(1)
      val kept = df.exceptAll(victim).localCheckpoint()
      val n = kept.count()
      rm(new java.io.File(dir))
      kept.write.parquet(dir)
      val mfp = Paths.get(root, "v1", "_MANIFEST")
      val mf = new String(Files.readAllBytes(mfp), "UTF-8").split("\n")
        .map(l => if (l.startsWith("graph ")) s"graph $n" else l)
      Files.write(mfp, mf.mkString("\n").getBytes("UTF-8"))
      graft.functions.Lineage.freeCheckpoint(kept)
    }
    poison(roots(2), dropLast = true)
    // count gate still passes on the poisoned store (the point)
    spark.catalog.clearCache()
    assert(Knn.loadLatestIndex(spark, roots(2))._2 == 1)
    val healed = Knn.quorumHealAnnStore(spark, roots)
    assert(healed == Seq(roots(2)),
      s"the quorum must convict exactly the poisoned root: $healed")
    // the healed version's manifest equals the majority's VERBATIM
    val m1 = new String(Files.readAllBytes(
      Paths.get(roots(0), "v1", "_MANIFEST")), "UTF-8")
    val m3 = new String(Files.readAllBytes(
      Paths.get(roots(2), "v2", "_MANIFEST")), "UTF-8")
    assert(m3 == m1, "healed manifest must equal the majority's")
    // and its healed component digests the majority's bytes
    assert(Knn.annComponentDigest(spark, s"${roots(2)}/v2", "graph") ==
      Knn.annComponentDigest(spark, s"${roots(0)}/v1", "graph"))
    // the poisoned v1 stays for forensics (copy-on-write heal)
    assert(new java.io.File(roots(2), "v1/_MANIFEST").exists())
    // idempotence: a second pass finds unanimity, publishes nothing
    assert(Knn.quorumHealAnnStore(spark, roots).isEmpty)
    assert(Knn.latestCommittedVersion(roots(2)).contains(2))
    // THREE-WAY TIE refuses BEFORE any publish: poison r1 and r2's
    // graphs differently — no majority, nothing to heal from, every
    // root keeps serving its newest committed base
    poison(roots(0), dropLast = false)
    poison(roots(1), dropLast = true)
    val versBefore = roots.map(Knn.latestCommittedVersion(_).get)
    val ex = intercept[IllegalStateException] {
      Knn.quorumHealAnnStore(spark, roots)
    }
    assert(ex.getMessage.contains("tie"))
    assert(roots.map(Knn.latestCommittedVersion(_).get) == versBefore,
      "a tie must leave every newest committed base untouched")
  }

  test("v33: upsert serve — no deleted id serves, tombstones are traversed (dial > 0), an empty delete set collapses to v26") {
    val Knn = graft.operators.Knn
    import spark.implicits._
    val rows = Knn.v33(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
        r.getAs[Long]("in_exact"), r.getAs[Long]("n_tomb_visited")))
    assert(rows.nonEmpty)
    val delset = Knn.vectors(spark, sf).filter(Knn.v33DelPred)
      .select("vec_id").as[Long].collect().toSet
    assert(delset.nonEmpty)
    assert(rows.forall(t => !delset.contains(t._3)),
      "a deleted vector must never serve")
    // the soft-delete semantics are LIVE in the fixture: some query
    // actually traverses tombstoned nodes (the dial is the audit)
    assert(rows.exists(_._6 > 0L),
      "no query traversed a tombstone — fixture degenerate")
    // inserted vectors DO serve (the grown half is live too)
    val insset = Knn.vectors(spark, sf)
      .filter(s"vec_id >= 10 AND vec_id % ${Knn.v26ModK} = 0")
      .select("vec_id").as[Long].collect().toSet
    assert(rows.exists(t => insset.contains(t._3)),
      "no inserted vector serves — the grown half is dead")
    // composition pin: an EMPTY delete set collapses v33's serve to
    // batch v26's rows exactly (modulo the dial column, 0 everywhere)
    val (_, ixAug, _) = Knn.v26Parts(spark, sf)
    val qs = Knn.codebook(ixAug.e, "vec_id < 10")
    val empty = spark.range(0).selectExpr("id AS vec_id")
    val noDel = Knn.v27ServeExcluding(ixAug, qs, empty).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
        r.getAs[Long]("in_exact"), r.getAs[Long]("n_tomb_visited")))
      .sortBy(t => (t._1, t._2))
    val v26rows = Knn.v26(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
        r.getAs[Long]("in_exact"))).sortBy(t => (t._1, t._2))
    assert(noDel.map(t => (t._1, t._2, t._3, t._4, t._5)).toSeq ==
      v26rows.toSeq)
    assert(noDel.forall(_._6 == 0L))
  }

  test("v28: compaction rebuild — the dial reads 0 on every query, tombstones leave the index, recall holds") {
    def parse(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"),
        r.getAs[Long]("in_exact"), r.getAs[Long]("n_tomb_visited"))).toSeq
    val after = parse(Knn.v28(spark, sf))
    assert(after.nonEmpty)
    // the compaction contract: the overhead dial reads ZERO on EVERY
    // query — computed from the actual search state, not hardcoded
    assert(after.forall(_._6 == 0L), "tombstone traversed post-compaction")
    assert(after.forall(_._3 % 23 != 0), "tombstoned id in results")
    // the before/after overhead table against v27 (the dial's
    // consumer story): before the rebuild some queries PAID for
    // tombstone traversal — that is what made the compaction due
    val before = parse(Knn.v27(spark, sf))
    val dialBefore = before.groupBy(_._1).view.mapValues(_.head._6).toMap
    assert(dialBefore.values.exists(_ > 0L),
      "no pre-compaction overhead - the trigger never fires on this fixture")
    assert(dialBefore.keySet.forall(q => after.filter(_._1 == q).forall(_._6 == 0L)))
    // recall non-regression: removing tombstones from the graph must
    // not navigate worse than filtering around them
    val recAfter = after.map(_._5).sum.toDouble / after.length
    val recBefore = before.map(_._5).sum.toDouble / before.length
    assert(recAfter >= recBefore - 0.1,
      s"compacted recall $recAfter craters below filtered $recBefore")
    assert(recAfter >= 0.8, s"compacted recall $recAfter")
    // structural: the REBUILT graph itself holds no tombstoned
    // endpoint (they left the index, not just the result rows)
    val live = Knn.vectors(spark, sf)
      .filter("vec_id >= 10 AND vec_id % 23 <> 0")
    val (g, _, _) = Knn.v21Index(spark, live, "vec_id >= 10")
    val badEnds = g.filter("src_id % 23 = 0 OR nbr_id % 23 = 0").count()
    assert(badEnds == 0L, s"$badEnds tombstoned endpoints in the compacted graph")
  }

  test("d22: CDC chunking equals a sequential recompute; boundaries realign after a shift") {
    // sequential mirror of the chunker
    def chunksOf(t: String): Seq[String] = {
      val bs = (4 to t.length).filter { i =>
        (t.charAt(i - 4).toInt * 29791 + t.charAt(i - 3).toInt * 961 +
          t.charAt(i - 2).toInt * 31 + t.charAt(i - 1).toInt) % 32 == 0
      }
      val ss = 1 +: bs.map(_ + 1)
      val es = bs :+ t.length
      ss.zip(es).collect { case (s, e) if e >= s => t.substring(s - 1, e) }
    }
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "lower(trim(text)) AS t").as[(Long, String)].collect()
    val all = docs.flatMap { case (id, t) => chunksOf(t).map(c => (id, c)) }
    val nDocs = docs.length.toLong
    val nChunks = all.length.toLong
    val distinct = all.map { case (_, c) => (c.length.toLong, c) }.distinct
    val charsTotal = all.map(_._2.length.toLong).sum
    val charsDistinct = distinct.map(_._1).sum
    val got = Dedup.d22(spark, sf).collect().map(r =>
      (r.getAs[Long]("n_docs"), r.getAs[Long]("n_chunks"),
        r.getAs[Long]("n_distinct_chunks"), r.getAs[Long]("chars_total"),
        r.getAs[Long]("chars_distinct"), r.getAs[Long]("savings_permille"))).toSeq
    // the engine keys distinct chunks by (fnv64, length); the mirror
    // uses the strings themselves — equality also PROVES no digest
    // collision merged distinct chunks on this corpus
    assert(got == Seq((nDocs, nChunks, distinct.size.toLong, charsTotal,
      charsDistinct, (charsTotal - charsDistinct) * 1000 / charsTotal)))
    assert(got.head._6 > 0, "no savings - seeded duplicates missing?")
    // the content-defined property: chunks realign after an insertion
    // (fixed-size blocking would shift EVERY block after the edit)
    val t = docs.map(_._2).find(_.length > 200).get
    val shifted = "zq! " + t
    val a = chunksOf(t).toSet
    val b = chunksOf(shifted).toSet
    val shared = a.intersect(b).map(_.length.toLong).sum
    val mass = a.map(_.length.toLong).sum
    assert(shared * 10 >= mass * 8,
      s"CDC realignment failed: shared $shared of $mass")
  }

  test("v24: the OOD gate flags the far tail with strict separation at ~p95") {
    val rows = graft.operators.Knn.v24(spark, SharedSpark.sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid"),
        r.getAs[Long]("d6"), r.getAs[Long]("ood"))).toSeq
    assert(rows.nonEmpty)
    val (out, in) = rows.partition(_._4 == 1L)
    assert(out.nonEmpty && in.nonEmpty)
    // bucketed threshold ⇒ STRICT distance separation between the
    // flagged tail and everything kept
    assert(out.map(_._3).min > in.map(_._3).max,
      "a kept vector sits beyond a flagged one")
    // strictly-above-p95 ladder: at most ~5% + one bucket's mass
    assert(out.size.toLong * 1000 <= rows.size.toLong * 50 + rows.size.toLong / 10,
      s"gate flags too much: ${out.size}/${rows.size}")
    // and the gate is live: it flags SOMETHING on this corpus
    assert(out.size.toLong * 1000 >= rows.size.toLong * 20,
      s"gate inert: ${out.size}/${rows.size}")
    // assignment sanity: every cid is one of the 8 reference centroids
    assert(rows.forall(r => r._2 >= 10L && r._2 < 18L))
  }

  test("d23: winnowing equals a sequential recompute; the w+k-1 guarantee holds") {
    def fps(text: String): Set[Long] = {
      val (k, w) = (16, 4)
      if (text.length < k + w - 1) Set.empty
      else {
        val hs = (0 to text.length - k)
          .map(i => graft.functions.Fnv64.hashBytes(text.substring(i, i + k).getBytes("UTF-8")))
        (0 to hs.length - w).map(i => hs.slice(i, i + w).min).toSet
      }
    }
    // engine result == per-doc sequential winnowing + pair recount
    val docs = Tables.documents(spark, SharedSpark.sf)
      .selectExpr("doc_id", "text").as[(Long, String)].collect()
    val perDoc = docs.map { case (id, t) => id -> fps(t) }.toMap
    val df = perDoc.toSeq.flatMap { case (id, s) => s.map(f => (f, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val kept = df.filter(_._2.size <= 20)
    val pairCounts = kept.values.toSeq.flatMap { ids =>
      val s = ids.toSeq.sorted
      for (i <- s.indices; j <- (i + 1) until s.size) yield (s(i), s(j))
    }.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 3L).toSeq.map { case ((a, b), n) => (a, b, n) }.sortBy(p => (p._1, p._2))
    val got = graft.operators.Dedup.d23(spark, SharedSpark.sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("n_shared"))).toSeq
    assert(got == pairCounts && got.nonEmpty)
    // the paper's guarantee: ANY shared substring of length >= w+k-1
    // = 19 yields a shared fingerprint — seeded random trials
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      def randStr(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      val shared = randStr(19)
      val a = randStr(rnd.nextInt(40)) + shared + randStr(rnd.nextInt(40))
      val b = randStr(rnd.nextInt(40)) + shared + randStr(rnd.nextInt(40))
      assert(fps(a).intersect(fps(b)).nonEmpty,
        s"guarantee violated for shared '$shared'")
    }
    // and an 18-char share carries NO guarantee (found violable):
    // at least one trial with empty intersection outside the share
    val viol = (1 to 300).exists { i =>
      val r2 = new scala.util.Random(i)
      def rs(n: Int) = (1 to n).map(_ => ('a' + r2.nextInt(26)).toChar).mkString
      val shared = rs(18)
      val a = rs(30) + shared + rs(30)
      val b = rs(30) + shared + rs(30)
      fps(a).intersect(fps(b)).isEmpty
    }
    assert(viol, "below-threshold shares never miss - window math suspect")
  }

  test("winnowOne counts code points like Spark SQL — parity on supplementary-plane text") {
    val w = org.apache.spark.sql.expressions.Window
    val base = "the quick brown fox jumps over the lazy dog"
    // U+1F600/U+1F680 are TWO UTF-16 code units but ONE code point to
    // Spark SQL length()/substring() — the door must agree with the
    // batch formulation on exactly this class of text
    val text = base.take(10) + "\uD83D\uDE00\uD83D\uDE03" + base.drop(10) +
      " \uD83D\uDE80 rocket tail"
    val (k, win) = (16, 4)
    val byDoc = w.partitionBy($"doc_id")
    val sparkFps = Seq((1L, text)).toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "length(text) AS n")
      .filter($"n" >= k + win - 1)
      .selectExpr("doc_id", "text", s"explode(sequence(1, n - ${k - 1})) AS pos")
      .withColumn("h", graft.functions.Fnv64.fnv64(expr(s"substring(text, pos, $k)")))
      .withColumn("wmin", min($"h").over(byDoc.orderBy($"pos").rowsBetween(0, win - 1)))
      .withColumn("npos", max($"pos").over(byDoc))
      .filter($"pos" <= $"npos" - (win - 1))
      .select($"wmin").as[Long].collect().toSet
    assert(sparkFps.nonEmpty && Dedup.winnowOne(text) == sparkFps)
    // the k+w-1 length gate must count code points too: 18 emoji =
    // 36 UTF-16 units (old gate passes) but 18 code points (< 19)
    assert(Dedup.winnowOne("\uD83D\uDE00" * 18).isEmpty)
  }


  test("d24: blocked ER equals brute-force resolution; pigeonhole recall guarantee") {
    val got = Dedup.d24(spark, sf).collect()
      .map(r => (r.getAs[Long]("dirty_id"), r.getAs[Long]("matched_id"),
        r.getAs[Long]("best_dist"), r.getAs[Long]("margin"),
        r.getAs[Long]("correct"))).toSeq
    // rebuild both sides sequentially
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "substring(text, 1, 40) AS t")
      .as[(Long, String)].collect().toSeq
    val clean = docs.map { case (id, t) => id -> s"$t #$id" }.toMap
    val dirty = docs.filter(_._1 % 3 == 1).map { case (id, t) =>
      val n0 = s"$t #$id"
      val p1 = (1 + id % 7).toInt; val p2 = (9 + id % 11).toInt
      val a = n0.toCharArray
      a(p1 - 1) = (48 + (id % 10)).toChar
      a(p2 - 1) = (48 + ((id + 3) % 10)).toChar
      id -> new String(a)
    }
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(b.length)
    }
    // every dirty record surfaces, and the pigeonhole argument holds:
    // <= 2 substitutions break <= 2 of 5 disjoint tiles, so the true
    // pair always shares a block => best_dist <= 2 always
    assert(got.map(_._1) == dirty.map(_._1).sorted)
    assert(got.forall(_._3 <= 2), "pigeonhole recall violated")
    // brute-force resolution agrees on the match: any entity within
    // distance 2 shares >= 3 tiles, so blocking cannot hide a better
    // match than brute-force finds
    got.foreach { case (did, mid, bd, _, corr) =>
      val dn = dirty.toMap.apply(did)
      val (bid, bdist) = clean.toSeq.map { case (eid, en) => (eid, lev(dn, en)) }
        .minBy { case (eid, dd) => (dd, eid) }
      assert(mid == bid && bd == bdist.toLong, s"dirty $did: ($mid,$bd) vs ($bid,$bdist)")
      assert(corr == (if (mid == did) 1L else 0L))
    }
    // the seeded truth: digit typos never collide with the original
    // chars, so the true-pair distance is exactly 2 — and on this
    // fixture resolution is measured PERFECT (margin positive)
    assert(got.forall(r => r._5 == 1L && r._3 == 2L && r._4 >= 1L),
      s"mismatches: ${got.filterNot(r => r._5 == 1L && r._3 == 2L && r._4 >= 1L).take(5)}")
  }

  test("v23: label-noise audit discriminates geometric from geometry-free labels") {
    val rows = graft.operators.Knn.v23(spark, SharedSpark.sf).collect()
      .map(r => (r.getAs[String]("label_src"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("label"), r.getAs[Long]("n_nbrs"), r.getAs[Long]("n_same"),
        r.getAs[Long]("agree_permille"), r.getAs[Long]("noise_suspect"))).toSeq
    val (geo, given) = rows.partition(_._1 == "geometric")
    assert(geo.nonEmpty && given.nonEmpty)
    // both legs audit the identical node set (the same kNN graph)
    assert(geo.map(_._2).toSet == given.map(_._2).toSet)
    rows.foreach { case (_, id, _, nn, ns, ap, sus) =>
      assert(ns >= 0 && ns <= nn, s"vote count out of range at $id")
      assert(ap == ns * 1000 / nn)
      assert((sus == 1L) == (ns == 0L))
    }
    // the given labels measure ~chance for 10 balanced classes;
    // the geometric pseudo-label rides the embedding space — the
    // audit must separate them decisively
    def mean(xs: Seq[Long]): Double = xs.sum.toDouble / xs.size
    val mGiven = mean(given.map(_._6))
    val mGeo = mean(geo.map(_._6))
    assert(mGiven > 30 && mGiven < 250, s"given-label agreement $mGiven off the chance band")
    assert(mGeo > 2 * mGiven, s"audit failed to discriminate: $mGeo vs $mGiven")
    // geometry-free labels produce many zero-agreement suspects;
    // geometric labels almost none
    assert(given.count(_._7 == 1L) > 10 * math.max(1, geo.count(_._7 == 1L)) / 2)
  }
}
