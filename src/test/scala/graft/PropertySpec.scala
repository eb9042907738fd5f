package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks of the deterministic primitives the oracle
  * parity rests on (raw ScalaCheck generators, fixed seeds).
  */
class PropertySpec extends AnyFunSuite {

  private def forAll[A](g: Gen[A], n: Int = 200)(f: A => Unit): Unit =
    (1 to n).foreach { i =>
      f(g.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))

  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(f: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc))(t => f(t._1, t._2, t._3))

  test("Fnv64 equals an independent reference implementation") {
    forAll(Gen.asciiPrintableStr) { s =>
      val bytes = s.getBytes("UTF-8")
      var h = java.math.BigInteger.valueOf(-3750763034362895579L) // 0xcbf29ce484222325
      val prime = java.math.BigInteger.valueOf(0x100000001b3L)
      val mask = java.math.BigInteger.ONE.shiftLeft(64).subtract(java.math.BigInteger.ONE)
      bytes.foreach { b =>
        h = h.xor(java.math.BigInteger.valueOf(b & 0xffL)).multiply(prime).and(mask)
      }
      assert(graft.functions.Fnv64.hashBytes(bytes) == h.longValue())
    }
  }

  test("NfcNormalize matches the JDK normalizer, is idempotent, and fast-paths NFC input") {
    import org.apache.spark.unsafe.types.UTF8String
    val nfc = java.text.Normalizer.Form.NFC
    // random mixes of ASCII, precomposed latin-1 accents and combining marks
    val piece = Gen.oneOf(Gen.asciiPrintableStr,
      Gen.oneOf("é", "à", "ñ", "é", "à", "ñ", "́"))
    forAll(Gen.listOf(piece).map(_.mkString)) { s =>
      val got = graft.functions.NfcNormalize.nfc(UTF8String.fromString(s)).toString
      assert(got == java.text.Normalizer.normalize(s, nfc))
      // idempotent: normalizing the output is the identity
      val u = UTF8String.fromString(got)
      assert(graft.functions.NfcNormalize.nfc(u) eq u) // fast path: SAME object back
    }
    // the canonical pairs the t31 fixture rests on
    assert(graft.functions.NfcNormalize.nfc(UTF8String.fromString("é")).toString == "é")
    assert(graft.functions.NfcNormalize.nfc(UTF8String.fromString("café")).toString == "café")
  }

  test("integerized sums are invariant under permutation") {
    forAll(Gen.listOf(Gen.chooseNum(0.0, 1e6).map(x => math.floor(x * 100) / 100))) { xs =>
      def isum(l: Seq[Double]): Long =
        l.map(x => math.floor(x * 100 + 0.5).toLong).sum
      val shuffled = new scala.util.Random(42).shuffle(xs)
      assert(isum(xs) == isum(shuffled))
    }
  }

  test("encode/decode bit-pack roundtrips for the full value domain") {
    val utciE = Gen.chooseNum(0L, 1999L)
    val wbgtE = Gen.chooseNum(0L, 1999L)
    val off = Gen.chooseNum(0L, 199L)
    forAll(utciE, wbgtE, off) { (u, w, o) =>
      val encoded = ((u * 2000 + w) * 200 + o).toInt
      assert(encoded >= 0) // fits int32
      val u2 = math.floor(encoded.toDouble / 400000.0).toLong
      val w2 = math.floor((encoded % 400000).toDouble / 200.0).toLong
      val o2 = (encoded % 200).toLong
      assert((u2, w2, o2) == ((u, w, o)))
    }
  }

  test("TopKAgg reduce/merge equals sort-take regardless of split") {
    val pairs = Gen.listOf(Gen.zip(Gen.chooseNum(-1e3, 1e3), Gen.chooseNum(0L, 1000L)))
    forAll(pairs, Gen.chooseNum(0, 20)) { (xs, cut) =>
      val agg = new graft.functions.TopKAgg(5)
      val (a, b) = xs.splitAt(math.min(cut, xs.length))
      val merged = agg.finish(agg.merge(
        a.foldLeft(agg.zero)(agg.reduce), b.foldLeft(agg.zero)(agg.reduce)))
      val expected = xs.sortBy { case (s, id) => (-s, id) }.take(5)
      assert(merged == expected)
    }
  }

  test("lshBitsFor keeps the per-table candidate budget as the corpus grows") {
    import graft.operators.Dedup.lshBitsFor
    assert(lshBitsFor(500, 16) == 5) // d8's shipped configuration
    assert(lshBitsFor(1000000000L, 16) == 26)
    forAll(Gen.choose(100L, 1000000000L), Gen.choose(4L, 1024L)) { (n, budget) =>
      val b = lshBitsFor(n, budget)
      assert(b >= 1)
      // 2^b buckets keep expected candidates per table at or under budget
      assert(n.toDouble / math.pow(2.0, b) <= budget.toDouble + 1e-9)
      // and not overly fine: half the buckets would breach the budget
      if (b > 1) assert(n.toDouble / math.pow(2.0, b - 1) > budget.toDouble)
    }
  }

  test("bandsFor places the S-curve midpoint at or tightly below the target threshold") {
    import graft.operators.Dedup.bandsFor
    forAll(Gen.choose(0.2, 0.95), Gen.choose(1, 12)) { (tau, r) =>
      val b = bandsFor(tau, r)
      assert(b >= 1)
      // midpoint (1/b)^(1/r) <= tau: pairs at tau collide in >= 50% of runs
      assert(math.pow(1.0 / b, 1.0 / r) <= tau + 1e-9)
      // and b is minimal: one fewer band would put the midpoint above tau
      if (b > 1) assert(math.pow(1.0 / (b - 1), 1.0 / r) > tau - 1e-9)
    }
    // monotone: a stricter (lower) threshold never needs fewer bands
    forAll(Gen.choose(0.3, 0.9), Gen.choose(1, 8)) { (tau, r) =>
      assert(bandsFor(tau - 0.05, r) >= bandsFor(tau, r))
    }
  }

  test("Catalog.isNewer is a strict order on (date, cycle)") {
    val dc = Gen.zip(Gen.oneOf("20240101", "20240102", "20240103"),
      Gen.oneOf("00", "06", "12", "18"))
    forAll(dc, dc) { (a, b) =>
      import graft.sources.Catalog.isNewer
      assert(!isNewer(a, Some(a)))
      if (a != b) assert(isNewer(a, Some(b)) != isNewer(b, Some(a)))
    }
  }

  test("ccStars matches union-find ground truth on seeded random graphs") {
    val spark = SharedSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    for (_ <- 1 to 3) {
      val n = 30 + rnd.nextInt(20)
      // random multigraph incl. self-loops and isolated-by-self-loop
      // nodes — the edge cases the singleton path exists for
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val (lblDf, _, conv) = graft.operators.Dedup.ccStars(
        edges.toDF("src", "dst"), 50)
      assert(conv)
      val got = lblDf.as[(Long, Long)].collect().toMap
      // driver-side union-find over the same edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val roots = nodes.groupBy(find).map { case (_, ms) => ms.min -> ms.toSet }
      val want = roots.flatMap { case (m, ms) => ms.map(_ -> m) }.toMap
      assert(got == want, s"labels diverged on $edges")
    }
  }

  test("TwoLevel.topK equals the single-window top-k on random data") {
    val spark = SharedSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, row_number}
    val rnd = new scala.util.Random(11L)
    val rows = Seq.tabulate(500)(i => (rnd.nextInt(4).toLong, i.toLong, rnd.nextInt(50)))
    val df = rows.toDF("g", "id", "s")
    val got = graft.functions.TwoLevel.topK(df, Seq(col("g")),
        Seq(col("s").desc, col("id")), col("id"), 7)
      .select("g", "rnk", "id", "s").as[(Long, Int, Long, Int)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("s").desc, col("id"))
    val want = df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 7)
      .select("g", "rnk", "id", "s").as[(Long, Int, Long, Int)].collect().toSet
    assert(got == want)
  }

  test("occupancyCap floors at the fixed cap and outruns uniform growth") {
    import graft.operators.Dedup.occupancyCap
    assert(occupancyCap(1000, 9) == 100)  // small corpus: the fixed floor
    assert(occupancyCap(51200, 9) == 800) // past the old fixed-cap cliff: scales
    // a uniform corpus (every bucket ~ n/2^w) never caps out: the cap
    // is always >= 8x the ceil'd mean occupancy
    for (n <- Seq(10000L, 100000L, 10000000L); w <- Seq(9, 10, 12, 13)) {
      val mean = (n + (1L << w) - 1) / (1L << w)
      assert(occupancyCap(n, w) >= math.max(100L, 8L * mean))
    }
  }

  test("pointer jumping resolves a pure chain in log2(depth) rounds") {
    val spark = SharedSpark.spark
    import spark.implicits._
    // a single chain 0 <- 1 <- 2 <- ... <- n: the worst case for
    // one-step walking (n rounds) and the showcase for path doubling
    val n = 200L
    val init = spark.range(0, n + 1).toDF("id")
      .selectExpr("id",
        "CASE WHEN id = 0 THEN id ELSE id - 1 END AS ptr",
        "CAST(CASE WHEN id = 0 THEN 0 ELSE 1 END AS BIGINT) AS dist")
    val budget = (math.ceil(math.log(n.toDouble) / math.log(2.0)) + 1).toInt
    val (state, rounds, conv) =
      graft.relational.Relational.pointerJump(init, budget)
    assert(conv, s"no convergence within $budget rounds")
    assert(rounds <= budget)
    val rows = state.as[(Long, Long, Long)].collect()
    assert(rows.forall { case (id, root, depth) => root == 0L && depth == id })
  }

  test("deep graphs: both iterative loops survive >=12 rounds (lineage cut)") {
    // Regression for §8.19's analyzer blow-up: with cache() instead
    // of localCheckpoint() the per-round plan doubles, and the
    // analyzer dies near round ~7-10 — neither loop below would
    // finish. Both must genuinely RUN >= 12 rounds.
    val spark = SharedSpark.spark
    import spark.implicits._
    // pointerJump: a depth-4096 chain needs ceil(log2(4096)) = 12
    // doubling rounds + 1 detection round = 13.
    val n = 4096L
    val init = spark.range(0, n + 1).toDF("id")
      .selectExpr("id",
        "CASE WHEN id = 0 THEN id ELSE id - 1 END AS ptr",
        "CAST(CASE WHEN id = 0 THEN 0 ELSE 1 END AS BIGINT) AS dist")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val (state, jRounds, jConv) =
      graft.relational.Relational.pointerJump(init, 16)
    assert(jConv, s"pointerJump no convergence in 16 rounds (ran $jRounds)")
    assert(jRounds >= 12 && jRounds <= 13, s"pointerJump ran $jRounds rounds")
    val deep = state.filter($"id" === n).as[(Long, Long, Long)].collect().head
    assert(deep == ((n, 0L, n)))
    graft.functions.Lineage.freeCheckpoint(state)
    // ccPropagate: min-label spreads ONE hop per round, so a 14-edge
    // path graph needs diameter = 14 rounds + 1 detection = 15 —
    // inside d6's 20-round budget only because lineage is cut.
    val chain = spark.range(0, 14).selectExpr("id AS src", "id + 1 AS dst")
    val (lbl, pRounds, pConv) = graft.operators.Dedup.ccPropagate(chain, 20)
    assert(pConv, s"ccPropagate no convergence in 20 rounds (ran $pRounds)")
    assert(pRounds >= 12, s"ccPropagate ran only $pRounds rounds")
    val labels = lbl.as[(Long, Long)].collect()
    assert(labels.length == 15 && labels.forall(_._2 == 0L))
    graft.functions.Lineage.freeCheckpoint(lbl)
    // BLOCKS, not just plans: Dataset.unpersist() cannot see a
    // localCheckpoint, so without Lineage.freeCheckpoint the ~28
    // rounds above would leave ~28 persisted state RDDs behind
    // (ccPropagate's cached `und` is released lazily, hence + 2 slack)
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(persistedAfter <= persistedBefore + 2,
      s"iterative rounds leaked persisted RDDs: $persistedBefore -> $persistedAfter")
  }

  test("d18 prefix filter is lossless for containment >= 0.8 (pigeonhole)") {
    // brute-force ground truth on random shingle-set universes: every
    // pair with C(A,B) >= 4/5 must share at least one shingle of A's
    // rarest-first prefix of size |A| - ceil(4|A|/5) + 1 — the exact
    // integer arithmetic d18 runs in both engines (no frequency cap
    // here: the cap is d18's separately-documented recall cut)
    val gen = for {
      n <- Gen.chooseNum(2, 10)
      sets <- Gen.listOfN(n, Gen.nonEmptyListOf(Gen.chooseNum(0, 25)).map(_.toSet))
    } yield sets
    forAll(gen, 300) { sets =>
      val freq = sets.flatten.groupBy(identity).view.mapValues(_.size).toMap
      def prefix(s: Set[Int]): Set[Int] = {
        val k = s.size - (4 * s.size + 4) / 5 + 1
        s.toSeq.sortBy(x => (freq(x), x)).take(k).toSet
      }
      for (a <- sets; b <- sets if a != b) {
        val inter = (a & b).size
        if (5 * inter >= 4 * a.size)
          assert(prefix(a).exists(b.contains),
            s"pair missed by prefix filter: A=$a B=$b")
      }
    }
  }

  test("dctPhash locality: a one-bit pixel flip moves the hash within the verify radius") {
    // the property m6's blocking RELIES on: near-identical images land
    // within hamming <= 4, so the 5-block pigeonhole guarantees their
    // candidate pair. A +-1 luminance change moves each DCT
    // coefficient by at most W(u)(x)*W(v)(y) <= 4096, far below
    // typical coefficient magnitudes — measured mean ~0.09 flipped
    // bits, worst 2, over 500 seeded trials.
    val rnd = new scala.util.Random(7)
    var total = 0
    (1 to 500).foreach { _ =>
      val px = Array.fill(64)((32 + rnd.nextInt(95)) & 127)
      val i = rnd.nextInt(64)
      val px2 = px.clone()
      px2(i) = (px2(i) ^ 1) & 127
      val ham = java.lang.Long.bitCount(
        graft.operators.Media.dctPhash(px) ^ graft.operators.Media.dctPhash(px2))
      assert(ham <= 4, s"one-pixel flip moved the hash $ham bits")
      total += ham
    }
    assert(total <= 500, s"mean locality degraded: $total flips over 500 trials")
  }

  test("hotKeyJoin: equals the plain join under seeded skew, with the straggler bounded") {
    val spark = SharedSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, max}
    // a mega-root forest: 5000 of 5100 nodes point straight at node 0
    // (the pointer-jump late-round shape); the rest at node 1
    val probe = spark.range(0, 5100).toDF("id")
      .selectExpr("id", "CASE WHEN id < 2 THEN id WHEN id < 5002 THEN 0L ELSE 1L END AS ptr")
    val build = spark.range(0, 5100).toDF("jid")
      .selectExpr("jid", "jid % 7 AS payload")
    val threshold = 200L
    val salted = graft.operators.Skew
      .hotKeyJoin(probe, build, "ptr", "jid", threshold)
      .select($"id", $"ptr", $"payload")
    val plain = probe.join(build, $"ptr" === $"jid")
      .select($"id", $"ptr", $"payload")
    assert(salted.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet)
    // straggler bound, semantically: after the hot/cold split no cold
    // key exceeds the threshold — so no shuffle task can receive more
    // than `threshold` rows of any one key
    val hot = probe.groupBy($"ptr").count().filter($"count" > threshold)
      .select($"ptr".as("_hotkey"))
    val coldMax = probe.join(broadcast(hot), $"ptr" === $"_hotkey", "left_anti")
      .groupBy($"ptr").count().agg(max($"count")).as[Long].collect().head
    assert(coldMax <= threshold, s"cold side still has a key with $coldMax rows")
    // and the hot rows meet their hop rows via BROADCAST, never a
    // shuffle of the hot key
    val planStr = salted.queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin"), s"no broadcast join in:\n$planStr")
    // the whole jump still resolves exactly on this forest
    val (state, _, conv) = graft.relational.Relational.pointerJump(
      probe.selectExpr("id", "ptr",
        "CAST(CASE WHEN id < 2 THEN 0 ELSE 1 END AS BIGINT) AS dist"),
      8, hotThreshold = threshold)
    assert(conv)
    val rows = state.as[(Long, Long, Long)].collect()
    assert(rows.length == 5100)
    assert(rows.forall { case (id, root, depth) =>
      if (id < 2) root == id && depth == 0
      else if (id < 5002) root == 0L && depth == 1
      else root == 1L && depth == 1
    })
    graft.functions.Lineage.freeCheckpoint(state)
  }

  test("Par.run: positional results, all tasks complete, first error rethrown") {
    // results are positional regardless of completion order
    val out = graft.functions.Par.run((0 until 8).map { i => () =>
      Thread.sleep((8 - i) * 10L); i * i
    })
    assert(out == (0 until 8).map(i => i * i))
    // empty and single-task fast paths run on the caller thread
    assert(graft.functions.Par.run(Seq.empty[() => Int]) == Seq.empty)
    val self = Thread.currentThread()
    assert(graft.functions.Par.run(Seq(() =>
      Thread.currentThread() eq self)) == Seq(true))
    // a failing task does not abandon its siblings (no half-landed
    // component writes) and the failure rethrows to the caller
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val err = intercept[RuntimeException] {
      graft.functions.Par.run[Unit](Seq(
        () => { Thread.sleep(5); done.incrementAndGet(); () },
        () => throw new RuntimeException("boom"),
        () => { Thread.sleep(20); done.incrementAndGet(); () }))
    }
    assert(err.getMessage == "boom")
    assert(done.get() == 2, "sibling tasks must run to completion")
    // concurrent Spark ACTIONS from Par threads produce exactly the
    // sequential results (the store-kernel overlap contract)
    val spark = SharedSpark.spark
    val sums = graft.functions.Par.run((1 to 4).map { k => () =>
      spark.range(1000L * k).selectExpr("sum(id) AS s")
        .collect()(0).getLong(0)
    })
    assert(sums == (1 to 4).map(k => (1000L * k - 1) * (1000L * k) / 2))
  }

  test("louvainStatesW: bounded-local condensed rounds equal the distributed loop bitwise") {
    // the round-18 driver-side twin (louvainRoundsLocal) must
    // reproduce the distributed move rounds' labeling exactly —
    // same kin/stay candidate set, downward filter, BIGINT gain and
    // (gain DESC, stay-first, label ASC) argmax, same zero-move
    // convergence. Weighted multigraph with ties and an isolated
    // node (stay-only candidate) to exercise the corner cases.
    val spark = SharedSpark.spark
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed.toLong)
      val n = 12 + rnd.nextInt(8)
      val und = Seq.fill(20 + rnd.nextInt(15))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
          1L + rnd.nextInt(4))).filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2), e._3))
        .groupBy(e => (e._1, e._2))
        .map { case ((a, b), xs) => (a, b, xs.map(_._3).sum) }.toSeq
      val edges = und.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
        .toDF("src", "dst", "w")
      val deg = edges.groupBy($"src".as("id"))
        .agg(org.apache.spark.sql.functions.sum($"w").as("d"))
        // isolated node n: present in init/strengths, no edges
        .unionByName(Seq((n.toLong, 0L)).toDF("id", "d"))
      val init = deg.select($"id").withColumn("lbl", $"id")
      val m = und.map(_._3).sum
      val local = graft.operators.Graph
        .louvainStatesW(init, edges, deg, m, 6, condensed = true).last
        .as[(Long, Long)].collect().toMap
      val dist = graft.operators.Graph
        .louvainStatesW(init, edges, deg, m, 6).last
        .as[(Long, Long)].collect().toMap
      assert(local == dist, s"seed $seed: local $local != distributed $dist")
      // the gate boundary: a gate EXACTLY at the larger input's row
      // count still takes the local path (≤ is inclusive); one row
      // under it falls back to the distributed loop — both bitwise
      val nInit = init.count()
      val nE = edges.count()
      val boundary = math.max(nInit, nE)
      val atGate = graft.operators.Graph
        .louvainStatesW(init, edges, deg, m, 6, condensed = true,
          localMax = boundary).last
        .as[(Long, Long)].collect().toMap
      val under = graft.operators.Graph
        .louvainStatesW(init, edges, deg, m, 6, condensed = true,
          localMax = boundary - 1).last
        .as[(Long, Long)].collect().toMap
      assert(atGate == dist && under == dist,
        s"seed $seed: gate-boundary labels diverged")
    }
  }

  test("ccStars: bounded-local star rounds equal the distributed loop, incl. the gate boundary") {
    // the round-18 driver-side twin (ccStarsLocal) must reproduce
    // the distributed alternation's labels AND round count exactly;
    // the gate is inclusive (canon edges == gate → local) and one
    // under it falls back distributed — the riskiest seam of the
    // bounded-local class, pinned on random multigraphs with
    // self-loops and duplicate edges.
    val spark = SharedSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(19L)
    for (trial <- 1 to 3) {
      val n = 20 + rnd.nextInt(15)
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val df = edges.toDF("src", "dst")
      val nCanon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(e => e._1 != e._2).distinct.size.toLong
      val (lA, rA, cA) = graft.operators.Dedup.ccStars(df, 50,
        localMax = nCanon) // local: canon set EXACTLY at the gate
      val (lB, rB, cB) = graft.operators.Dedup.ccStars(df, 50,
        localMax = nCanon - 1) // distributed: gate one under the set
      assert(cA && cB, s"trial $trial: did not converge")
      assert(rA == rB, s"trial $trial: rounds $rA != $rB")
      assert(lA.as[(Long, Long)].collect().toMap ==
        lB.as[(Long, Long)].collect().toMap,
        s"trial $trial: labels diverged on $edges")
    }
  }

  test("ccPropagate: bounded-local min-label rounds equal the distributed loop, incl. the gate boundary") {
    val spark = SharedSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(23L)
    for (trial <- 1 to 3) {
      val n = 15 + rnd.nextInt(10)
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val df = edges.toDF("src", "dst")
      val (lA, rA, cA) = graft.operators.Dedup.ccPropagate(df, 20,
        localMax = edges.size.toLong) // local: rows EXACTLY at the gate
      val (lB, rB, cB) = graft.operators.Dedup.ccPropagate(df, 20,
        localMax = -1L) // distributed, forced
      assert(cA && cB, s"trial $trial: did not converge")
      assert(rA == rB, s"trial $trial: rounds $rA != $rB")
      assert(lA.as[(Long, Long)].collect().toMap ==
        lB.as[(Long, Long)].collect().toMap,
        s"trial $trial: labels diverged on $edges")
    }
  }

  test("e19Stationary: gated local power iteration equals the distributed round loop bitwise") {
    val spark = SharedSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(29L)
    val types = Seq("view", "click", "purchase", "signup", "error")
    for (trial <- 1 to 3) {
      val rows = Seq.fill(12 + rnd.nextInt(10))(
        (types(rnd.nextInt(types.length)), types(rnd.nextInt(types.length)),
          1L + rnd.nextInt(9)))
        .groupBy(r => (r._1, r._2))
        .map { case ((p, e), xs) => (p, e, xs.map(_._3).sum) }.toSeq
      val counts = rows.toDF("prev_type", "event_type", "n")
      def rows3(df: org.apache.spark.sql.DataFrame) =
        df.as[(String, Long, Long)].collect().toSeq
      val local = rows3(graft.operators.EventWindows.e19Stationary(counts))
      val dist = rows3(graft.operators.EventWindows
        .e19Stationary(counts, localMax = -1L))
      assert(local == dist, s"trial $trial: $local != $dist")
      // boundary: a gate exactly at the matrix row count stays local
      val atGate = rows3(graft.operators.EventWindows
        .e19Stationary(counts, localMax = rows.size.toLong))
      assert(atGate == dist, s"trial $trial: boundary diverged")
    }
  }

  test("e20Attr: gated local absorbing-chain solve equals the distributed round loop bitwise") {
    val spark = SharedSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{sum => fsum}
    val rnd = new scala.util.Random(31L)
    val chans = Seq("click", "view")
    val states = "START" +: chans :+ "purchase"
    for (trial <- 1 to 3) {
      // random journey counts with a guaranteed conversion path so
      // p_full > 0 (the RE division is shared code either way)
      val base = (Seq(("START", "click", 3L), ("click", "purchase", 2L)) ++
        Seq.fill(10 + rnd.nextInt(8))(
          (states(rnd.nextInt(states.length - 1)),
            (chans :+ "purchase" :+ "NULL")(rnd.nextInt(chans.length + 2)),
            1L + rnd.nextInt(5))))
        .groupBy(r => (r._1, r._2))
        .map { case ((s, t), xs) => (s, t, xs.map(_._3).sum) }.toSeq
        .toDF("s", "t", "n")
      val scens = ("none" +: chans).toDF("scen")
      val m = base.crossJoin(scens)
        .selectExpr("scen", "s",
          "CASE WHEN t = scen THEN 'NULL' ELSE t END AS t", "n")
        .groupBy($"scen", $"s", $"t").agg(fsum($"n").as("n"))
        .withColumn("rowsum", fsum($"n").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"scen", $"s")))
        .localCheckpoint()
      def rows5(df: org.apache.spark.sql.DataFrame) =
        df.as[(String, Long, Long, Long, Long)].collect().toSeq
      val local = rows5(graft.operators.EventWindows.e20Attr(m, scens))
      val dist = rows5(graft.operators.EventWindows
        .e20Attr(m, scens, localMax = -1L))
      assert(local == dist, s"trial $trial: $local != $dist")
    }
  }

  test("g26RankLoop: gated local integer power method equals the distributed loop bitwise") {
    val spark = SharedSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(37L)
    for (trial <- 1 to 3) {
      val nc = 6L + rnd.nextInt(6)
      val comms = (0L until nc).toDF("id")
      // condensed community graph: directed-both-ways weights + a
      // self-loop row, exactly the g26 shape
      val undE = Seq.fill(8 + rnd.nextInt(8))(
        (rnd.nextInt(nc.toInt).toLong, rnd.nextInt(nc.toInt).toLong,
          1L + rnd.nextInt(5))).filter(e => e._1 != e._2)
        .groupBy(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .map { case ((a, b), xs) => (a, b, xs.map(_._3).sum) }.toSeq
      val edges = (undE.map { case (a, b, w) => (a, b, w) } ++
        undE.map { case (a, b, w) => (b, a, w) } ++
        Seq((0L, 0L, 2L))).toDF("src", "dst", "w")
      val base = 100L + rnd.nextInt(50)
      def ranks(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long)].collect().toMap
      val local = ranks(graft.operators.Graph
        .g26RankLoop(comms, edges, nc, base))
      val dist = ranks(graft.operators.Graph
        .g26RankLoop(comms, edges, nc, base, localMax = -1L))
      assert(local == dist, s"trial $trial: $local != $dist")
    }
  }

  test("v21SearchOn: driver-local hop loop equals the distributed loop bitwise, incl. gate fallbacks") {
    // the round-19 driver-side twin of the serving kernel: every
    // hop state (qid, node, score, exp) must match the distributed
    // loop's exactly — same seeds, same (score DESC, node) frontier
    // ordering under Spark's double semantics, same distinct +
    // anti-visited candidate set, same cosQ scores (both paths score
    // on executors through the same `score` helper). Also pins the
    // two fallback seams: a gate the seed collect itself trips
    // (immediate distributed restart) and a gate that passes seeds
    // but trips mid-loop (hop-boundary restart).
    val spark = SharedSpark.spark
    import spark.implicits._
    import graft.operators.Knn
    val ix = Knn.v21Static(spark, SharedSpark.sf)
    val qs = Knn.codebook(ix.e, "vec_id < 10")
    def rows(states: Seq[org.apache.spark.sql.DataFrame]) =
      states.map(_.as[(Long, Long, Double, Int)].collect().sorted.toSeq)
    val loc = rows(Knn.v21SearchOn(ix, qs, keepAll = true))
    val dist = rows(Knn.v21SearchOn(ix, qs, keepAll = true, localMax = 0L))
    assert(loc.size == dist.size, s"state counts ${loc.size} != ${dist.size}")
    loc.zip(dist).zipWithIndex.foreach { case ((l, d), i) =>
      assert(l == d, s"hop $i diverged: local ${l.take(5)}… vs dist ${d.take(5)}…")
    }
    // non-vacuity: the default-gate run must actually take the local
    // path — its states are LocalRelations, not checkpointed RDD scans
    val lastPlan = Knn.v21SearchOn(ix, qs).last
      .queryExecution.executedPlan.toString
    assert(lastPlan.contains("LocalTableScan") &&
      !lastPlan.contains("Scan ExistingRDD"),
      s"default gate did not take the local path:\n$lastPlan")
    // fallback seams: seeds trip (gate 1) and mid-loop trip (gate at
    // the exact seed row count — hop-1 raw candidates exceed it)
    val seedN = dist.head.size.toLong
    Seq(1L, seedN).foreach { g =>
      assert(rows(Knn.v21SearchOn(ix, qs, keepAll = true, localMax = g)) == dist,
        s"gate $g fallback diverged from the distributed loop")
    }
  }

  test("Par.run: the lowest-index failure rethrows with siblings suppressed") {
    // positionally deterministic error surfacing: task 2's failure
    // COMPLETES first, but task 1's (lower index) must be the one
    // rethrown, with task 2's attached as suppressed
    val err = intercept[RuntimeException] {
      graft.functions.Par.run[Unit](Seq(
        () => Thread.sleep(30),
        () => { Thread.sleep(60); throw new RuntimeException("late-low-index") },
        () => throw new RuntimeException("early-high-index")))
    }
    assert(err.getMessage == "late-low-index")
    assert(err.getSuppressed.map(_.getMessage).toSeq ==
      Seq("early-high-index"))
  }
}
