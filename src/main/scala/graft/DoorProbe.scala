package graft

import org.apache.spark.sql.SparkSession

/** Erasure-door marginal-cost probe (diagnostic main, not part of
  * the driver contract; [[Probe]]'s sibling): builds the s39 door
  * state once, then drives [[graft.streaming.EventStreams
  * .annDeleteServe]] batch by batch and prints each batch's wall
  * time and the state's leg-build count. The round-14 claim it
  * measures: the first serve pays the one-time invariant-leg build
  * (beam search + full-corpus brute scoring), every later batch
  * pays only the delete-set anti-joins — the per-batch marginal
  * cost a 100 TB erasure feed actually experiences.
  *
  * `runMain graft.DoorProbe /root/testdata/sf0.1 4`
  */
object DoorProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]").appName("door-probe")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = args(0)
    val nb = if (args.length > 1) args(1).toInt else 4
    val t0 = System.nanoTime()
    val st = graft.streaming.EventStreams.annDeleteState(spark, dir)
    println(f"[door] state build (index + corpus count): ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val tombs = graft.operators.Knn.vectors(spark, dir)
      .filter(s"vec_id >= 10 AND vec_id % ${graft.operators.Knn.v27ModK} = 0")
      .selectExpr("vec_id").as[Long].collect().sorted.toSeq
    val slices = (0 until nb).map(i => tombs.filter(_ % nb == i))
    slices.zipWithIndex.foreach { case (ids, i) =>
      val t1 = System.nanoTime()
      val out = graft.streaming.EventStreams
        .annDeleteServe(st, ids.toDF("vec_id"))
      val rows = out.count()
      val sec = (System.nanoTime() - t1) / 1e9
      println(f"[door] batch $i: ${ids.size} erasures, $rows rows, legBuilds=${st.legBuilds}, $sec%.2f s")
    }
    // round 15: the fleet-bootstrap claim — a serving process that
    // LOADS the committed artifact vs one that re-trains in-process.
    // (clearCache so the loaded store isn't served from the trainer's
    // cached scans — the cold-start number is the honest one.)
    val root = graft.store.Versioned.tempRoot("graft_doorprobe_")
    val t2 = System.nanoTime()
    val ix0 = graft.operators.Knn.v21Static(spark, dir)
    graft.operators.Knn.saveIndexVersion(ix0, root)
    ix0.reps.unpersist()
    println(f"[door] s43 trainer: build + publish v1: ${(System.nanoTime() - t2) / 1e9}%.1f s")
    spark.catalog.clearCache()
    val t3 = System.nanoTime()
    graft.operators.Knn.indexBuilds.set(0L)
    val st2 = graft.streaming.EventStreams
      .annDeleteStateFromStore(spark, dir, root)
    println(f"[door] s43 serving bootstrap (loadIndex + corpus count): ${(System.nanoTime() - t3) / 1e9}%.1f s, indexBuilds=${graft.operators.Knn.indexBuilds.get}")
    val t4 = System.nanoTime()
    val out2 = graft.streaming.EventStreams
      .annCompactServe(st2, tombs.toDF("vec_id"))
    val rows2 = out2.count()
    println(f"[door] s43 crossing batch (compact + publish v2 + serve): $rows2 rows, indexBuilds=${graft.operators.Knn.indexBuilds.get}, version=${st2.storeVersion}, ${(System.nanoTime() - t4) / 1e9}%.1f s")
    spark.stop()
  }
}
