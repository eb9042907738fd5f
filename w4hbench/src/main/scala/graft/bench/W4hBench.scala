package graft.bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.functions.ThermalChain
import graft.pipeline.W4hJob

/** Closed-loop benchmark of `W4hJob.run` at `local[4]`: each run starts
  * after the previous one returns, as the job's status lock enforces.
  *
  * {{{
  * W4hBench --workload cycle|dense --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Set-up generates the workload's inputs three times from the seed
  * (the copies must be byte-identical; set-up time counts their median)
  * and makes the process's first run. For `cycle` that cold run also
  * brings the store to steady state: with one run per day every later
  * run merges over a full previous day. With `--trace 0` the loop then
  * times untraced runs for S seconds (at least [[MinRuns]]) and prints
  * the end-to-end metrics, means per run; with `--trace 1` it pairs
  * each untraced run with [[TracedJob]] on the same input and state,
  * checks the two publish identical outputs, and prints the per-layer
  * metrics, medians per traced run. Every run's outputs are checked. A
  * diagnostics line precedes the result, which is the last stdout line.
  */
object W4hBench {
  /** Window length, events per cell in it, the cycle step (0: cold
    * store every run) and the number of files each event block has. */
  case class Shape(hours: Int, perCell: Int, step: Int, files: Int)

  val shapes: Map[String, Shape] = Map(
    // the production path: each run merges a fresh 48-h window, one
    // event per cell-hour, over the store the previous run published a
    // day earlier (24 h of it survive the cutoff, 24 h are overwritten)
    "cycle" -> Shape(hours = 48, perCell = 48, step = 24, files = 1),
    // cold store, 6 h at 160 events per cell-hour (2M events): the
    // thermal chain dominates; no merge, 4 charts, short documents
    "dense" -> Shape(hours = 6, perCell = 6 * 160, step = 0, files = 4))

  val Cores = 4
  val SetupReps = 3
  val MinRuns = 2

  case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val shape = shapes.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}; one of ${shapes.keys.mkString(", ")}"))
    val spark = graft.Graft.session(s"local[$Cores]", Cores)
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = new Bench(spark, listener, o, shape).execute()
      println(result.s)
    } finally spark.stop()
  }
}

/** One untraced run's measurements. */
case class Sample(wallS: Double, docsReadyS: Double, cpuS: Double, gcS: Double,
    jitMs: Double, codegenMs: Double, docsBytes: Long, storeBytes: Long, jobs: Long)

/** One run: input dir, work root, source version and expected outputs. */
case class Run(dir: Path, root: Path, version: String, exp: Expected)

class Bench(spark: SparkSession, listener: EngineListener, o: W4hBench.Opts,
    shape: W4hBench.Shape) {
  import W4hBench._

  private val hour0 = 24 * (7 + Math.floorMod(o.seed, 97L).toInt)
  private val cycle = shape.step > 0
  private val work = o.work
  private var attempted = 0
  private var failed = 0
  private val problems = mutable.ArrayBuffer.empty[String]

  private def problem(p: String): Unit = {
    if (problems.size < 20) problems += p
    System.err.println(s"[w4hbench] $p")
  }

  // ---- inputs ------------------------------------------------------

  /** Cycle blocks are one step long, shared by consecutive windows;
    * a cold workload is one block. */
  private def block(j: Int): Inputs.Block =
    if (cycle) Inputs.Block(hour0 + shape.step * j, shape.step, shape.perCell * shape.step / shape.hours)
    else Inputs.Block(hour0, shape.hours, shape.perCell)
  private val blocksPerWindow = if (cycle) shape.hours / shape.step else 1

  private var gen: Path = _
  private val blockFiles = mutable.Map.empty[Int, Seq[Path]]
  private var partFiles: Seq[Path] = Nil
  private var mask: Set[(Double, Double)] = Set.empty

  private def writeBlocks(into: Path, j: Int, count: Int): Seq[Seq[Path]] =
    Inputs.writeEvents(spark, into.resolve("blocks"), o.seed, block(j), count, shape.files)

  /** The process's input set: the part table and the first window's
    * blocks. */
  private def generate(into: Path): (Seq[Path], Seq[Seq[Path]]) =
    (Inputs.writePart(spark, into.resolve("part"), o.seed), writeBlocks(into, 0, blocksPerWindow))

  private def windowDir(w: Int): Path = {
    val d = work.resolve("windows").resolve(s"w$w")
    if (!Files.exists(d)) {
      val evs = (w until w + blocksPerWindow).flatMap { j =>
        blockFiles.getOrElseUpdate(j, writeBlocks(gen, j, 1).head)
      }
      Inputs.link(d, evs, partFiles)
    }
    d
  }

  private def hoursOf(w: Int): Array[Array[Int]] =
    (0 until Inputs.Cells).map { c =>
      (w until w + blocksPerWindow).iterator.flatMap(block(_).cellHours(c)).toArray.distinct.sorted
    }.toArray

  // ---- the feed of runs ---------------------------------------------

  private var window = 0
  private var lastExp: Expected = _
  private val state = work.resolve("state")
  private var runId = 0

  /** The next run (untimed preparation). Cold workloads start from an
    * empty work root every run; cycle runs advance the window over the
    * store the previous run published. */
  private def next(): Run = {
    runId += 1
    if (cycle) {
      val hs = hoursOf(window)
      val exp = if (lastExp == null) Expected(hs, hs, mask) else lastExp.next(hs)
      Run(windowDir(window), state, Checks.version(block(window).hour0), exp)
    } else {
      if (lastExp == null) lastExp = Expected(hoursOf(0), hoursOf(0), mask)
      Run(windowDir(0), work.resolve("roots").resolve(s"r$runId"), Checks.version(hour0), lastExp)
    }
  }

  /** A copy of `r` on a second work root holding the same state. */
  private def fork(r: Run): Run = {
    val to = work.resolve("roots").resolve(s"twin$runId")
    Fs.rm(to)
    Files.createDirectories(to)
    Fs.copy(r.root, to)
    r.copy(root = to)
  }

  /** Retire a finished run: cycle advances the window and keeps only the
    * store and status; cold runs drop their whole root. */
  private def retire(r: Run): Unit = {
    if (cycle) {
      lastExp = r.exp
      Fs.rm(work.resolve("windows").resolve(s"w$window"))
      blockFiles.remove(window).foreach(_.foreach(Files.deleteIfExists))
      window += 1
      Seq("uploads", "charts", "charts_png").foreach(d => Fs.rm(r.root.resolve(d)))
      new graft.sources.ForecastStore(r.root.resolve("forecasts").toString).vacuum(1)
    } else Fs.rm(r.root)
  }

  // ---- one run ----------------------------------------------------------

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.toArray
    .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Watches the job's stdout for the upload timer line. */
  private class LineWatch(marker: String) extends java.io.OutputStream {
    private val line = new java.io.ByteArrayOutputStream()
    @volatile var seenAt: Long = -1L
    override def write(b: Int): Unit =
      if (b == '\n') {
        if (seenAt < 0 && line.toString("UTF-8").startsWith(marker)) seenAt = System.nanoTime()
        line.reset()
      } else line.write(b)
  }

  /** Runs `W4hJob.run` untraced and checks it. Returns the sample and
    * the outputs, or None when the run failed. */
  private def timed(r: Run): Option[(Sample, Outputs)] = {
    System.gc()
    listener.reset(spark)
    attempted += 1
    val watch = new LineWatch("TIMER: uploaded forecast documents")
    val (gc0, jit0, cg0, cpu0) = (gcMs, jitMs, CodeGenerator.compileTime, os.getProcessCpuTime)
    val t0 = System.nanoTime()
    val res = scala.util.Try(Console.withOut(new java.io.PrintStream(watch, true)) {
      W4hJob.run(spark, r.dir.toString, r.root.toString, r.version)
    })
    val t1 = System.nanoTime()
    val (gc1, jit1, cg1, cpu1) = (gcMs, jitMs, CodeGenerator.compileTime, os.getProcessCpuTime)
    val jobs = listener.snapshot(spark).values.map(_.jobs).sum
    res match {
      case scala.util.Failure(e) =>
        failed += 1; problem(s"${r.version}: ${e.getMessage}"); None
      case scala.util.Success(summary) =>
        val (bad, out) = Checks.run(summary, r.root, r.version, r.exp)
        val missing = if (watch.seenAt < 0) Seq("no 'uploaded forecast documents' timer line") else Nil
        if (bad.nonEmpty || missing.nonEmpty) {
          failed += 1; (bad ++ missing).foreach(b => problem(s"${r.version}: $b")); None
        } else Some(Sample((t1 - t0) / 1e9, (watch.seenAt - t0) / 1e9, (cpu1 - cpu0) / 1e9,
          (gc1 - gc0) / 1e3, (jit1 - jit0).toDouble, (cg1 - cg0) / 1e6,
          out.docsBytes, out.storeBytes, jobs) -> out)
    }
  }

  // ---- set-up -------------------------------------------------------------

  private val t0Process = ManagementFactory.getRuntimeMXBean.getStartTime
  private val setup = mutable.LinkedHashMap.empty[String, Any]
  private var first: Sample = _
  private var firstDigest: String = _

  /** Generates the inputs [[W4hBench.SetupReps]] times (their median is
    * what set-up time counts), checks the copies agree byte for byte,
    * then makes the first run. Returns set-up seconds: process start to
    * the first measured run, with the median generation in place of
    * the three. */
  private def setUp(): Double = {
    Fs.rm(work)
    Files.createDirectories(work)
    val gens = (0 until SetupReps).map { i =>
      val t = System.nanoTime()
      val files = generate(work.resolve(s"gen$i"))
      ((System.nanoTime() - t) / 1e9, files)
    }
    val genS = gens.map(_._1)
    val digests = (0 until SetupReps).map(i => Fs.treeDigest(work.resolve(s"gen$i")))
    if (digests.distinct.size != 1) problem(s"inputs differ between generations of one seed: $digests")
    (1 until SetupReps).foreach(i => Fs.rm(work.resolve(s"gen$i")))
    gen = work.resolve("gen0")
    partFiles = gens.head._2._1
    gens.head._2._2.zipWithIndex.foreach { case (fs, j) => blockFiles(j) = fs }
    mask = Inputs.maskCells(spark, windowDir(0))

    val r0 = next()
    timed(r0).foreach { case (s, out) => first = s; firstDigest = out.docsDigest }
    retire(r0)
    val elapsed = (System.currentTimeMillis() - t0Process) / 1e3
    val med = Stats.median(genS)
    setup ++= Seq("gen_s" -> genS, "first_run_s" -> Option(first).map(_.wallS).getOrElse(-1.0),
      "process_to_measure_s" -> elapsed)
    elapsed - genS.sum + med
  }

  // ---- measurement --------------------------------------------------------

  private def loopDone(t0: Long, runs: Int): Boolean =
    (System.nanoTime() - t0) / 1e9 >= o.seconds && runs >= MinRuns

  def execute(): Json.Raw = {
    val setupS = setUp()
    if (o.trace) traced(setupS) else untraced(setupS)
  }

  private def untraced(setupS: Double): Json.Raw = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    var runs = 0
    while (!loopDone(t0, runs)) {
      val r = next()
      timed(r).foreach { case (s, out) =>
        samples += s
        if (!cycle && out.docsDigest != firstDigest) problem("a repeated run gave other documents")
      }
      retire(r)
      runs += 1
    }
    val rssMb = Stats.vmHwmKb() / 1024.0
    def mean(f: Sample => Double) = Stats.mean(samples.map(f).toSeq)
    val metrics = if (samples.isEmpty || first == null) Seq.empty else Seq(
      ("first_run_s", first.wallS, "s"),
      ("run_s", mean(_.wallS), "s"),
      ("docs_ready_s", mean(_.docsReadyS), "s"),
      ("cpu_s", mean(_.cpuS), "s"),
      ("peak_rss_mb", rssMb, "MB"),
      ("docs_mb", mean(_.docsBytes / 1e6), "MB"),
      ("store_mb", mean(_.storeBytes / 1e6), "MB"),
      ("setup_s", setupS, "s"))
    println(Json.obj("diag" -> Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "measured_runs" -> samples.size,
      "setup" -> Json.obj(setup.toSeq: _*),
      "first_run" -> Option(first).map(sampleJson).getOrElse(Json.Raw("null")),
      "runs" -> Json.obj(Seq[(String, Sample => Double)](
        "wall_s" -> (_.wallS), "docs_ready_s" -> (_.docsReadyS), "cpu_s" -> (_.cpuS),
        "jvm.gc_s" -> (_.gcS), "jvm.jit_ms" -> (_.jitMs), "codegen.compile_ms" -> (_.codegenMs),
        "spark_jobs" -> (_.jobs.toDouble)).map { case (k, f) =>
        val xs = samples.map(f).toSeq
        k -> Json.obj("samples" -> xs, "mean" -> Stats.mean(xs), "median" -> Stats.median(xs))
      }: _*),
      "problems" -> problems.toSeq)).s)
    result(metrics)
  }

  private def sampleJson(s: Sample): Json.Raw = Json.obj("wall_s" -> s.wallS,
    "docs_ready_s" -> s.docsReadyS, "cpu_s" -> s.cpuS, "jvm.gc_s" -> s.gcS,
    "jvm.jit_ms" -> s.jitMs, "codegen.compile_ms" -> s.codegenMs, "spark_jobs" -> s.jobs)

  private def result(metrics: Seq[(String, Double, String)]): Json.Raw = {
    val ok = failed == 0 && problems.isEmpty && metrics.nonEmpty
    Json.obj("correct" -> ok, "attempted" -> math.max(attempted, 1), "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> v, "unit" -> u)
      }: _*))
  }

  // ---- traced runs ----------------------------------------------------------

  /** Layers whose output column ends a `ThermalChain.df` prefix probe. */
  private val prefixes = Seq("solar" -> "avg_cza", "erbs" -> "dni", "mrt" -> "mrt_k",
    "utci" -> "utci_c", "wbgt" -> "wbgt_c", "encode" -> "encoded")

  private def traced(setupS: Double): Json.Raw = {
    val per = mutable.ArrayBuffer.empty[Map[String, Double]]
    val untracedWall = mutable.ArrayBuffer.empty[Double]
    val tracedWall = mutable.ArrayBuffer.empty[Double]
    val spanRuns = mutable.ArrayBuffer.empty[Json.Raw]
    var probe = Map.empty[String, Double]
    val t0 = System.nanoTime()
    var runs = 0
    while (!loopDone(t0, runs)) {
      val r = next()
      val twin = fork(r)
      if (runs == 0) probe = prefixProbe(r)
      val prevRows = new graft.sources.ForecastStore(twin.root.resolve("forecasts").toString)
        .load(spark).map(_.filter(s"aoff >= ${r.exp.cutoff}").count()).getOrElse(0L)
      // alternate which of the pair runs first, so neither always runs
      // on the more warmed-up JVM
      def untracedRun() = {
        val a = timed(r)
        a.foreach(x => untracedWall += x._1.wallS)
        a
      }
      val spans = new Spans(spark)
      def tracedRun() = {
        System.gc()
        listener.reset(spark)
        attempted += 1
        val (gc0, jit0, cg0) = (gcMs, jitMs, CodeGenerator.compileTime)
        val tt = System.nanoTime()
        val res = scala.util.Try(TracedJob.run(spark, twin.dir.toString, twin.root.toString,
          twin.version, spans))
        val wall = (System.nanoTime() - tt) / 1e9
        val jvm = Map("jvm.gc_s" -> (gcMs - gc0) / 1e3, "jvm.jit_ms" -> (jitMs - jit0).toDouble,
          "codegen.compile_ms" -> (CodeGenerator.compileTime - cg0) / 1e6)
        (res, wall, jvm, listener.snapshot(spark))
      }
      val (a, (res, wall, jvm, engine)) =
        if (runs % 2 == 0) { val a = untracedRun(); (a, tracedRun()) }
        else { val t = tracedRun(); (untracedRun(), t) }
      res match {
        case scala.util.Failure(e) => failed += 1; problem(s"traced ${r.version}: ${e.getMessage}")
        case scala.util.Success((summary, counts)) =>
          val (bad, _) = Checks.run(summary, twin.root, twin.version, twin.exp)
          val same = a.isDefined &&
            Checks.published(spark, r.root, r.version) == Checks.published(spark, twin.root, twin.version)
          if (bad.nonEmpty || !same) {
            failed += 1
            bad.foreach(b => problem(s"traced ${r.version}: $b"))
            if (!same) problem(s"traced ${r.version}: outputs differ from W4hJob.run's")
          } else {
            tracedWall += wall
            spanRuns += Json.obj(spans.selfSeconds.toSeq.sortBy(_._1): _*)
            per += layerMetrics(spans.selfSeconds, engine, summary, counts, prevRows, wall) ++ jvm
          }
      }
      Fs.rm(twin.root)
      retire(r)
      runs += 1
    }
    val metrics = if (per.isEmpty) Seq.empty else {
      val keys = per.head.keys.toSeq.sorted
      val med = keys.map(k => k -> Stats.median(per.map(_(k)).toSeq)).toMap ++ probe ++ Map(
        "trace.overhead_pct" -> (Stats.median(tracedWall.toSeq) / Stats.median(untracedWall.toSeq) - 1) * 100)
      Layers.all.map { case (n, u) => (n, med.getOrElse(n, Double.NaN), u) }
    }
    println(Json.obj("diag" -> Json.obj("workload" -> o.workload, "seed" -> o.seed,
      "traced_runs" -> per.size, "setup_s" -> setupS,
      "traced_wall_s" -> tracedWall.toSeq, "untraced_wall_s" -> untracedWall.toSeq,
      "span_self_s" -> spanRuns.toSeq,
      "problems" -> problems.toSeq)).s)
    if (metrics.exists(_._2.isNaN)) problem(s"missing layer metrics ${metrics.filter(_._2.isNaN).map(_._1)}")
    result(metrics.filterNot(_._2.isNaN))
  }

  /** Rows per second of `ThermalChain.df` cut after each named layer,
    * every column computed (a no-op sink consumes the whole row). */
  private def prefixProbe(r: Run): Map[String, Double] = {
    val rowsIn = (0 until blocksPerWindow).map(j => block(window + j).rows).sum
    prefixes.map { case (name, col) =>
      val through = ThermalChain.layers.indexWhere(_.exists(_._1 == col)) + 1
      val t = System.nanoTime()
      ThermalChain.df(spark, r.dir.toString, through)
        .write.format("noop").mode("overwrite").save()
      s"thermal.$name.rows_per_s" -> rowsIn / ((System.nanoTime() - t) / 1e9)
    }.toMap
  }

  private def layerMetrics(self: Map[String, Double], engine: Map[String, Engine],
      summary: W4hJob.Summary, c: TracedJob.Counts, prevRows: Long, wall: Double): Map[String, Double] = {
    val s = (n: String) => self.getOrElse(n, 0.0)
    val rowsIn = (0 until blocksPerWindow).map(j => block(window + j).rows).sum.toDouble
    val total = engine.values.foldLeft(Engine())(_ + _)
    val spanEngine = Spans.names.flatMap { n =>
      val e = engine.getOrElse(n, Engine())
      Seq(s"$n.jobs" -> e.jobs.toDouble, s"$n.tasks" -> e.tasks.toDouble,
        s"$n.executor_s" -> e.executorMs / 1e3, s"$n.shuffle_mb" -> e.shuffleBytes / 1e6)
    }
    Map(
      "thermal.s" -> s("thermal"), "thermal.rows_in" -> rowsIn,
      "thermal.rows_per_s" -> rowsIn / s("thermal"), "thermal.cells_out" -> c.thermalCells.toDouble,
      "anchor.s" -> s("anchor"), "merge.s" -> s("merge"),
      "merge.prev_rows" -> prevRows.toDouble, "merge.rows_out" -> c.mergedRows.toDouble,
      "store.save_s" -> s("store.save"), "store.files" -> c.storeFiles.toDouble,
      "store.mb" -> c.storeBytes / 1e6,
      "upload.s" -> s("upload"), "upload.docs" -> summary.uploadedDocs.toDouble,
      "upload.files" -> c.uploadFiles.toDouble, "upload.attempts" -> c.uploadAttempts.toDouble,
      "upload.ok_ratio" -> (if (c.uploadAttempts == 0) 0.0 else c.uploadFiles.toDouble / c.uploadAttempts),
      "charts.daily_s" -> s("charts.daily"), "charts.render_s" -> s("charts.render"),
      "charts.pngs" -> c.pngs.toDouble,
      "charts.ms_per_png" -> (if (c.pngs == 0) 0.0 else s("charts.render") * 1e3 / c.pngs),
      "status.s" -> s("status"), "status.writes" -> c.statusWrites.toDouble,
      "spark.jobs" -> total.jobs.toDouble, "spark.stages" -> total.stages.toDouble,
      "spark.tasks" -> total.tasks.toDouble, "spark.executor_s" -> total.executorMs / 1e3,
      "spark.shuffle_write_mb" -> total.shuffleBytes / 1e6, "spark.spill_mb" -> total.spillBytes / 1e6,
      "spark.busy_ratio" -> total.executorMs / 1e3 / (wall * Cores)) ++ spanEngine
  }
}

/** Per-layer metric names and units, as `BENCHMARK.json` lists them. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "thermal.s" -> "s", "thermal.rows_in" -> "count", "thermal.rows_per_s" -> "1/s",
    "thermal.cells_out" -> "count") ++
    Seq("solar", "erbs", "mrt", "utci", "wbgt", "encode").map(n => s"thermal.$n.rows_per_s" -> "1/s") ++
    Seq("anchor.s" -> "s", "merge.s" -> "s", "merge.prev_rows" -> "count", "merge.rows_out" -> "count",
      "store.save_s" -> "s", "store.files" -> "count", "store.mb" -> "MB",
      "upload.s" -> "s", "upload.docs" -> "count", "upload.files" -> "count",
      "upload.attempts" -> "count", "upload.ok_ratio" -> "ratio",
      "charts.daily_s" -> "s", "charts.render_s" -> "s", "charts.pngs" -> "count",
      "charts.ms_per_png" -> "ms", "status.s" -> "s", "status.writes" -> "count") ++
    Spans.names.flatMap(n => Seq(s"$n.jobs" -> "count", s"$n.tasks" -> "count",
      s"$n.executor_s" -> "s", s"$n.shuffle_mb" -> "MB")) ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.executor_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
      "spark.busy_ratio" -> "ratio", "jvm.gc_s" -> "s", "jvm.jit_ms" -> "ms",
      "codegen.compile_ms" -> "ms", "trace.overhead_pct" -> "%")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** The process's peak resident set (VmHWM), in kB. */
  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}

/** Minimal JSON writer for the result and diagnostics lines. */
object Json {
  case class Raw(s: String)
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => value(other.toString)
  }
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}"))
}
