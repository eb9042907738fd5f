package graft.bench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.W4hJob

/** The benchmark's input generator: deterministic per seed, readable
  * through `graft.Tables`, and a valid input for `W4hJob.run` in every
  * workload's shape (at a small size). */
class InputsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = graft.Graft.session("local[2]", 2)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def tmp(tag: String): Path = Files.createTempDirectory(s"w4hbench_$tag")

  /** A small input set: the part table and `count` blocks from `first`. */
  private def write(dir: Path, seed: Long, first: Inputs.Block, count: Int): Seq[Seq[Path]] = {
    Inputs.writePart(spark, dir.resolve("part.parquet"), seed)
    Inputs.writeEvents(spark, dir.resolve("events.parquet"), seed, first, count, files = 2)
  }

  test("one seed gives byte-identical files; another seed gives other files") {
    val b = Inputs.Block(hour0 = 240, hours = 6, perCell = 12)
    val (a, a2, c) = (tmp("a"), tmp("a2"), tmp("c"))
    write(a, 7, b, 2); write(a2, 7, b, 2); write(c, 8, b, 2)
    assert(Fs.files(a).map(a.relativize) == Fs.files(a2).map(a2.relativize))
    assert(Fs.treeDigest(a) == Fs.treeDigest(a2))
    assert(Fs.files(a).map(a.relativize) == Fs.files(c).map(c.relativize))
    Fs.files(a).zip(Fs.files(c)).foreach { case (x, y) =>
      assert(!java.util.Arrays.equals(Files.readAllBytes(x), Files.readAllBytes(y)), s"$x")
    }
  }

  test("Tables.events reads ts as TimestampType, on the cells and hours the rule says") {
    val d = tmp("ts")
    val b = Inputs.Block(hour0 = 240, hours = 6, perCell = 12)
    write(d, 3, b, 1)
    val ev = graft.Tables.events(spark, d.toString)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.count() == b.rows)
    val got = ev.selectExpr("CAST(user_id % 29 AS INT) * 72 + CAST((event_id * 7) % 72 AS INT) AS cell",
        "CAST((unix_micros(ts) - 1704067200000000) div 3600000000 AS INT) AS h")
      .distinct().collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val want = (0 until Inputs.Cells).flatMap(c => b.cellHours(c).map(c -> _)).toSet
    assert(got == want)
  }

  test("W4hJob.run completes and passes the output checks on every workload's shape") {
    for ((name, shape) <- W4hBench.shapes) {
      val small = shape.copy(perCell = math.max(1, shape.perCell / 20))
      val dir = tmp(name)
      val root = tmp(s"${name}_root")
      val windows = if (small.step > 0) 2 else 1
      val blockHours = if (small.step > 0) small.step else small.hours
      val first = Inputs.Block(hour0 = 240, hours = blockHours,
        perCell = small.perCell * blockHours / small.hours)
      val blocks = Inputs.writeEvents(spark, dir.resolve("blocks"), 5, first,
        small.hours / blockHours + windows - 1, files = 1)
      val part = Inputs.writePart(spark, dir.resolve("part"), 5)
      var mask = Set.empty[(Double, Double)]
      var prev: Expected = null
      for (w <- 0 until windows) {
        val win = blocks.slice(w, w + small.hours / blockHours)
        val in = dir.resolve(s"w$w")
        Inputs.link(in, win.flatten, part)
        if (w == 0) mask = Inputs.maskCells(spark, in)
        val hs = (0 until Inputs.Cells).map { c =>
          (0 until win.size).flatMap(i => first.copy(hour0 = first.hour0 + (w + i) * blockHours)
            .cellHours(c)).distinct.sorted.toArray
        }.toArray
        val exp = if (prev == null) Expected(hs, hs, mask) else prev.next(hs)
        val version = Checks.version(first.hour0 + w * blockHours)
        val s = W4hJob.run(spark, in.toString, root.toString, version)
        val (bad, _) = Checks.run(s, root, version, exp)
        assert(bad.isEmpty, s"$name window $w: $bad")
        prev = exp
      }
    }
  }
}
