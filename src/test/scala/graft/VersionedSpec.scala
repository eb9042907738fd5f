package graft

import java.io.{IOException, OutputStream}
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ForecastStore
import graft.store.Versioned

/** A FileSystem that fails the `failAt`-th create, rename or delete
  * issued through it (0 = never). With `tornStream`, every stream it
  * creates fails after its first byte instead. */
class FaultFs(inner: FileSystem) extends FilterFileSystem(inner) {
  var failAt = 0
  var tornStream = false
  var ops = 0

  private def tick(op: String, p: Path): Unit = {
    ops += 1
    if (ops == failAt) throw new IOException(s"injected fault: $op $p")
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    tick("create", f)
    val out = super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
    if (!tornStream) out
    else new FSDataOutputStream(new OutputStream {
      override def write(b: Int): Unit = throw new IOException("injected torn write")
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        if (len > 0) { out.write(b, off, 1); out.hflush() }
        throw new IOException("injected torn write")
      }
      override def close(): Unit = out.close()
    }, null)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    tick("rename", src); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    tick("delete", f); super.delete(f, recursive)
  }
}

class VersionedSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private sealed trait Fault
  private case class NthOp(n: Int) extends Fault
  private case object TornManifest extends Fault
  private case object DataWrite extends Fault

  /** Every fault case of an operation that issues `ops` store
    * operations: each one failing in turn, a manifest stream torn
    * after its first byte and, with `data`, its data write failing. */
  private def faults(ops: Int, data: Boolean): Seq[Fault] =
    (1 to ops).map(NthOp) ++ Seq(TornManifest) ++ (if (data) Seq(DataWrite) else Nil)

  private def faultStore(): (Versioned, FaultFs) = {
    val raw = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .getRawFileSystem
    val fs = new FaultFs(raw)
    (new Versioned(Versioned.tempRoot("graft_crash_"), fs), fs)
  }

  /** Runs `act` with `fault` armed; its failure is the simulated crash. */
  private def crashing(fs: FaultFs, fault: Fault)(act: => Unit): Unit = {
    fs.ops = 0
    fault match {
      case NthOp(n) => fs.failAt = n
      case TornManifest => fs.tornStream = true
      case DataWrite =>
    }
    try act catch { case scala.util.control.NonFatal(_) => () }
    finally { fs.failAt = 0; fs.tornStream = false }
  }

  /** Store operations a clean `act` issues after `setup`. */
  private def opsOf(setup: Versioned => Unit)(act: Versioned => Unit): Int = {
    val (st, fs) = faultStore()
    setup(st); fs.ops = 0; act(st); fs.ops
  }

  private def writeData(n: Long)(dir: String): Seq[String] = {
    spark.range(n).write.parquet(s"$dir/data")
    Seq(s"data $n")
  }

  /** Committed version `v`, read whole: its manifest count must
    * equal the rows its data holds. */
  private def readWhole(st: Versioned, v: Int): (Int, Long) = {
    val n = st.manifest(s"v$v").get.head.split(" ")(1).toLong
    assert(spark.read.parquet(st.path(s"v$v/data")).count() == n)
    (v, n)
  }

  private def readLatest(st: Versioned): (Int, Long) =
    readWhole(st, st.latestCommitted.get)

  /** The next publish, with faults off, succeeds; a later reclaim of
    * everything below it leaves no torn directory. */
  private def recovers(st: Versioned): Unit = {
    val v = st.publish(writeData(9))
    assert(readLatest(st) == ((v, 9L)))
    st.reclaim(st.versions.filter(_ < v).map(u => s"v$u"))
    assert(st.versions == Seq(v) && readLatest(st) == ((v, 9L)))
  }

  test("crash sweep: numbered publish, ForecastStore.save and reclaim stay whole under every fault") {
    import spark.implicits._
    val (_, before, after) = SharedSpark.withPinnedPersisted {
      // numbered publish: v1 committed, then the faulted publish of v2
      val publishOps = opsOf(_.publish(writeData(3)))(_.publish(writeData(5)))
      assert(publishOps == 2, "the manifest: one create, one rename")
      faults(publishOps, data = true).foreach { fault =>
        val (st, fs) = faultStore()
        st.publish(writeData(3))
        crashing(fs, fault) {
          st.publish { dir =>
            if (fault == DataWrite) throw new IOException("injected data write failure")
            writeData(5)(dir)
          }
        }
        assert(Set((1, 3L), (2, 5L)).contains(readLatest(st)), fault)
        recovers(st)
      }

      // ForecastStore.save: v1 current, then the faulted save of v2
      def save(st: Versioned, n: Long, v: String) =
        new ForecastStore(st).save(spark.range(n).toDF("id"), v)
      val saveOps = opsOf(save(_, 3, "v1"))(save(_, 5, "v2"))
      assert(saveOps == 4, "the manifest and CURRENT: a create and a rename each")
      val boom = org.apache.spark.sql.functions.udf((x: Long) =>
        if (x == 4L) throw new IllegalStateException("injected data write failure")
        else x)
      faults(saveOps, data = true).foreach { fault =>
        val (st, fs) = faultStore()
        val store = new ForecastStore(st)
        save(st, 3, "v1")
        crashing(fs, fault) {
          if (fault == DataWrite)
            store.save(spark.range(5).toDF("id").select(boom($"id").as("id")), "v2")
          else save(st, 5, "v2")
        }
        val cur = store.currentPath().get
        val n = store.load(spark).get.count()
        assert((cur.endsWith("v1") && n == 3) || (cur.endsWith("v2") && n == 5),
          s"$fault: $cur served $n rows")
        save(st, 7, "v3")
        assert(store.load(spark).get.count() == 7)
        store.vacuum(keep = 1)
        assert(store.versions() == Seq(("v3", true)))
        assert(store.load(spark).get.count() == 7)
      }

      // reclaim: v1..v3 committed, then the faulted reclaim of v1, v2
      def seed(st: Versioned): Unit =
        Seq(3L, 5L, 7L).foreach(n => st.publish(writeData(n)))
      val reclaimOps = opsOf(seed)(_.reclaim(Seq("v1", "v2")))
      assert(reclaimOps == 4, "per victim: the manifest, then the tree")
      faults(reclaimOps, data = false).foreach { fault =>
        val (st, fs) = faultStore()
        seed(st)
        crashing(fs, fault)(st.reclaim(Seq("v1", "v2")))
        // whatever still looks committed reads whole
        st.committed.foreach(readWhole(st, _))
        assert(readLatest(st) == ((3, 7L)), fault)
        recovers(st)
      }
    }
    assert(after <= before, s"the sweep left RDDs persisted: $before -> $after")
  }

  test("metadata bypasses LocalFileSystem checksums; Spark's data files keep theirs") {
    val root = Versioned.tempRoot("graft_crc_")
    val store = new ForecastStore(root)
    store.save(spark.range(3).toDF("id"), "v1")
    store.save(spark.range(4).toDF("id"), "v2")
    val files = Versioned(root)
    val names = files.list("").map(_._1) ++ files.list("v2").map(_._1)
    assert(!names.exists(n => n.contains("CURRENT") && n.endsWith(".crc")), names)
    assert(!names.exists(n => n.contains("_MANIFEST") && n.endsWith(".crc")), names)
    assert(names.exists(_.endsWith(".parquet.crc")),
      s"parquet parts lost their checksums: $names")
    assert(store.load(spark).get.count() == 4)
  }
}
