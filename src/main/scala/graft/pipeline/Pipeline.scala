package graft.pipeline

import java.nio.file.{Path, Paths}
import org.apache.spark.sql.Dataset

/** Operational machinery mirrored from the reference container:
  * retry with exponential backoff (/root/reference/retry.py), the
  * status/lock document with field-level set/unset
  * (/root/reference/utils.py:64-91 + main.py:33-79), chunked
  * bulk upload with fallback chunk sizing (main.py:312-324), and the
  * wall/cpu section timer (utils.py:95-111).
  */

/** Exponential-backoff retry. Deterministic (no jitter) so tests and
  * reruns are reproducible.
  */
object Retry {
  def retry[T](tries: Int, delayMs: Long = 10, backoff: Double = 2.0,
      sleep: Long => Unit = Thread.sleep)(f: => T): T = {
    var attempt = 0
    var delay = delayMs
    var last: Throwable = null
    while (attempt < tries) {
      try return f
      catch {
        // NonFatal only: interrupts, OOM and other VM errors must
        // propagate immediately rather than being retried with backoff.
        case scala.util.control.NonFatal(e) =>
          last = e
          attempt += 1
          if (attempt < tries) { sleep(delay); delay = (delay * backoff).toLong }
      }
    }
    throw last
  }
}

/** File-backed status document with the reference's semantics: an
  * `isUpdating` mutex (main.py:33-35, 79, 448), dotted-field set /
  * unset (`globalCharts.<date>`), and atomic persistence
  * ([[graft.store.Versioned.replace]]). One flat map of dotted keys
  * -> values.
  */
class StatusStore(path: Path) {
  def this(dir: String) = this(Paths.get(dir, "status.json"))

  private val store = graft.store.Versioned(path.getParent.toString)
  private val name = path.getFileName.toString

  private def parse(s: String): Map[String, String] =
    s.linesIterator.filter(_.contains("=")).map { l =>
      val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
    }.toMap

  def fetch(): Map[String, String] = store.read(name).map(parse).getOrElse(Map.empty)

  private def write(m: Map[String, String]): Unit =
    store.replace(name, m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
      .mkString("\n"))

  def set(field: String, value: String): Unit = write(fetch() + (field -> value))
  def unset(field: String): Unit = write(fetch() - field)

  /** Acquire the update lock; false if another run holds it. */
  def tryAcquireUpdateLock(): Boolean = this.synchronized {
    if (fetch().getOrElse("isUpdating", "false") == "true") false
    else { set("isUpdating", "true"); true }
  }

  def releaseUpdateLock(): Unit = set("isUpdating", "false")
}

/** Chunked, retrying, idempotent bulk sink: the Spark-native shape of
  * the reference's "upload in N parts with fallback" loop. Rows flow
  * per partition in fixed-size chunks through a caller-supplied
  * writer; writes are keyed (partition, chunk) so a retried task
  * overwrites rather than duplicates (idempotent under Spark's
  * task-retry model).
  */
object ChunkedSink {
  /** Writes every partition in chunks and returns the row count,
    * accumulated in the same pass (adds happen once per chunk, after
    * its successful write and outside the retry loop; foreachPartition
    * is an action, so Spark applies each task's updates exactly once).
    */
  def write[T](ds: Dataset[T], chunkSize: Int, tries: Int = 3)(
      writer: (Int, Int, Seq[T]) => Unit): Long = {
    val rows = ds.sparkSession.sparkContext.longAccumulator("chunkedSinkRows")
    ds.foreachPartition { (it: Iterator[T]) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      it.grouped(chunkSize).zipWithIndex.foreach { case (chunk, ci) =>
        Retry.retry(tries, delayMs = 5)(writer(pid, ci, chunk))
        rows.add(chunk.size)
      }
    }
    rows.value
  }

  /** The reference's fallback-chunk-count upload
    * (/root/reference/main.py:312-324: bulk upsert retried with
    * smaller chunks on failure): a chunk that still fails after its
    * retries is split in half and each half written under a
    * hierarchical chunk id ("3" -> "3.0"/"3.1", stable across
    * replays, so the sink stays idempotent). `splits` bounds the
    * recursion; a failure at the bound (or on a 1-row chunk)
    * propagates — data is never dropped silently.
    */
  def writeWithFallback[T](ds: Dataset[T], chunkSize: Int, tries: Int = 2,
      splits: Int = 3)(writer: (Int, String, Seq[T]) => Unit): Long = {
    val rows = ds.sparkSession.sparkContext.longAccumulator("chunkedSinkRows")
    ds.foreachPartition { (it: Iterator[T]) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      def attempt(id: String, chunk: Seq[T], depth: Int): Unit =
        try Retry.retry(tries, delayMs = 5)(writer(pid, id, chunk))
        catch {
          // NonFatal: interrupts / fatal JVM errors (OOM, task kill)
          // must propagate, not reroute into the split path
          case scala.util.control.NonFatal(_) if depth < splits && chunk.size > 1 =>
            val (a, b) = chunk.splitAt(chunk.size / 2)
            attempt(id + ".0", a, depth + 1)
            attempt(id + ".1", b, depth + 1)
        }
      it.grouped(chunkSize).zipWithIndex.foreach { case (chunk, ci) =>
        attempt(ci.toString, chunk, 0)
        rows.add(chunk.size)
      }
    }
    rows.value
  }
}

/** The reference's `text_alert` (utils.py:15-30): notify the ops
  * channel(s), then raise — alerting must never swallow the failure.
  * Handlers are pluggable (an SMS gateway in the reference; log/file
  * sinks here); a handler's own failure is contained so one broken
  * channel cannot mask the original error.
  */
object Alert {
  private val handlers =
    new java.util.concurrent.CopyOnWriteArrayList[String => Unit]()
  def register(h: String => Unit): Unit = handlers.add(h)
  def clear(): Unit = handlers.clear()
  def fail(message: String, cause: Throwable = null): Nothing = {
    handlers.forEach(h => try h(message) catch { case _: Throwable => () })
    throw new RuntimeException(message, cause)
  }
}

/** Wall/CPU section timer (utils.py:95-111). */
class Timer {
  private var wallStart = System.nanoTime()
  private var cpuStart = cpuNow()
  private def cpuNow(): Long =
    java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  def reset(): Unit = { wallStart = System.nanoTime(); cpuStart = cpuNow() }

  /** (wall seconds, cpu seconds) since last reset. */
  def diff(): (Double, Double) =
    ((System.nanoTime() - wallStart) / 1e9, (cpuNow() - cpuStart) / 1e9)

  def log(description: String): Unit = {
    val (w, c) = diff()
    println(f"TIMER: $description: wall ${w}%.3fs cpu ${c}%.3fs")
    reset()
  }
}
