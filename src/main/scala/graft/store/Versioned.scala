package graft.store

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, FileUtil, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The one versioned-store core: every store in the library (the
  * forecast store, the status document, the ANN index store and the
  * replica write-back store) lists, commits, reads, reclaims and
  * deletes through it, on Hadoop `FileSystem`, so a root may live on
  * any filesystem Spark itself writes to.
  *
  * The contract, stated once:
  *  - A store is a directory `root`. Versions are directories under
  *    it; numbered stores name them `v1, v2, …`.
  *  - A version is COMMITTED iff its manifest (`_MANIFEST`) exists.
  *    [[commit]] writes the version's data first and its manifest
  *    last, and the manifest lands under a temporary name and is
  *    renamed into place, so a crash at any point leaves either the
  *    previous state or a torn, never-committed directory — never a
  *    partial manifest a reader could parse.
  *  - The next version number is the largest directory number + 1,
  *    committed or torn: a torn attempt's number is never reused
  *    (parquet writes refuse existing paths).
  *  - Small metadata files (a manifest, a pointer, a status document,
  *    a schema) are replaced whole through the same
  *    write-temporary-then-rename step ([[replace]]).
  *  - [[reclaim]] demotes before it deletes: a victim's manifest goes
  *    first, so a crash mid-reclaim can only leave a torn directory,
  *    never one that still looks committed with data missing.
  *  - One publisher per root. Two publishers could claim the same
  *    number; the loser's parquet write fails on the existing path.
  *
  * Atomicity rests on `rename` replacing an existing file, which
  * POSIX local disk provides; where a FileSystem's rename refuses to
  * replace, [[replace]] fails loudly instead. On `file://` the core
  * works on the raw FileSystem under `LocalFileSystem`'s checksums,
  * so no `.crc` sidecar can disagree with the metadata file it
  * covers; the cached instance Spark shares is never reconfigured.
  *
  * Each store keeps only its own policy: which versions to keep, and
  * what its manifest lines mean. Names passed to the core are
  * relative to `root`; `""` is the root itself.
  */
final class Versioned(val root: String, fs: FileSystem) {
  import Versioned.Manifest

  private val rootPath = new Path(root)
  private def resolve(name: String): Path =
    if (name.isEmpty) rootPath else new Path(rootPath, name)
  private def child(name: String, leaf: String): String =
    if (name.isEmpty) leaf else s"$name/$leaf"

  /** The full path of `name`. */
  def path(name: String): String = resolve(name).toString

  def exists(name: String): Boolean = fs.exists(resolve(name))

  def isDir(name: String): Boolean =
    try fs.getFileStatus(resolve(name)).isDirectory
    catch { case _: FileNotFoundException => false }

  /** The children of `name` as (name, is-directory), sorted by name;
    * empty when `name` does not exist. */
  def list(name: String): Seq[(String, Boolean)] =
    try fs.listStatus(resolve(name)).toSeq
      .map(s => (s.getPath.getName, s.isDirectory)).sortBy(_._1)
    catch { case _: FileNotFoundException => Seq.empty }

  /** Every numbered version directory, committed or torn, ascending. */
  def versions: Seq[Int] = list("").collect {
    case (n, true) if n.matches("v\\d+") => n.drop(1).toInt
  }.sorted

  def committed: Seq[Int] =
    versions.filter(v => exists(s"v$v/$Manifest"))

  def latestCommitted: Option[Int] = committed.lastOption

  /** The number the next publish claims. */
  def next: Int = (versions :+ 0).max + 1

  /** The whole content of file `name`, or None if it does not exist. */
  def read(name: String): Option[String] =
    try {
      val in = fs.open(resolve(name))
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** Replace file `name` with `text` atomically: write `name.tmp`,
    * then rename it over `name`. */
  def replace(name: String, text: String): Unit = {
    val dst = resolve(name)
    val tmp = new Path(dst.getParent, dst.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, dst))
      throw new IOException(s"rename $tmp -> $dst did not land")
  }

  /** Commit version `name`: `write` gets its full path, writes the
    * data and returns the manifest lines, which land last. */
  def commit(name: String)(write: String => Seq[String]): Unit = {
    val lines = write(path(name))
    replace(child(name, Manifest), lines.mkString("\n"))
  }

  /** [[commit]] the next numbered version; returns its number. */
  def publish(write: String => Seq[String]): Int = {
    val v = next
    commit(s"v$v")(write)
    v
  }

  /** The manifest lines of version `name` if it is committed. */
  def manifest(name: String): Option[Seq[String]] =
    read(child(name, Manifest)).map(_.split("\n").toSeq.filter(_.nonEmpty))

  /** Reclaim the `victims` (version names): each one's manifest is
    * deleted first, then its tree. Returns every victim whose demote
    * landed — it can never serve again, even if part of its tree
    * survived for the next reclaim to collect. */
  def reclaim(victims: Seq[String]): Seq[String] = victims.filter { n =>
    val mf = resolve(child(n, Manifest))
    val demoted = !fs.exists(mf) || fs.delete(mf, false)
    if (demoted) delete(n)
    demoted
  }

  /** Delete `name` and everything beneath it. */
  def delete(name: String): Boolean = fs.delete(resolve(name), true)

  /** Copy the tree at full path `from` to the new full path `to`. */
  def copy(from: String, to: String): Unit =
    if (!FileUtil.copy(fs, new Path(from), fs, new Path(to), false, fs.getConf))
      throw new IOException(s"copy $from -> $to did not land")
}

object Versioned {
  private[graft] val Manifest = "_MANIFEST"

  /** The store at `root`, on the FileSystem its path resolves to under
    * the active session's Hadoop conf. */
  def apply(root: String): Versioned = {
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
    new Versioned(root, raw(new Path(root).getFileSystem(conf)))
  }

  private def raw(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  /** Uncached, so Hadoop's own shutdown hook cannot close it under
    * the temp-root cleanup below. */
  private lazy val local: FileSystem = {
    val f = new RawLocalFileSystem
    f.initialize(java.net.URI.create("file:///"), new Configuration())
    f
  }

  /** ONE shutdown hook for the whole JVM, draining a concurrent queue
    * — a hook per temp root would accumulate threads across a
    * multi-hundred-query bench. The lazy registration can race
    * shutdown: if the FIRST temp root is made while the JVM is already
    * going down, `addShutdownHook` throws IllegalStateException, and
    * [[tempRoot]] deletes at once (the run is ending; nothing will
    * read the store). */
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private lazy val hooked: Boolean =
    try {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        var r = pending.poll()
        while (r != null) { new Versioned(r, local).delete(""); r = pending.poll() }
      }, "graft-tmp-clean"))
      true
    } catch { case _: IllegalStateException => false }

  /** A fresh local directory named `prefix…`, deleted with everything
    * in it when the JVM exits: the root for a store whose DataFrames
    * read it lazily after the call that made it returns. */
  def tempRoot(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    if (hooked) pending.add(d) else new Versioned(d, local).delete("")
    d
  }
}
