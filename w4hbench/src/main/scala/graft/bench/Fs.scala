package graft.bench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

/** File-tree helpers for the benchmark's work directory. */
object Fs {
  def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.toArray.map(_.asInstanceOf[Path]).toSeq finally s.close()
    }

  def files(p: Path): Seq[Path] = walk(p).filter(Files.isRegularFile(_)).sortBy(_.toString)

  def rm(p: Path): Unit = walk(p).reverse.foreach(Files.deleteIfExists)

  def bytes(p: Path, suffix: String = ""): Long =
    files(p).filter(_.getFileName.toString.endsWith(suffix)).map(Files.size).sum

  /** Copies a tree (regular files only). */
  def copy(from: Path, to: Path): Unit =
    files(from).foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      Files.createDirectories(t.getParent)
      Files.copy(f, t)
    }

  def sha256(chunks: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    chunks.foreach(md.update)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Digest of every file's relative name and bytes under `p`. */
  def treeDigest(p: Path): String =
    sha256(files(p).iterator.flatMap(f =>
      Iterator(p.relativize(f).toString.getBytes("UTF-8"), Files.readAllBytes(f))))
}
