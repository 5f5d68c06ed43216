package graft

import java.net.URI

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileUtil, LocalFileSystem, Path}
import org.apache.spark.sql.{GraftBridge, SparkSession}

import graft.io.ForkFreeRawLocalFileSystem

/** The local disk under the scheme `cprn:`, with the one difference an
  * object store has for a writer: rename is not atomic. It copies the
  * source and then deletes it, and [[CopyRenameFs.betweenSteps]] runs
  * between the two steps, so a test can crash a rename half done. Its
  * `listStatus` and `open` calls are recorded for [[CopyRenameFs.callsUnder]].
  */
class CopyRenameRawFs extends ForkFreeRawLocalFileSystem {
  override def getUri: URI = CopyRenameFs.Uri
  override def getScheme: String = CopyRenameFs.Scheme

  override def rename(src: Path, dst: Path): Boolean = {
    if (!exists(src)) return false
    val to = if (exists(dst) && getFileStatus(dst).isDirectory) new Path(dst, src.getName) else dst
    if (exists(to)) return false
    FileUtil.copy(this, src, this, to, false, getConf)
    CopyRenameFs.betweenSteps(src)
    delete(src, true)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    CopyRenameFs.listed.add(f.toUri.getPath)
    super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CopyRenameFs.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

/** `fs.cprn.impl`: [[CopyRenameRawFs]] with Hadoop's `.crc` checksums, as
  * the engine's `file:` filesystem has them.
  */
class CopyRenameFs extends LocalFileSystem(new CopyRenameRawFs) {
  override def getScheme: String = CopyRenameFs.Scheme
}

object CopyRenameFs {
  val Scheme = "cprn"
  val Uri: URI = URI.create(s"$Scheme:///")

  /** The paths `listStatus` and `open` were called with, in call order. */
  private[graft] val listed, opened = new ConcurrentLinkedQueue[String]()

  /** `body`'s result with the local paths under `dir` that it listed and
    * opened, in call order (a `.crc` checksum file opened beside a file
    * is a call of its own; an open of a missing file fails before it).
    */
  def callsUnder[T](dir: String)(body: => T): (T, Seq[String], Seq[String]) = {
    listed.clear()
    opened.clear()
    val out = body
    def under(q: ConcurrentLinkedQueue[String]) = q.asScala.toSeq.filter(_.startsWith(dir))
    (out, under(listed), under(opened))
  }

  /** Called with a rename's source after the copy, before the delete. */
  @volatile var betweenSteps: Path => Unit = _ => ()

  /** `spark`'s clone with `cprn:` bound; its reads, writes and Hadoop
    * confs all see the scheme.
    */
  def session(spark: SparkSession): SparkSession =
    GraftBridge.sessionWithConf(spark, s"fs.$Scheme.impl", classOf[CopyRenameFs].getName)

  /** `local` (an absolute local path) as a `cprn:` URI. */
  def uri(local: String): String = s"$Scheme://$local"

  /** Run `body` with `betweenSteps` throwing for every rename of a file
    * under `dir` whose name `victim` accepts.
    */
  def crashingRenames[T](dir: String, victim: String => Boolean)(body: => T): T = {
    betweenSteps = src =>
      if (src.toUri.getPath.startsWith(dir) && victim(src.getName))
        throw new java.io.IOException(s"injected crash renaming $src")
    try body finally betweenSteps = _ => ()
  }
}
