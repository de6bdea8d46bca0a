package graft

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FileStatus, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Hadoop file-system calls on `file:` paths, counted JVM-wide by kind —
  * the file-system side of a commit's cost, next to its Spark jobs and
  * [[Compiles]]. Counting needs [[CountingLocalFileSystem]] as the
  * `file:` implementation (`fs.file.impl`, set before the first `file:`
  * file system is created; the test classpath's `core-site.xml` does it
  * for the suite, `CommitProbe` through `spark.hadoop.fs.file.impl`).
  * Counts are deterministic for a given operation on a given table, so
  * tests pin them; without the counting file system every count reads 0.
  */
final case class FsCalls(counts: Map[String, Long]) {
  def -(o: FsCalls): FsCalls =
    FsCalls(counts.map { case (k, v) => k -> (v - o.counts.getOrElse(k, 0L)) })
  def apply(kind: String): Long = counts.getOrElse(kind, 0L)
  def total: Long = counts.values.sum
  override def toString: String =
    FsCalls.Kinds.map(k => s"$k=${apply(k)}").mkString(" ")
}

object FsCalls {
  val Kinds: Seq[String] =
    Seq("create", "mkdirs", "rename", "delete", "list", "getFileStatus", "setPermission")

  private[graft] val counters: Map[String, AtomicLong] =
    Kinds.map(_ -> new AtomicLong).toMap

  def now(): FsCalls = FsCalls(counters.map { case (k, c) => k -> c.get })
}

/** The local file system, counting each call of the kinds in
  * [[FsCalls.Kinds]] at its public entry points (a listing counts once
  * per directory listed). It extends the class Spark's jars register for
  * `file:` (Hive's `ProxyLocalFileSystem`, whose rename refuses to replace
  * an existing file), so routing through it changes no behaviour.
  */
class CountingLocalFileSystem extends ProxyLocalFileSystem {
  private def hit(kind: String): Unit = { FsCalls.counters(kind).incrementAndGet(); () }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    hit("create")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    hit("create")
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }

  override def mkdirs(f: Path): Boolean = { hit("mkdirs"); super.mkdirs(f) }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    hit("mkdirs"); super.mkdirs(f, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = { hit("rename"); super.rename(src, dst) }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    hit("delete"); super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = { hit("list"); super.listStatus(f) }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    hit("list"); super.listLocatedStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = { hit("getFileStatus"); super.getFileStatus(f) }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    hit("setPermission"); super.setPermission(p, permission)
  }
}
