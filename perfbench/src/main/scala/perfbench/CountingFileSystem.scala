package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file:` filesystem that counts list, open, create, rename, delete and
  * getFileStatus calls per path class. Installed only in traced runs, through
  * the `spark.hadoop.fs.file.impl` system property, so the session under test
  * is built exactly as users build it. Counting is on only while
  * [[CountingFileSystem.enabled]] is set (during traced ops).
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.count

  override def listStatus(f: Path): Array[FileStatus] = { count("list", f); super.listStatus(f) }
  override def listLocatedStatus(f: Path) = { count("list", f); super.listLocatedStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count("open", f); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    count("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    count("create", f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { count("rename", src); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { count("delete", f); super.delete(f, recursive) }
  override def getFileStatus(f: Path): FileStatus = { count("status", f); super.getFileStatus(f) }
}

object CountingFileSystem {
  val Ops: Seq[String] = Seq("list", "open", "create", "rename", "delete", "status")

  @volatile var enabled = false
  /** (path prefix, class) pairs, first match wins; unmatched paths are "other". */
  @volatile var classes: Seq[(String, String)] = Nil

  private val counts = new ConcurrentHashMap[(String, String), LongAdder]()

  private def classOf(p: Path): String = {
    val s = p.toUri.getPath
    classes.collectFirst { case (prefix, c) if s.startsWith(prefix) => c }.getOrElse("other")
  }

  private def count(op: String, p: Path): Unit =
    if (enabled) counts.computeIfAbsent((op, classOf(p)), _ => new LongAdder).increment()

  /** Counts so far, keyed by (op, class). */
  def snapshot(): Map[(String, String), Long] = {
    val b = Map.newBuilder[(String, String), Long]
    counts.forEach((k, v) => b += k -> v.sum())
    b.result()
  }
}
