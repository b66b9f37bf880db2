package graft.tables

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}

import graft.SparkTestBase

/** `file:` filesystem for specs: records every `listStatus` path and every
  * rename end and delete start, in order, and lets a spec wrap renames (to
  * slow or fail them). [[SpecFileSystem.installed]] puts it in the session's
  * Hadoop conf with the `file:` cache disabled, so table handles opened
  * inside get a fresh instance of it; its state is JVM-wide.
  */
class SpecFileSystem extends LocalFileSystem {
  import SpecFileSystem._

  override def listStatus(f: Path): Array[FileStatus] = {
    listed.add(f.toUri.getPath)
    super.listStatus(f)
  }

  override def rename(src: Path, dst: Path): Boolean =
    try aroundRename(src, dst, () => super.rename(src, dst))
    finally events.add(s"rename-end $dst")

  override def delete(f: Path, recursive: Boolean): Boolean = {
    events.add(s"delete ${f.toUri.getPath}")
    super.delete(f, recursive)
  }
}

object SpecFileSystem {
  /** Paths passed to `listStatus`, in call order. */
  val listed = new ConcurrentLinkedQueue[String]()
  /** `rename-end <dst>` / `delete <path>`, in the order they happened. */
  val events = new ConcurrentLinkedQueue[String]()
  /** Runs each rename: (source, destination, the rename itself). */
  @volatile var aroundRename: (Path, Path, () => Boolean) => Boolean = (_, _, r) => r()

  /** Run `body` with this filesystem serving `file:` paths. */
  def installed[A](base: SparkTestBase)(body: => A): A = {
    listed.clear(); events.clear()
    try base.withSQLConf("fs.file.impl" -> classOf[SpecFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")(body)
    finally aroundRename = (_, _, r) => r()
  }
}
