package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file:` filesystem that counts metadata and open calls, then forwards
  * every call unchanged to [[LocalFileSystem]]. The traced run installs
  * it through the session's Hadoop conf (`fs.file.impl`), so the engine's
  * own filesystem calls are counted from outside the engine.
  *
  * Counters are process-wide (Hadoop may build more than one instance);
  * read them with [[CountingFileSystem.snapshot]] and subtract.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  overwrite: Boolean, bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet()
    super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    super.listStatus(f)
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet()
    super.listLocatedStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    statuses.incrementAndGet()
    super.getFileStatus(f)
  }

  override def mkdirs(f: Path): Boolean = {
    mkdirCalls.incrementAndGet()
    super.mkdirs(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  private val creates = new AtomicLong
  private val renames = new AtomicLong
  private val deletes = new AtomicLong
  private val lists = new AtomicLong
  private val statuses = new AtomicLong
  private val mkdirCalls = new AtomicLong
  private val opens = new AtomicLong

  /** Call counts by kind, plus the `file:` scheme's bytes written as
    * Hadoop's own statistics report them.
    */
  def snapshot(): Map[String, Long] = Map(
    "create" -> creates.get, "rename" -> renames.get,
    "delete" -> deletes.get, "list" -> lists.get,
    "status" -> statuses.get, "mkdirs" -> mkdirCalls.get,
    "open" -> opens.get, "bytes_written" -> fileBytesWritten())

  def delta(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }

  @annotation.nowarn("cat=deprecation")
  def fileBytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }
}
