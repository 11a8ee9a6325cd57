package graft

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local filesystem with injectable transient read failures, a
  * per-name tally of status probes and a call log: the next `open` of a
  * file with a registered name throws once, then opens normally; every
  * `getFileStatus` — which `exists` calls — counts against the probed
  * file's name; while recording, every create, rename, delete, list,
  * status, mkdirs and open call is logged with its path — the calls
  * perfbench's counting filesystem counts. Installed for the `file`
  * scheme with the FileSystem cache disabled, so every lookup in the
  * window gets an instance of this class.
  */
class FlakyLocalFS extends LocalFileSystem {
  import FlakyLocalFS.logCall

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    logCall("open", f)
    if (FlakyLocalFS.pending.remove(f.getName))
      throw new java.io.IOException(s"injected read failure: $f")
    else super.open(f, bufferSize)
  }

  override def getFileStatus(f: Path): FileStatus = {
    logCall("status", f)
    FlakyLocalFS.probes
      .computeIfAbsent(f.getName, _ => new java.util.concurrent.atomic.AtomicInteger)
      .incrementAndGet()
    super.getFileStatus(f)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    logCall("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  overwrite: Boolean, bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    logCall("create", f)
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    logCall("rename", src, Some(dst))
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    logCall("delete", f)
    super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    logCall("list", f)
    super.listStatus(f)
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    logCall("list", f)
    super.listLocatedStatus(f)
  }

  override def mkdirs(f: Path): Boolean = {
    logCall("mkdirs", f)
    super.mkdirs(f)
  }
}

object FlakyLocalFS {
  private val pending = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val probes = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.atomic.AtomicInteger]()
  private val calls = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  @volatile private var recording = false

  private def logCall(kind: String, f: Path, to: Option[Path] = None): Unit =
    if (recording) calls.add(kind -> (f.toString + to.fold("")(" -> " + _)))

  /** Run `body` with the next open of the file named `name` failing. */
  def failNextOpen[T](spark: SparkSession, name: String)(body: => T): T = {
    pending.add(name)
    try installed(spark)(body)
    finally pending.remove(name)
  }

  /** Run `body` and return how often each file name was status-probed
    * (`exists` or `getFileStatus`) through the `file` scheme meanwhile.
    */
  def countStatusProbes(spark: SparkSession)(body: => Unit): Map[String, Int] = {
    probes.clear()
    installed(spark)(body)
    import scala.jdk.CollectionConverters._
    probes.asScala.map { case (k, v) => k -> v.get }.toMap
  }

  /** Run `body` and return every call it made through the `file` scheme,
    * in order, as (kind, path) — a rename's path reads `src -> dst`.
    */
  def recordCalls(spark: SparkSession)(body: => Unit): Seq[(String, String)] = {
    calls.clear()
    recording = true
    try installed(spark)(body)
    finally recording = false
    import scala.jdk.CollectionConverters._
    calls.asScala.toSeq
  }

  private def installed[T](spark: SparkSession)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[FlakyLocalFS].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
  }
}
