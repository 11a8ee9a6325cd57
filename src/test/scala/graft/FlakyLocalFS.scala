package graft

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The local filesystem with injectable transient read failures and a
  * per-name tally of status probes: the next `open` of a file with a
  * registered name throws once, then opens normally; every
  * `getFileStatus` — which `exists` calls — counts against the probed
  * file's name. Installed for the `file` scheme with the FileSystem cache
  * disabled, so every lookup in the window gets an instance of this class.
  */
class FlakyLocalFS extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    if (FlakyLocalFS.pending.remove(f.getName))
      throw new java.io.IOException(s"injected read failure: $f")
    else super.open(f, bufferSize)

  override def getFileStatus(f: Path): FileStatus = {
    FlakyLocalFS.probes
      .computeIfAbsent(f.getName, _ => new java.util.concurrent.atomic.AtomicInteger)
      .incrementAndGet()
    super.getFileStatus(f)
  }
}

object FlakyLocalFS {
  private val pending = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val probes = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.atomic.AtomicInteger]()

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
