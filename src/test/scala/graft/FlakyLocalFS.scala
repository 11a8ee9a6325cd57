package graft

import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The local filesystem with injectable transient read failures: the next
  * `open` of a file with a registered name throws once, then opens
  * normally. Installed for the `file` scheme with the FileSystem cache
  * disabled, so every lookup in the window gets an instance of this class.
  */
class FlakyLocalFS extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    if (FlakyLocalFS.pending.remove(f.getName))
      throw new java.io.IOException(s"injected read failure: $f")
    else super.open(f, bufferSize)
}

object FlakyLocalFS {
  private val pending = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Run `body` with the next open of the file named `name` failing. */
  def failNextOpen[T](spark: SparkSession, name: String)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    pending.add(name)
    conf.set("fs.file.impl", classOf[FlakyLocalFS].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
      pending.remove(name)
    }
  }
}
