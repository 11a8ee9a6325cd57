package perfbench

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

class CountingFileSystemSpec extends AnyFunSuite {
  private def fileSystem(impl: Class[_ <: FileSystem]): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.file.impl", impl.getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    FileSystem.get(new java.net.URI("file:///"), conf)
  }

  private def outcome(body: => Any): String =
    try body.toString
    catch { case e: Exception => e.getClass.getSimpleName }

  /** The lease/commit moves the table protocols rely on, in order. */
  private def script(fs: FileSystem): Seq[String] = {
    val dir = new Path(Files.createTempDirectory("perfbench-fs").toUri)
    val a = new Path(dir, "a")
    val b = new Path(dir, "b")
    try Seq(
      outcome(fs.create(a, false).close()),  // create-if-absent, fresh
      outcome(fs.create(a, false).close()),  // create-if-absent, taken
      outcome(fs.rename(a, b)),
      outcome(fs.rename(a, b)),              // source gone
      outcome(fs.exists(b)),
      outcome(fs.listStatus(dir).map(_.getPath.getName).sorted.mkString(",")),
      outcome(fs.delete(b, false)),
      outcome(fs.delete(b, false)))          // already gone
    finally fs.delete(dir, true)
  }

  test("forwards create-if-absent, rename and delete with unchanged results") {
    val local = fileSystem(classOf[LocalFileSystem])
    val counting = fileSystem(classOf[CountingFileSystem])
    assert(counting.isInstanceOf[CountingFileSystem])
    val want = script(local)
    assert(want.take(2) == Seq("()", "FileAlreadyExistsException"))
    val before = CountingFileSystem.snapshot()
    assert(script(counting) == want)
    val d = CountingFileSystem.delta(before, CountingFileSystem.snapshot())
    assert(d("create") == 2)
    assert(d("rename") == 2)
    assert(d("delete") == 3)   // two in the script, one cleanup
    assert(d("list") == 1)
    assert(d("status") >= 1)
  }
}
