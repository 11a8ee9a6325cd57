package graft

import graft.io.Tables
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** The filesystem calls of one clustered append, one stream batch and one
  * governed range-scan build, at the level perfbench's counting
  * filesystem sees them (create, rename, delete, list, status, mkdirs,
  * open). Every clustered install goes through the generation marker, so
  * none of them touches the retired append marker (`.append.pending`) or
  * its staging dir (`.batch.tmp`). The bounds are the counts the
  * append-marker protocol made on this same setup; the install must stay
  * below them.
  */
class InstallCallsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_calls_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def rows(from: Long, until: Long) =
    (from until until).map(i => (i, i * 1.0)).toDF("ts", "v")

  private def check(label: String, calls: Seq[(String, String)], before: Int): Unit = {
    val retired = calls.filter { case (_, p) =>
      p.contains(".append.pending") || p.contains(".batch.tmp") }
    assert(retired.isEmpty, s"$label touched the retired append marker: $retired")
    val byKind = calls.groupBy(_._1).map { case (k, v) => k -> v.size }
    info(s"$label: ${calls.size} calls $byKind")
    assert(calls.size < before,
      s"$label made ${calls.size} calls (the append-marker protocol made " +
        s"$before): ${calls.mkString("\n")}")
  }

  test("a stream batch, an append and a range-scan build skip the append marker, with fewer calls") {
    val dir = tmpDir("t")
    val table = s"$dir/t.parquet"
    Tables.load(rows(0L, 200L).coalesce(1), table, Seq(), "ts")
    assert(Tables.appendStreamBatch(rows(200L, 250L), table, "ts", "ck", 0L))
    val stream = FlakyLocalFS.recordCalls(spark) {
      assert(Tables.appendStreamBatch(rows(250L, 300L), table, "ts", "ck", 1L))
    }
    check("appendStreamBatch", stream, 66)
    val append = FlakyLocalFS.recordCalls(spark) {
      Tables.append(rows(300L, 350L), table, "ts", lit(0L))
    }
    check("append", append, 63)
    val scan = FlakyLocalFS.recordCalls(spark) {
      Tables.rangeScan(spark, dir, "t", 250L, 320L)
    }
    check("rangeScan build", scan, 13)
    assert(Tables.rangeScan(spark, dir, "t", 250L, 320L).count() == 70L)
    assert(Tables.snapshot(spark, table).count() == 350L)
  }
}
