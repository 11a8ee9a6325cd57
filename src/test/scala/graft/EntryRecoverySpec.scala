package graft

import graft.io.Tables
import org.scalatest.funsuite.AnyFunSuite

/** Each lifecycle op runs its entry recovery exactly once. The witness is
  * the compact commit marker (`<table>.compact.commit`), which
  * `recoverCompact` probes once per recovery pass: an op whose body
  * re-entered another op's entry (a stream append calling the public
  * append, a fallback calling the public compact) probed it twice.
  */
class EntryRecoverySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_entry_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def markerProbes(marker: String)(op: => Unit): Int =
    FlakyLocalFS.countStatusProbes(spark)(op).getOrElse(marker, 0)

  private def rows(from: Long, until: Long) =
    (from until until).map(i => (i, i * 1.0)).toDF("ts", "v")

  test("appendStreamBatch probes the compact commit marker once") {
    val table = tmpDir("stream") + "/t.parquet"
    assert(Tables.appendStreamBatch(rows(0L, 50L), table, "ts", "ck", 0L))
    val n = markerProbes("t.parquet.compact.commit") {
      assert(Tables.appendStreamBatch(rows(50L, 80L), table, "ts", "ck", 1L))
    }
    assert(n == 1, s"entry recovery ran $n times")
    assert(Tables.snapshot(spark, table).count() == 80L)
  }

  test("appendStreamBatchBucketed probes the compact commit marker once") {
    val t = "entry_bkt_stream"
    Tables.loadBucketed((0L until 60L).map(i => (i % 3, i, i * 1.0))
      .toDF("k", "ts", "v"), t, Seq("k"), 3, sortCols = Seq("ts"))
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t)).location)
    val n = markerProbes(loc.getName + ".compact.commit") {
      assert(Tables.appendStreamBatchBucketed((60L until 90L)
        .map(i => (i % 3, i, i * 1.0)).toDF("k", "ts", "v"), t, "ck", 0L))
    }
    assert(n == 1, s"entry recovery ran $n times")
    assert(spark.table(t).count() == 90L)
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("a manifest-less compactIncremental probes the compact commit marker once") {
    val table = tmpDir("incr") + "/t.parquet"
    rows(0L, 100L).repartition(4).write.parquet(table)
    assert(Tables.manifest(spark, table).isEmpty)
    val n = markerProbes("t.parquet.compact.commit") {
      Tables.compactIncremental(spark, table, Seq(), "ts")
    }
    assert(n == 1, s"entry recovery ran $n times")
    assert(Tables.manifest(spark, table).isDefined, "the fallback adopts the table")
    assert(Tables.snapshot(spark, table).count() == 100L)
  }
}
