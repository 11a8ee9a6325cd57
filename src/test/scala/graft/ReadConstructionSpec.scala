package graft

import graft.io.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** What building a per-call read costs. The governed and the NTZ-pruned
  * `rangeScan`, `snapshot` and `snapshotSliceNs` are built from the file
  * listing and the memoized head footer alone: constructing one starts no
  * SQL execution (`Dataset.rdd`'s planning included) and launches no job,
  * and the frame keeps the file layout's own partitioning, with no
  * round-robin re-split. Only the memoized `Tables.read` re-splits an
  * undersized source.
  */
class ReadConstructionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The sf0.01 testdata tables (TESTDATA.md): the sibling of the sf0.001
    * directory the layout specs read.
    */
  private val sf01 = new java.io.File(new LayoutSpec().sfDir).getParent + "/sf0.01"

  /** A governed table `landing` under a fresh directory: a loaded file of
    * ~1 MB of incompressible doubles (large enough that the byte-sized
    * re-split would target several partitions) and three stream batches.
    */
  private lazy val governed: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_readbuild").toString
    val path = s"$dir/landing.parquet"
    val r = new scala.util.Random(42)
    Tables.load(spark.createDataFrame((0L until 60000L).map(i =>
      (i * 10L, r.nextDouble(), r.nextDouble()))).toDF("ts", "a", "b")
      .coalesce(1), path, Seq(), "ts")
    (1 to 3).foreach { b =>
      val from = 600000L + b * 1000L
      Tables.appendStreamBatch((from until from + 100L).map(i => (i, 1.0, 2.0))
        .toDF("ts", "a", "b"), path, "ts", "s-build", b.toLong)
    }
    dir
  }

  /** `body`'s frame, asserting that building it started no SQL execution
    * and launched no job.
    */
  private def built(what: String)(body: => DataFrame): DataFrame =
    JobWatch.on(spark) { w =>
      val df = w.measure(body)
      assert(w.started.isEmpty,
        s"building $what started SQL executions ${w.started}")
      assert(w.count == 0, s"building $what launched jobs:${w.describe}")
      df
    }

  private def noResplit(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("RoundRobinPartitioning"), plan)
  }

  test("building the governed rangeScan plans no query and keeps the layout") {
    val dir = governed
    val df = built("the governed rangeScan")(
      Tables.rangeScan(spark, dir, "landing", 0L, 601500L))
    noResplit(df)
    assert(df.count() == 60000L + 100L)
  }

  test("building the NTZ-pruned rangeScan of sf0.01 events plans no query") {
    // the raw read is the schema source and is memoized: warm it first
    val raw = Tables.readRaw(spark, sf01, "events")
    assert(raw.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType,
      "precondition: the footer-pruned path serves NTZ ts")
    val (lo, hi) = (1704672000000000000L, 1704931200000000000L)
    val df = built("the NTZ rangeScan")(Tables.rangeScan(spark, sf01, "events", lo, hi))
    noResplit(df)
    val want = Tables.read(spark, sf01, "events")
      .filter(col("ts") >= lo && col("ts") < hi).count()
    assert(want > 0 && df.count() == want)
  }

  test("building snapshot and snapshotSliceNs plans no query and keeps the layout") {
    val path = s"$governed/landing.parquet"
    val snap = built("snapshot")(Tables.snapshot(spark, path))
    noResplit(snap)
    assert(snap.count() == 60300L)
    val slice = built("snapshotSliceNs")(
      Tables.snapshotSliceNs(spark, path, 601000L, 602099L))
    noResplit(slice)
    // the slice reads the two overlapping stream batches' files only
    assert(slice.inputFiles.length == 2, slice.inputFiles.toSeq)
  }

  test("Tables.read of sf0.01 lineitem still re-splits to the byte-sized target") {
    val path = s"$sf01/lineitem.parquet"
    val splits = spark.read.parquet(path).rdd.getNumPartitions
    val read = Tables.read(spark, sf01, "lineitem")
    assert(read.rdd.getNumPartitions == math.max(splits, Tables.sizedParts(spark, path)))
    assert(Tables.read(spark, sf01, "lineitem") eq read, "the read is memoized")
  }
}
