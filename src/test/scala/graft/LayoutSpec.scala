package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ingest-layout pruning: a date-bucket-partitioned table must serve a
  * time-sliced query from a PRUNED scan — partition filters at the
  * directory level, before any row is read. This is the cluster-scale
  * complement of row-group min/max pruning on the sorted-by-ts files
  * (SURVEY §1.5: the reference's B-tree timestamp descent maps to
  * partition pruning + min/max stats on sorted Parquet).
  */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  test("date-partitioned ingest prunes partitions for time-sliced scans") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part_events").toString
    val ev = graft.io.Tables.read(spark, sfDir, "events")
      .withColumn("day", expr("ts div 86400000000000")) // ns → day bucket
    ev.write.mode("overwrite").partitionBy("day").parquet(dir)
    val days = ev.select("day").distinct().count()
    assert(days > 1, s"need multiple day buckets, got $days")
    val firstDay = ev.agg(min("day")).head().getLong(0)
    val sliced = spark.read.parquet(dir).filter(col("day") === firstDay)
    val plan = sliced.queryExecution.executedPlan.toString
    // the day predicate must land in PartitionFilters (directory pruning),
    // NOT in PushedFilters (row-level) — no data file of other days is read
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan)
    assert(sliced.count() ==
      ev.filter(col("day") === firstDay).count())
  }

  test("ts-range scan pushes filters to parquet and prunes columns (TABLE_get shape)") {
    // the q_get shape: a ts-range predicate over a 2-column projection
    // must reach the scan as PushedFilters (row-group min/max pruning on
    // the ts-sorted files) with a ReadSchema of exactly the used columns
    // — a scan reading all columns for a 2-column projection is wrong
    val ev = graft.io.Tables.read(spark, sfDir, "events")
    val lo = ev.agg(min("ts")).head().getLong(0)
    val q = graft.io.Tables.rangeScan(spark, sfDir, "events", lo, lo + 86400000000000L)
      .select("ts", "value")
    val plan = q.queryExecution.executedPlan.toString
    // rangeScan applies the bound to the RAW ts column, so the predicate
    // reaches the scan whichever type the parquet carries (µs-timestamp
    // or legacy ns-int64)
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      plan)
    assert(plan.contains("ReadSchema: struct<ts:"), plan)
    assert(!plan.toLowerCase.contains("event_type"), // column pruning held
      plan)
    assert(q.count() > 0)
  }

  test("hand-built dictionary pays at most one count job across repeated lookups") {
    // Dict.build registers its exact row count; a HAND-built dictionary
    // (no registration) must count once on first use and hit the memo on
    // every later lookup — a loop of str2code calls over the same
    // dictionary may not run a count job per call (round-7 VERDICT item).
    val hand = spark.createDataFrame(Seq((0L, "a"), (1L, "b"), (2L, "c")))
      .toDF("code", "value")
    JobWatch.on(spark) { w =>
      assert(w.measure(graft.text.Dict.trustedRows(hand)) == 3L)
      assert(w.count >= 1, "first sight of an unregistered dictionary must count")
      assert(w.measure(graft.text.Dict.trustedRows(hand)) == 3L)
      assert(w.count == 0,
        s"repeat lookup over the same dictionary re-ran a count job:${w.describe}")
      // a DERIVED frame (more rows) must NOT inherit the memoized count —
      // the round-7 stale-stamp hazard: a union carrying the original
      // (smaller) number could force-broadcast past MaxBroadcastRows
      val grown = hand.union(
        spark.createDataFrame(Seq((3L, "d"))).toDF("code", "value"))
      assert(graft.text.Dict.trustedRows(grown) == 4L)
    }
  }
}
