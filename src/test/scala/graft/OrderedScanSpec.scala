package graft

import graft.agg.Aggs
import graft.series.Series
import graft.window.Moving
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ordered-scan plan node (graft.plans.OrderedScan) behind Moving's
  * scans and Series.attachPosRanged: built lazily, sized from its child,
  * and closed to column pruning under it.
  */
class OrderedScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def keyed: DataFrame =
    (0 until 60).map(i => (s"k${i % 3}", (i / 3).toLong, i * 1.5 - 20.0))
      .toDF("k", "pos", "v")
  private def keyless: DataFrame =
    (0 until 60).map(i => (i.toLong, math.sin(i) * 10)).toDF("pos", "v")

  /** (name, scan, the columns a pruning select keeps — never the value
    * column the scan's kernel reads)
    */
  private def scans: Seq[(String, DataFrame, Seq[String])] = Seq(
    ("keyed ema", Moving.ema(keyed, Seq("k"), "v", 5), Seq("k", "pos", "ema")),
    ("keyless ema", Moving.ema(keyless, Seq(), "v", 5), Seq("pos", "ema")),
    ("keyless cumAgg", Aggs.cumAgg(keyless, Seq(), "v"),
      Seq("pos", "cum_sum", "cum_max")),
    ("keyed attachPosRanged",
      Series.attachPosRanged(keyed, Seq("k"), Seq(col("v")), out = "ord"),
      Seq("k", "ord")))

  test("building and explaining ordered scans launches no Spark job") {
    JobWatch.on(spark) { w =>
      w.measure(scans.foreach(_._2.explain()))
      assert(w.count == 0, s"scan construction or explain launched jobs:${w.describe}")
    }
  }

  test("a keyless map-valued as-of (the carry scan) builds with no Spark job") {
    val l = Seq(Tuple1(5L), Tuple1(7L)).toDF("ts")
    val r = Seq((5L, Map("a" -> 1)), (6L, Map("b" -> 2))).toDF("ts", "v")
    JobWatch.on(spark) { w =>
      val df = w.measure(graft.plans.AsofMerge.asofJoin(l, r, Seq(), "ts", "v"))
      assert(w.count == 0, s"row-id as-of construction launched jobs:${w.describe}")
      assert(df.orderBy("ts").collect().map(_.getMap[String, Int](1)).toSeq ==
        Seq(Map("a" -> 1), Map("b" -> 2)))
    }
  }

  /** Keyless as-of frames over one value type each; none needs a job to
    * build.
    */
  private def keylessAsofs: Seq[(String, DataFrame)] = {
    val l = Seq(Tuple1(5L), Tuple1(7L)).toDF("ts")
    Seq(
      "string" -> Seq((5L, "a"), (6L, "b")).toDF("ts", "v"),
      "decimal" -> Seq((5L, BigDecimal("1.25")), (6L, BigDecimal("7.5"))).toDF("ts", "v"),
      "array" -> Seq((5L, Seq(1, 2)), (6L, Seq(3))).toDF("ts", "v"),
      "struct" -> Seq((5L, (1.5, "a")), (6L, (2.5, "b"))).toDF("ts", "v"),
      "map" -> Seq((5L, Map("a" -> 1)), (6L, Map("b" -> 2))).toDF("ts", "v"))
      .map { case (name, r) => name -> graft.plans.AsofMerge.asofJoin(l, r, Seq(), "ts", "v") }
  }

  test("building and explaining keyless as-of frames launches no Spark job, for any value type") {
    val frames = JobWatch.on(spark) { w =>
      val built = w.measure(keylessAsofs.map { f => f._2.explain(); f })
      assert(w.count == 0, s"keyless as-of construction or explain launched jobs:${w.describe}")
      built
    }
    assert(frames.map(_._2.count()) == Seq.fill(frames.size)(2L))
  }

  test("a map-valued keyless as-of collects with no more jobs than a double-valued one") {
    val l = Seq(Tuple1(5L), Tuple1(7L)).toDF("ts")
    def jobs(r: DataFrame): Int = JobWatch.on(spark) { w =>
      w.measure(graft.plans.AsofMerge.asofJoin(l, r, Seq(), "ts", "v").collect())
      w.count
    }
    val maps = jobs(Seq((5L, Map("a" -> 1)), (6L, Map("b" -> 2))).toDF("ts", "v"))
    val doubles = jobs(Seq((5L, 1.0), (6L, 2.0)).toDF("ts", "v"))
    assert(maps <= doubles, s"map-valued collect ran $maps jobs, double-valued $doubles")
  }

  test("ordered scans take their size estimate from the child") {
    val sentinel = spark.sessionState.conf.defaultSizeInBytes
    scans.foreach { case (name, df, _) =>
      val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(size < sentinel, s"$name: sizeInBytes $size is the unknown-size sentinel")
    }
  }

  test("a select after a scan cannot prune the columns the scan reads") {
    def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted
    scans.foreach { case (name, df, keep) =>
      val full = df.collect().toSeq.map(r => Row.fromSeq(keep.map(c => r.get(r.fieldIndex(c)))))
      assert(sorted(df.select(keep.map(col): _*).collect().toSeq) == sorted(full), name)
    }
  }
}
