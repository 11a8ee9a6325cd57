package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** JobWatch names each job by its result stage and by the description of
  * the SQL execution it ran under, so AQE stage jobs can be told apart.
  */
class JobWatchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("each job of an action carries its execution's description") {
    JobWatch.on(spark) { w =>
      w.measure {
        spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect()
      }
      assert(w.count > 0)
      assert(w.jobs.forall(j => j.execution.isDefined &&
        j.description.startsWith("collect at JobWatchSpec.scala")), w.describe)
      assert(w.describe.contains("[collect at JobWatchSpec.scala"), w.describe)
    }
  }

  test("an execution that launches no job is still recorded as started") {
    // Dataset.rdd plans the query under an `rdd` execution and runs nothing
    val df = spark.range(0, 1000, 1, 4).select((col("id") * 2).as("x"))
    JobWatch.on(spark) { w =>
      w.measure(df.rdd.getNumPartitions)
      assert(w.count == 0, w.describe)
      assert(w.started.nonEmpty && w.started.forall(_._2.startsWith("rdd at")),
        w.started)
    }
  }
}
