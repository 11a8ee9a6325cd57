package graft

import graft.join.Align
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Align's as-of family plans one as-of join: keyed calls run the merge
  * exec (`AsofMergeJoin`) and never a `Window`; keyless calls run the
  * ranged carry scan, which is neither.
  */
class AsofPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val left = Seq(("a", 5L), ("a", 12L), ("b", 7L)).toDF("key", "ts")
  private lazy val right =
    Seq(("a", 4L, 1.0), ("a", 10L, 2.0), ("b", 9L, 3.0)).toDF("key", "ts", "v")

  private def forms(keys: Seq[String]): Seq[(String, DataFrame)] = {
    val (l, r) = if (keys.isEmpty) (left.drop("key"), right.drop("key")) else (left, right)
    Seq(
      "asofJoin" -> Align.asofJoin(l, r, keys, "ts", "v"),
      "asofJoinDir(+1)" -> Align.asofJoinDir(l, r, keys, "ts", "v", direction = 1),
      "asofJoinTol" -> Align.asofJoinTol(l, r, keys, "ts", "v", lit(3L)),
      "asofJoinNearest" -> Align.asofJoinNearest(l, r, keys, "ts", "v"),
      "stretch" -> Align.stretch(l, r, keys, "ts", "v", lit(-1.0)))
  }

  private def nodeNames(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect { case p => p.nodeName }

  test("keyed as-of entries plan AsofMergeJoin and no Window") {
    for ((name, df) <- forms(Seq("key"))) {
      val nodes = nodeNames(df)
      assert(nodes.contains("AsofMergeJoin"), s"$name: ${nodes.mkString(", ")}")
      assert(!nodes.contains("Window"), s"$name: ${nodes.mkString(", ")}")
    }
  }

  test("keyless as-of entries plan neither Window nor AsofMergeJoin") {
    for ((name, df) <- forms(Seq())) {
      val nodes = nodeNames(df)
      assert(!nodes.contains("AsofMergeJoin"), s"$name: ${nodes.mkString(", ")}")
      assert(!nodes.contains("Window"), s"$name: ${nodes.mkString(", ")}")
    }
  }
}
