package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The union + `last(ignoreNulls)` window form of the as-of join — the
  * frame-equality reference AsofEquivSpec and AsofMergeSpec pin
  * `graft.join.Align`'s as-of family against. Spec-only: no scan path
  * calls it.
  *
  * Both sides are tagged and unioned on (keys, ts); the last non-NULL
  * right value is carried forward over a window ordered by (ts, side).
  * Keyed calls partition the window by the keys; keyless calls use one
  * whole-frame ordered window (a single task, fine at test sizes). Right
  * rows with a NULL ts are dropped and left rows with a NULL ts get NULL.
  */
object AsofReference {

  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
               valueCol: String, outCol: String = "asof_value"): DataFrame =
    asofJoinDir(left, right, keys, ts, valueCol, outCol, direction = -1)

  /** Direction −1 carries the latest right ts <= left ts, +1 the earliest
    * right ts >= left ts (the same scan in descending ts order). At equal
    * ts the right row sorts before the left row when `inclusive`, after
    * it otherwise.
    */
  def asofJoinDir(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
                  valueCol: String, outCol: String = "asof_value",
                  direction: Int = -1, inclusive: Boolean = true): DataFrame = {
    val leftCols = left.columns.toSeq
    val lTagged = left
      .withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(right.schema(valueCol).dataType))
    val rTagged = right
      .filter(col(ts).isNotNull)
      .select((keys :+ ts).map(col) :+ col(valueCol).as("__rv"): _*)
      .withColumn("__side", lit(0))
    val common = (keys :+ ts) ++ Seq("__side", "__rv")
    val unioned = lTagged.select((common ++ leftCols.diff(common)).map(col): _*)
      .unionByName(rTagged, allowMissingColumns = true)
    val tsOrd = if (direction == -1) col(ts).asc else col(ts).desc
    val sideOrd = if (inclusive) col("__side").asc else col("__side").desc
    val ordered =
      if (keys.isEmpty) Window.orderBy(tsOrd, sideOrd)
      else Window.partitionBy(keys.map(col): _*).orderBy(tsOrd, sideOrd)
    val w = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn(outCol,
        when(col(ts).isNotNull, last(col("__rv"), ignoreNulls = true).over(w)))
      .filter(col("__side") === 1)
      .select((leftCols :+ outCol).map(col): _*)
  }

  /** Right values packed with their ts; a NULL value packs to a NULL
    * struct, so `last(ignoreNulls)` skips it.
    */
  private def packed(right: DataFrame, keys: Seq[String], ts: String,
                     valueCol: String, name: String): DataFrame =
    right.select((keys :+ ts).map(col) :+
      when(col(valueCol).isNotNull,
        struct(col(valueCol).as("v"), col(ts).as("t"))).as(name): _*)

  /** Tolerance form: the backward match, NULL when left.ts − matched.ts
    * exceeds `tolerance`.
    */
  def asofJoinTol(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
                  valueCol: String, tolerance: Column,
                  outCol: String = "asof_value"): DataFrame =
    asofJoin(left, packed(right, keys, ts, valueCol, "__pk"), keys, ts, "__pk", "__asof")
      .withColumn(outCol,
        when(col("__asof").isNotNull &&
          (col(ts) - col("__asof.t")) <= tolerance, col("__asof.v")))
      .drop("__asof")

  /** Nearest form: a backward pass and a strictly-forward pass; the
    * closer match wins and equidistant ties take the preceding one.
    */
  def asofJoinNearest(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
                      valueCol: String, outCol: String = "asof_value"): DataFrame = {
    val pk = packed(right, keys, ts, valueCol, "__pkn")
    val withPrev = asofJoinDir(left, pk, keys, ts, "__pkn", "__prevn", direction = -1)
    asofJoinDir(withPrev, pk, keys, ts, "__pkn", "__nextn", direction = 1,
      inclusive = false)
      .withColumn(outCol,
        when(col("__nextn").isNull ||
          (col("__prevn").isNotNull &&
            (col(ts) - col("__prevn.t")) <= (col("__nextn.t") - col(ts))),
          col("__prevn.v"))
          .otherwise(col("__nextn.v")))
      .drop("__prevn", "__nextn")
  }

  def asofJoinPos(left: DataFrame, right: DataFrame, keys: Seq[String],
                  ts: String): DataFrame =
    asofJoin(left, right.withColumnRenamed("pos", "__rpos"), keys, ts, "__rpos", "right_pos")

  def stretch(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
              valueCol: String, filler: Column,
              outCol: String = "stretch_value"): DataFrame =
    asofJoinDir(left, right, keys, ts, valueCol, outCol, direction = 1, inclusive = false)
      .withColumn(outCol, coalesce(col(outCol), filler))
}
