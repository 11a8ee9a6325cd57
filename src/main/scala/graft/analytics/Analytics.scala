package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Special analytics — SURVEY.md §2.8 (cs_diff, cs_trend, cs_cross,
  * cs_extrema, cs_norm, cs_quantile). All are single-window-pass
  * operators: one shuffle on the key, then streaming lag/lead scans.
  */
object Analytics {

  /** Keyed ordered window; keyless calls run ordered scans instead. */
  private def keyWindow(keys: Seq[String]) =
    Window.partitionBy(keys.map(col): _*).orderBy(col("pos"))

  /** out[0]=0; out[i]=x[i]-x[i-1] — cs_diff (func.c:2268-2303). NULL
    * values follow the keyed lag-window form on BOTH paths: a NULL on
    * either side of the delta yields 0 (`coalesce(v − lag(v), 0)`), so a
    * NULL row neither crashes the scan nor poisons its successor. The
    * keyless route carries the previous row's (value, missing) pair in a
    * last-two-rows monoid — order-based, so non-dense pos from
    * slicing/filtering is handled the same way the keyed window handles
    * it.
    */
  def diff(df: DataFrame, keys: Seq[String], value: String, out: String = "diff"): DataFrame =
    if (keys.isEmpty) {
      val vIdx = df.schema.fieldIndex(value)
      // lanes: [prevVal, prevMissing, curVal, curMissing, rowsSeen (≤2)];
      // the missing flag distinguishes NULL from a real NaN value
      val lanes = Seq("__pv", "__pn", "__cv", "__cn", "__k")
      val scanned = graft.window.Moving.monoidScanRanged(df, Seq(), lanes)(
        identity = Array(0.0, 1.0, 0.0, 1.0, 0.0))(
        inject = r =>
          if (r.isNullAt(vIdx)) Array(0.0, 1.0, 0.0, 1.0, 1.0)
          else Array(0.0, 1.0, r.getAs[Number](vIdx).doubleValue(), 0.0, 1.0))(
        op = (a, b) =>
          if (b(4) >= 2.0) b
          else if (b(4) == 1.0)
            Array(a(2), a(3), b(2), b(3), math.min(a(4) + 1.0, 2.0))
          else a)
      scanned
        .withColumn(out,
          when(col("__pn") === 1.0 || col("__cn") === 1.0, 0.0)
            .otherwise(col("__cv") - col("__pv")))
        .drop(lanes: _*)
    } else
      df.withColumn(out, col(value) - lag(col(value), 1, null).over(keyWindow(keys)))
        .withColumn(out, coalesce(col(out), lit(0.0)))

  /** Sign of the last non-zero delta, carried through plateaus — cs_trend
    * (func.c:2305-2343). First element's trend is 0. Keyless series
    * decompose scalably: delta via pos-join, carry-forward via the affine
    * scan (keep = (a=1,b=0), reset = (a=0,b=d)).
    */
  def trend(df: DataFrame, keys: Seq[String], value: String, out: String = "trend"): DataFrame =
    if (keys.isEmpty) {
      val withD = diff(df, Seq(), value, "__d")
        .withColumn("__d", signum(col("__d")))
      val dIdx = withD.schema.fieldIndex("__d")
      graft.window.Moving.affineScanRanged(withD, Seq(), out)(seed = _ => 0.0) { r =>
        val d = r.getDouble(dIdx)
        if (d != 0.0) (0.0, d) else (1.0, 0.0)
      }.drop("__d")
    } else {
      val w = keyWindow(keys)
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn("__d", signum(col(value) - lag(col(value), 1).over(w)))
        .withColumn(out, coalesce(
          last(when(col("__d") =!= 0.0, col("__d")), ignoreNulls = true).over(wRun),
          lit(0.0)))
        .drop("__d")
    }

  /** Positions where the series crosses zero — cs_cross (func.c:4134-4219).
    * dir > 0: only upward (neg→pos), dir < 0: only downward, 0: both.
    * A crossing is reported at the first element whose non-zero sign
    * differs from the previous non-zero sign.
    */
  def crossings(df: DataFrame, keys: Seq[String], value: String, dir: Int): DataFrame = {
    val dirOk: Column => Column = s =>
      if (dir > 0) s > 0 else if (dir < 0) s < 0 else lit(true)
    if (keys.isEmpty) {
      // the sign carried up to the PREVIOUS row is the pre-state of the
      // reset-carry scan (0.0 = none yet) — gap-safe, no join, no global
      // window
      val sIdx = df.schema.fieldIndex(value)
      val s = signum(col(value))
      graft.window.Moving.affineScanRanged(df, Seq(), "__prevc", pre = true)(
        seed = _ => 0.0) { r =>
        // NULL rows leave the carry untouched, mirroring the keyed path's
        // ignoreNulls carry (they are also dropped by the filter below)
        if (r.isNullAt(sIdx)) (1.0, 0.0)
        else {
          val sv = math.signum(r.getAs[Number](sIdx).doubleValue())
          if (sv != 0.0) (0.0, sv) else (1.0, 0.0)
        }
      }
        .filter(col("__prevc") =!= 0.0 && s =!= 0.0 && s =!= col("__prevc") && dirOk(s))
        .drop("__prevc")
    } else {
      val w = keyWindow(keys)
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      val s = signum(col(value))
      val prevSign = last(when(s =!= 0.0, s), ignoreNulls = true).over(wPrev)
      val flipped = prevSign.isNotNull && s =!= 0.0 && s =!= prevSign
      df.withColumn("__flip", flipped && dirOk(s))
        .filter(col("__flip"))
        .drop("__flip")
    }
  }

  /** Positions of local extrema (alternating min/max) — cs_extrema
    * (func.c:4221-4305). An element is an extremum when the trend of the
    * series reverses at it: detect via sign of delta before and the next
    * non-zero delta after.
    */
  def extrema(df: DataFrame, keys: Seq[String], value: String): DataFrame = {
    if (keys.isEmpty) {
      // before_i = forward carry of non-zero delta signs; after_i = the next
      // row's backward carry (carry over reversed pos) — two affine scans
      // and a pos-join instead of whole-frame windows
      val withD = diff(df, Seq(), value, "__d").withColumn("__d", signum(col("__d")))
      val dIdx = withD.schema.fieldIndex("__d")
      val fwd = graft.window.Moving.affineScanRanged(withD, Seq(), "__before")(
        seed = _ => 0.0) { r =>
        val d = r.getDouble(dIdx)
        if (d != 0.0) (0.0, d) else (1.0, 0.0)
      }
      // after_i = the nearest non-zero __before strictly AFTER i = the
      // pre-state of the reset-carry scan over reversed order (negated
      // pos) — gap-safe, no join
      val bIdx = fwd.schema.fieldIndex("__before")
      graft.window.Moving.affineScanRanged(
        fwd.withColumnRenamed("pos", "__fp").withColumn("pos", -col("__fp")),
        Seq(), "__after", pre = true)(seed = _ => 0.0) { r =>
        val b = r.getDouble(bIdx)
        if (b != 0.0) (0.0, b) else (1.0, 0.0)
      }.withColumn("pos", col("__fp")).drop("__fp")
        .filter(col("__before") =!= 0.0 &&
          col("__after") =!= 0.0 && col("__before") =!= col("__after"))
        // __d too: the internal diff's sign column — leaking it changed
        // the output schema vs the keyed path (fuzz finding, seed 5006)
        .drop("__d", "__before", "__after")
    } else {
      val w = keyWindow(keys)
      val d = signum(col(value) - lag(col(value), 1).over(w))
      // last non-zero delta up to and including this element
      val before = last(when(d =!= 0.0, d), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      // the lookahead ("nearest following non-null __before") runs as a
      // BACKWARD carry over descending pos — a growing
      // [unboundedPreceding, -1] frame Spark streams in O(n). The direct
      // [1, unboundedFollowing] spelling plans
      // UnboundedFollowingWindowFunctionFrame, which re-walks the rest of
      // the partition buffer for EVERY row — O(n²), measured minutes on a
      // 200k-row partition (fuzz seed 15004 at sf0.1) where this form is
      // sub-second. Same trick as AsofMergeJoinExec's direction=+1 mirror.
      val wDescPrev = Window.partitionBy(keys.map(col): _*)
        .orderBy(col("pos").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      df.withColumn("__before", before)
        .withColumn("__after", last(when(col("__before").isNotNull, col("__before")),
          ignoreNulls = true).over(wDescPrev))
        .filter(col("__before").isNotNull && col("__after").isNotNull &&
          col("__before") =!= col("__after"))
        .drop("__before", "__after")
    }
  }

  /** x / sqrt(Σx²) — cs_norm (func.c:594-658). Two-pass in the reference;
    * here a whole-partition window aggregate (per key), one shuffle.
    */
  def norm(df: DataFrame, keys: Seq[String], value: String, out: String = "norm"): DataFrame =
    if (keys.isEmpty) {
      // broadcast the 1-row Σx² instead of a whole-frame window
      val ss = df.agg(sum(col(value) * col(value)).as("__ss"))
      df.crossJoin(broadcast(ss))
        .withColumn(out, col(value) / sqrt(col("__ss")))
        .drop("__ss")
    } else {
      val w = Window.partitionBy(keys.map(col): _*)
      df.withColumn(out, col(value) / sqrt(sum(col(value) * col(value)).over(w)))
    }

  /** q+1 boundary values of the sorted series — cs_quantile
    * (func.c:3562-3603). Exact percentile; bounded output (q+1 rows).
    */
  def quantile(df: DataFrame, value: String, q: Int): DataFrame = {
    val ps = (0 to q).map(i => i.toDouble / q)
    df.agg(percentile(col(value), lit(ps.toArray)).as("qs"))
      .select(posexplode(col("qs")).as(Seq("q_idx", "q_value")))
  }
}
