package graft.window

import scala.collection.immutable.ListMap

import graft.plans.{OrderedScan, ScanKernel}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField}

/** Moving (trailing count-window) operators — cs_window_* (SURVEY.md §2.5).
  *
  * All are length-preserving over a trailing window of N rows; the first
  * N-1 outputs aggregate the partial window, matching the reference
  * (user_guide.html "Window (moving) aggregates").
  *
  * sum/avg/min/max/var map to Spark window frames
  * `rowsBetween(-(N-1), 0)` — per-key windows shuffle once on the key and
  * then run streaming within each sorted partition, which scales linearly
  * across keys on a cluster.
  *
  * EMA and ATR are *recursive* (each output depends on the previous
  * output, func.c:1764-1788) and have no SQL frame equivalent. They, the
  * running monoid folds and the keyless trailing window are each one
  * [[graft.plans.OrderedScan]] plan node: keyed calls require the rows
  * clustered by key and sorted by (key, pos) and make one sequential
  * pass; keyless calls range-partition by pos and compose per-partition
  * summaries on the driver. The planner plants the exchange and sort, so
  * building a frame runs no job. One shuffle and O(1) state per key — the
  * same cost shape as a window agg, and it streams (never collects a
  * key's series into memory at once).
  */
object Moving {

  /** Read a numeric cell for a recursive scan, rejecting NULL loudly: the
    * recursive state (EMA/ATR/cumprod/diff carries) has no NULL semantics —
    * the reference's series elements are primitives — and the alternative
    * is an opaque executor NullPointerException four task-retries later.
    */
  private[graft] def numAt(r: Row, idx: Int, op: String): Double = {
    if (r.isNullAt(idx)) throw new IllegalArgumentException(
      s"$op requires non-null values (recursive state has no NULL " +
        "semantics); filter or gap-fill NULLs first")
    r.getAs[Number](idx).doubleValue()
  }

  /** Same case-folded reserved-name guard as the join family: fail loud
    * when an input frame already carries a column this operator is about
    * to append or overwrite (Spark resolution is case-insensitive by
    * default, so the check folds case too).
    */
  private[graft] def guardNames(cols: Seq[String], names: Seq[String], ctx: String): Unit = {
    val lower = names.map(_.toLowerCase).toSet
    val clash = cols.filter(c => lower.contains(c.toLowerCase)).distinct
    require(clash.isEmpty, s"column name(s) ${clash.mkString(", ")} collide " +
      s"with $ctx's reserved output/working names (${names.mkString("/")}); " +
      "rename them first")
  }

  /** Trailing-window frame of n rows ending at the current row (keyed
    * callers only — keyless trailing windows route through
    * [[windowAggScanKeyless]], never a whole-frame ordered window).
    */
  def frame(keys: Seq[String], n: Int) = {
    require(keys.nonEmpty,
      "keyless trailing windows use windowAggScanKeyless, not a global window")
    Window.partitionBy(keys.map(col): _*)
      .orderBy(col("pos"))
      .rowsBetween(-(n - 1), Window.currentRow)
  }

  /** Running fold of an associative monoid over a fixed-width Double
    * state vector, emitting the running state's components as `outs`
    * columns: sum/sumsq/min/max and any other componentwise-associative
    * running aggregate in ONE pass, where the affine form cannot. Keyed
    * calls dispatch to [[monoidScanKeyed]]; keyless calls are one ranged
    * [[graft.plans.OrderedScan]] (driver state: one row per partition).
    */
  def monoidScanRanged(df: DataFrame, keys: Seq[String], outs: Seq[String],
                       order: Seq[org.apache.spark.sql.Column] = Seq(col("pos")))(
      identity: Array[Double])(inject: Row => Array[Double])(
      op: (Array[Double], Array[Double]) => Array[Double]): DataFrame = {
    guardNames(df.columns.toSeq, outs, "monoidScanRanged")
    if (keys.nonEmpty)
      return monoidScanKeyed(df, keys, outs, order)(identity)(inject)(op)
    OrderedScan(df, keys, order, ranged = true,
      new ScanKernel.Monoid(identity, inject, op), doubles(outs, nullable = false))
  }

  /** Keyed running monoid fold: a clustered [[graft.plans.OrderedScan]],
    * one sequential pass per key with NO driver state — scales to
    * arbitrarily many keys; parallelism is min(#keys, #partitions). A
    * plain left fold, so `op` need NOT be associative here (state machines
    * like capacity-reset packing are fine).
    */
  def monoidScanKeyed(df: DataFrame, keys: Seq[String], outs: Seq[String],
                      order: Seq[org.apache.spark.sql.Column] = Seq(col("pos")))(
      identity: Array[Double])(inject: Row => Array[Double])(
      op: (Array[Double], Array[Double]) => Array[Double]): DataFrame = {
    guardNames(df.columns.toSeq, outs, "monoidScanKeyed")
    OrderedScan(df, keys, order, ranged = false,
      new ScanKernel.Monoid(identity, inject, op), doubles(outs, nullable = false))
  }

  /** Keyed linear-recurrence scan: a clustered [[graft.plans.OrderedScan]]
    * like [[monoidScanKeyed]], one pass and no driver state.
    */
  def affineScanKeyed(df: DataFrame, keys: Seq[String], out: String,
                      pre: Boolean = false)(
      seed: Row => Double)(coef: Row => (Double, Double)): DataFrame = {
    guardNames(df.columns.toSeq, Seq(out), "affineScanKeyed")
    OrderedScan(df, keys, Seq(col("pos")), ranged = false,
      new ScanKernel.Affine(seed, coef, pre), doubles(Seq(out), nullable = false))
  }

  private def doubles(names: Seq[String], nullable: Boolean): Seq[StructField] =
    names.map(StructField(_, DoubleType, nullable))

  /** cs_window_sum/avg/min/max/var/dev (func.c:1632-1761).
    *
    * Warm-up semantics: sum/min/max over the partial first N-1 frames match
    * the reference exactly. For avg/var/dev the reference divides by the
    * FIXED interval N even during warm-up (func.c:1674-1690 uses
    * ctx->interval, not the element count), so `w_avg`/`w_var`/`w_dev` here
    * (SQL semantics — divide by actual count) deliberately diverge on the
    * first N-1 rows; `w_avg_ref`/`w_var_ref`/`w_dev_ref` reproduce the
    * reference's fixed-N divisor: avg = Σx/N, var = (Σx² − (Σx)²/N)/N
    * (the naive one-pass formula, func.c:1745-1761).
    */
  def windowAgg(df: DataFrame, keys: Seq[String], value: String, n: Int): DataFrame = {
    // validate ONCE for both paths: the keyed frame would throw an
    // AnalysisException but the keyless scan would silently emit all-NULL
    require(n >= 1, s"window length must be >= 1, got $n")
    guardNames(df.columns.toSeq, WindowCols, "windowAgg")
    if (keys.isEmpty) return windowAggScanKeyless(df, value, n)
    val w = frame(keys, n)
    val v = col(value)
    val refVar = (sum(v * v).over(w) - sum(v).over(w) * sum(v).over(w) / n) / n
    df.select(col("*"), sum(v).over(w).as("w_sum"), avg(v).over(w).as("w_avg"),
        min(v).over(w).as("w_min"), max(v).over(w).as("w_max"),
        var_pop(v).over(w).as("w_var"))
      // sqrt of the var column, not a second windowed Welford buffer
      .select(col("*"), sqrt(col("w_var")).as("w_dev"),
        (sum(v).over(w) / n).as("w_avg_ref"), refVar.as("w_var_ref"),
        sqrt(greatest(refVar, lit(0.0))).as("w_dev_ref"))
  }

  private val WindowCols = Seq("w_sum", "w_avg", "w_min", "w_max", "w_var",
    "w_dev", "w_avg_ref", "w_var_ref", "w_dev_ref")

  /** Keyless trailing window WITHOUT a whole-frame ordered window (which
    * would be one task): a ranged [[graft.plans.OrderedScan]] over pos
    * whose chunk summary is its last n−1 values, so output row i sees
    * exactly rows (i−n+1..i) across partition boundaries. Emits the keyed
    * [[windowAgg]]'s columns with its semantics; an all-null frame yields
    * NULL aggregates, hence nullable columns.
    */
  def windowAggScanKeyless(df: DataFrame, value: String, n: Int): DataFrame =
    OrderedScan(df, Nil, Seq(col("pos")), ranged = true,
      new ScanKernel.WindowTail(df.schema.fieldIndex(value), n),
      doubles(WindowCols, nullable = true))

  /** Parallel linear-recurrence scan: evaluates E_i = a_i·E_{i-1} + b_i per
    * key in `ordCol` order, where `coef` maps each row to (a_i, b_i) and
    * `seed` the key's first row to E_{-1} (a = 0 at the first row makes
    * the seed irrelevant).
    *
    * Affine maps COMPOSE — (a2,b2)∘(a1,b1) = (a2·a1, a2·b1 + b2) — so a
    * keyless recurrence is one ranged [[graft.plans.OrderedScan]] whose
    * parallelism is the partition count, NOT the key count: recursive
    * indicators (EMA/ATR/cumprod) survive a series with few or no keys.
    * Keyed calls dispatch to [[affineScanKeyed]].
    *
    * With `pre = true` the emitted column is the state BEFORE applying the
    * current row — the gap-safe form of `lag`/"carry up to the previous
    * row" (no pos-arithmetic join, so non-dense pos from slicing/filtering
    * cannot skew it). The first row of a key emits the seed.
    */
  def affineScanRanged(df: DataFrame, keys: Seq[String], out: String,
                       pre: Boolean = false, ordCol: String = "pos")(
      seed: Row => Double)(coef: Row => (Double, Double)): DataFrame = {
    // the keyed dispatch scans in pos order; a caller with a different
    // ordinal must stay on the keyless path (no current caller mixes
    // keys with a non-pos ordinal — fail loudly rather than scan in the
    // wrong order)
    if (keys.nonEmpty) {
      require(ordCol == "pos",
        s"affineScanRanged: keyed scans order by 'pos'; got ordCol='$ordCol'")
      return affineScanKeyed(df, keys, out, pre)(seed)(coef)
    }
    guardNames(df.columns.toSeq, Seq(out), "affineScanRanged")
    OrderedScan(df, Nil, Seq(col(ordCol)), ranged = true,
      new ScanKernel.Affine(seed, coef, pre), doubles(Seq(out), nullable = false))
  }

  /** Exponential moving average — cs_window_ema (func.c:1764-1777):
    * p = 2/(N+1); EMA[0]=x[0]; EMA[i] = x[i]*p + EMA[i-1]*(1-p).
    * Seeding the scan with the key's first value makes the uniform
    * recurrence exact at row 0: p·x0 + (1−p)·x0 = x0.
    */
  def ema(df: DataFrame, keys: Seq[String], value: String, n: Int, out: String = "ema"): DataFrame = {
    require(n >= 1, s"EMA period must be >= 1, got $n")
    val p = 2.0 / (n + 1)
    val vIdx = df.schema.fieldIndex(value)
    affineScanRanged(df, keys, out)(
      seed = r => numAt(r, vIdx, "ema")) { r =>
      (1 - p, p * numAt(r, vIdx, "ema"))
    }
  }

  /** Wilder-smoothed average true range — cs_window_atr (func.c:1779-1788):
    * ATR[i] = (ATR[i-1]*(m-1) + TR[i]) / m with m = min(i+1, N). The
    * warm-up index i is the row's ORDINAL within its key's series — the
    * reference operates on the slice it is handed, with indices relative
    * to that slice — so a thinned/sliced series with non-dense or offset
    * pos still warms up over the rows actually present (the same
    * actual-row-count rule cumAgg follows). Row 0 has a = 0, so the seed
    * is irrelevant.
    */
  def atr(df: DataFrame, keys: Seq[String], value: String, n: Int, out: String = "atr"): DataFrame = {
    require(n >= 1, s"ATR period must be >= 1, got $n")
    guardNames(df.columns.toSeq, Seq("__aord"), "atr")
    val withOrd = graft.series.Series.ordinal(df, keys, Seq(col("pos")), "__aord")
    val vIdx = withOrd.schema.fieldIndex(value)
    val oIdx = withOrd.schema.fieldIndex("__aord")
    affineScanRanged(withOrd, keys, out)(
      seed = r => numAt(r, vIdx, "atr")) { r =>
      val m = math.min(r.getLong(oIdx) + 1, n.toLong).toDouble
      ((m - 1) / m, numAt(r, vIdx, "atr") / m)
    }.drop("__aord")
  }

  /** Cumulative product — cs_cum_prd (func.c:1824-1887). Recursive like
    * EMA (sign/zero handling rules out exp∘sum∘log in general); the affine
    * form is E = x·E_prev with seed 1.
    */
  def cumProd(df: DataFrame, keys: Seq[String], value: String, out: String = "cum_prd"): DataFrame = {
    val vIdx = df.schema.fieldIndex(value)
    affineScanRanged(df, keys, out)(seed = _ => 1.0) { r =>
      (numAt(r, vIdx, "cumProd"), 0.0)
    }
  }

  /** Relative Strength Index — the reference's example workload builds RSI
    * from cs_* primitives (example.sql RSI query): split the delta into
    * gains/losses, Wilder-smooth both (the ATR recurrence), then
    * RSI = 100 − 100/(1 + U/D). Pure composition of diff + two affine
    * scans. The D = 0 cases mirror the reference's bare IEEE arithmetic
    * (it has no special case): an all-gain window reads 100
    * (U/0 = +Inf → 100 − 0), while a FLAT window (U = D = 0) is NaN
    * (0/0) — Spark's SQL division returns NULL at 0, so both branches
    * are spelled out instead of relying on `/`.
    */
  def rsi(df: DataFrame, keys: Seq[String], value: String, n: Int,
          out: String = "rsi"): DataFrame = {
    require(n >= 1, s"RSI period must be >= 1, got $n")
    guardNames(df.columns.toSeq,
      Seq("__d", "__up", "__dn", "__su", "__sd", out), "rsi")
    val withUd = graft.analytics.Analytics.diff(df, keys, value, "__d")
      .select(col("*"), greatest(col("__d"), lit(0.0)).as("__up"),
        greatest(-col("__d"), lit(0.0)).as("__dn"))
    val smoothed = atr(atr(withUd, keys, "__up", n, "__su"), keys, "__dn", n, "__sd")
    smoothed.select(df.columns.map(col) :+
      when(col("__sd") === 0.0 && col("__su") > 0.0, lit(100.0))
        .when(col("__sd") === 0.0, lit(Double.NaN))
        .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + col("__su") / col("__sd")))
        .as(out): _*)
  }

  /** Rank with gaps / dense rank over the whole series — cs_rank /
    * cs_dense_rank (func.c:3495-3561). Keyed: one window per key. Keyless:
    * a global ordered window would be one task, so ranks derive from the
    * ranged sort permutation — sort_pos via attachPosRanged, dense rank =
    * the run index of the value in sort order (scan-based run id), rank =
    * 1 + the run's first sort_pos (a groupBy(run) + join, parallel).
    */
  def rank(df: DataFrame, keys: Seq[String], value: String): DataFrame =
    if (keys.isEmpty) {
      guardNames(df.columns.toSeq,
        Seq("__origpos", "__start", "__rfirst", "run_id", "rnk", "dense_rnk"),
        "rank")
      val sorted = graft.series.Series.attachPosRanged(
        df.withColumnRenamed("pos", "__origpos"), Seq(),
        Seq(col(value), col("__origpos")), out = "pos")
      // the fresh sort_pos IS a dense 0-based ordinal, so attachRunId can
      // skip its internal renumbering pass; its run-start flag is exactly
      // rank's reset condition, so no predecessor self-join either.
      // A groupBy(run_id)+join would shuffle every row onto as many
      // reducers as there are runs — badly skewed when the series has few
      // distinct values.
      val withRun = graft.agg.Aggs.attachRunId(sorted, Seq(), value,
        ordCol = Some("pos"), chgOut = Some("__start"))
      val sIdx = withRun.schema.fieldIndex("__start")
      val pIdx2 = withRun.schema.fieldIndex("pos")
      // rank = 1 + the run's first sort_pos, carried forward by a scan
      // that resets at run starts
      affineScanRanged(withRun, Seq(), "__rfirst")(
        seed = r => r.getAs[Number](pIdx2).doubleValue()) { r =>
        if (r.getDouble(sIdx) == 1.0) (0.0, r.getAs[Number](pIdx2).doubleValue())
        else (1.0, 0.0)
      }
        .withColumn("rnk", col("__rfirst").cast("long") + 1L)
        .withColumn("dense_rnk", col("run_id")) // runs are value-ordered, 1-based
        .drop("__rfirst", "__start", "pos", "run_id")
        .withColumnRenamed("__origpos", "pos")
    } else {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col(value))
      df.withColumns(ListMap(
        "rnk" -> org.apache.spark.sql.functions.rank().over(w).cast("long"),
        "dense_rnk" -> dense_rank().over(w).cast("long")))
    }
}
