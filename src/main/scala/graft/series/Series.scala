package graft.series

import graft.plans.{OrderedScan, ScanKernel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** Core series abstraction.
  *
  * The reference (knizhnik/imcs) models a table as a set of aligned
  * "timeseries" — ordered columns where element i of every column belongs to
  * logical row i (imcs.h:98-105, SURVEY.md §1.1). Spark has no implicit row
  * order, so order is materialized as an explicit `pos` column: a 0-based
  * dense rank per key partition, ordered by the series' timestamp plus a
  * deterministic tiebreak. All order-sensitive operators (span, thin,
  * reverse, diff, window aggs...) demand a `pos` column produced here.
  *
  * Scale note: `row_number` over a key-partitioned window is a single
  * shuffle by key; each key's rows are numbered independently, so the plan
  * parallelizes across keys on a large cluster (no global sort, no driver
  * bottleneck). For a *global* series (no key) or a keyed series with few
  * distinct keys, `attachPosRanged` numbers within range partitions and
  * adds per-partition offsets — parallelism stays at the partition count
  * with no single-partition sort anywhere.
  */
object Series {

  /** Attach `pos` (0-based) per key partition ordered by `order` columns.
    * Mirrors the implicit element order of a per-key timeseries like
    * "quote-close-IBM" (imcs--1.1.sql:361-369).
    *
    * Strategy by key cardinality: with keys present, a key-partitioned
    * `row_number` window is one shuffle and parallelizes across keys —
    * right when keys are many. With NO keys (a single global series) that
    * window is a single-partition sort, so the keyless path delegates to
    * `attachPosRanged`. For keyed series with FEW keys (where
    * parallelism=#keys starves a cluster), call `attachPosRanged`
    * directly.
    */
  def attachPos(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    ordinal(df, keys, order, "pos")

  /** [[attachPos]] into column `out`. */
  private[graft] def ordinal(df: DataFrame, keys: Seq[String], order: Seq[Column],
                             out: String): DataFrame =
    if (keys.isEmpty) attachPosRanged(df, Seq(), order, out)
    else df.withColumn(out, row_number().over(
      Window.partitionBy(keys.map(col): _*).orderBy(order: _*)).cast("long") - 1L)

  /** Scalable per-key position numbering with NO single-partition stage:
    * one ranged [[graft.plans.OrderedScan]] counts each (partition, key)
    * run, folds the counts into offsets on the driver and numbers every
    * run from its offset. Parallelism is the range-partition count
    * regardless of key cardinality — the ingest-time `pos` SURVEY §7 calls
    * for (the reference numbers elements at load, imcs.c:4177-4412).
    *
    * The driver holds one offset per (partition, key) run, ≤ #keys +
    * nPartitions: right for keyless or FEW-key series; for
    * high-cardinality keys use `attachPos`'s key-partitioned window. `order`
    * must be a total order (include a tiebreak) for pos to be
    * deterministic.
    */
  def attachPosRanged(df: DataFrame, keys: Seq[String], order: Seq[Column],
                      out: String = "pos"): DataFrame = {
    graft.window.Moving.guardNames(df.columns.toSeq, Seq(out), "attachPosRanged")
    OrderedScan(df, keys, order, ranged = true, ScanKernel.Positions,
      Seq(StructField(out, LongType, nullable = false)))
  }

  /** Positional slice [from, till] inclusive; negative index counts from the
    * end as in the reference's cs_limit/TABLE_span (func.c:3938-4026,
    * imcs--1.1.sql:285-292).
    *
    * Negative indices count elements from the end in ORDINAL space (the
    * row's rank within its key), not pos-label space: after
    * slicing/thinning the pos labels have gaps, and `cnt + from` compared
    * against a LABEL would select the wrong rows or none at all ("last 3"
    * of pos {10..19} is pos 17..19, not pos 7..9). Non-negative indices
    * keep the documented pure pos-label filter, which pushes down.
    */
  def span(df: DataFrame, keys: Seq[String], from: Long, till: Long): DataFrame = {
    if (from >= 0 && till >= 0) {
      // Pure positional range — pushes down as a simple filter on pos.
      df.filter(col("pos") >= from && col("pos") <= till)
    } else {
      graft.window.Moving.guardNames(df.columns.toSeq, Seq("__ord", "__cnt"),
        "span (negative index)")
      val withCnt = withKeyCount(ordinal(df, keys, Seq(col("pos")), "__ord"), keys)
      val loOk =
        if (from >= 0) col("pos") >= from else col("__ord") >= col("__cnt") + from
      val hiOk =
        if (till >= 0) col("pos") <= till else col("__ord") <= col("__cnt") + till
      withCnt.filter(loOk && hiOk).drop("__cnt", "__ord")
    }
  }

  /** Per-key element count as `__cnt`, with no single-partition stage:
    * keyless series get a broadcast scalar (crossJoin with the 1-row agg),
    * keyed series a count join — both instead of a `Window.partitionBy()`
    * over the whole frame. The keyed join carries NO broadcast hint: the
    * count frame is one row PER KEY, so at per-user cardinality a forced
    * broadcast would blow the broadcast limit and kill the job; AQE
    * chooses broadcast at runtime whenever the built side actually fits,
    * and falls back to a shuffle join when it doesn't.
    */
  private def withKeyCount(df: DataFrame, keys: Seq[String]): DataFrame =
    if (keys.isEmpty)
      df.crossJoin(broadcast(df.agg(count(lit(1)).as("__cnt"))))
    else {
      // null-SAFE key equality: attachPos numbers a NULL key group like
      // any other, so a plain equi-join here would silently drop every
      // null-key row from the sliced output
      val l = df.alias("__skl")
      val r = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__cnt"))
        .alias("__skr")
      val on = keys.map(k => col(s"__skl.$k") <=> col(s"__skr.$k")).reduce(_ && _)
      l.join(r, on)
        .select(df.columns.map(c => col(s"__skl.$c")) :+ col("__skr.__cnt"): _*)
    }

  /** Every step-th element starting at origin — cs_thin (func.c:664-767). */
  def thin(df: DataFrame, origin: Long, step: Long): DataFrame =
    df.filter(col("pos") >= origin && (col("pos") - origin) % step === 0)

  /** First n per key — cs_head / cs_limit(0, n-1) (func.c:3938-4026). */
  def head(df: DataFrame, n: Long): DataFrame = df.filter(col("pos") < n)

  /** Last n per key — cs_tail (negative-index cs_limit). n <= 0 selects
    * nothing (−0 == 0 would otherwise turn span(0, −1) into the WHOLE
    * series).
    */
  def tail(df: DataFrame, keys: Seq[String], n: Long): DataFrame =
    if (n <= 0) df.limit(0) else span(df, keys, -n, -1)

  /** Reverse a series — cs_reverse (func.c:1203-1306): output positions
    * are the DENSE reversed ordinals 0..cnt−1, as in the reference (which
    * reverses an array, so its output is always densely numbered).
    *
    * Renumbering, not the `cnt−1−pos` relabel: after slicing/filtering
    * the input pos is non-dense, and the relabel would emit positions
    * that are not a permutation of 0..cnt−1 — including NEGATIVE ones
    * when max(pos) ≥ cnt, silently breaking every downstream consumer of
    * the pos ≥ 0 invariant (grid buckets, head/span windows). Found by
    * differential fuzzing (seed 8047: equiJoin → reverse → gridAgg).
    * Keyed: one row_number window (parallel across keys); keyless: the
    * ranged numbering scan over descending pos — no single-task stage.
    */
  def reverse(df: DataFrame, keys: Seq[String]): DataFrame =
    if (keys.isEmpty) {
      graft.window.Moving.guardNames(df.columns.toSeq, Seq("__rp"), "reverse")
      attachPosRanged(df.withColumnRenamed("pos", "__rp"), Seq(),
        Seq(col("__rp") * -1L), out = "pos").drop("__rp")
    }
    else {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col("pos").desc)
      df.withColumn("pos", row_number().over(w).cast("long") - 1L)
    }

  /** Repeat each element n times — cs_repeat (func.c:769-862). New pos is
    * pos*n + repeat index, preserving order.
    */
  def repeat(df: DataFrame, n: Int): DataFrame = {
    // n = 0 would NOT be empty: sequence(0, -1) infers step -1 and yields
    // [0, -1], emitting two rows per element with a NEGATIVE pos
    require(n > 0, s"repeat count must be positive, got $n")
    graft.window.Moving.guardNames(df.columns.toSeq, Seq("__r"), "repeat")
    df.withColumn("__r", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("pos", col("pos") * n + col("__r"))
      .drop("__r")
  }

  /** Concatenate series b after series a — cs_concat `|||`
    * (func.c:2353-2456). Offsets b's pos by a's per-key max(pos)+1 — NOT
    * a's count: after slicing/thinning a's pos has gaps and a count-based
    * shift would collide b's positions with a's surviving labels,
    * breaking pos uniqueness. For dense a the two are identical. `keys`
    * are the columns on which the two frames align (empty = single
    * series). The offset stays a lazy part of the plan (broadcast 1-row
    * agg / per-key join) — no driver-side count job at plan time.
    */
  def concat(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    graft.plans.UnionDisjointFilterCollapse.install(a.sparkSession)
    graft.window.Moving.guardNames(a.columns.toSeq ++ b.columns, Seq("__aoff"),
      "concat")
    val cols = a.columns.toSeq
    if (keys.isEmpty) {
      val off = a.agg((coalesce(max(col("pos")), lit(-1L)) + 1L).as("__aoff"))
      val bShift = b.crossJoin(broadcast(off))
        .withColumn("pos", col("pos") + col("__aoff"))
        .select(cols.map(col): _*)
      a.select(cols.map(col): _*).unionByName(bShift)
    } else {
      // no broadcast hint: one offset row per key — AQE picks broadcast
      // only when the built side fits (see withKeyCount). Null-safe key
      // equality so null-key groups shift like any other (a plain
      // equi-join would leave them at offset 0, colliding with a's).
      val offs = a.groupBy(keys.map(col): _*)
        .agg((max(col("pos")) + 1L).as("__aoff")).alias("__cr")
      val bl = b.alias("__cl")
      val on = keys.map(k => col(s"__cl.$k") <=> col(s"__cr.$k")).reduce(_ && _)
      val bShift = bl.join(offs, on, "left")
        .select(cols.map(c =>
          if (c == "pos")
            (col("__cl.pos") + coalesce(col("__cr.__aoff"), lit(0L))).as("pos")
          else col(s"__cl.$c")): _*)
      a.select(cols.map(col): _*).unionByName(bShift)
    }
  }

  /** Collapse adjacent duplicates — cs_unique (func.c:3737-3844). Keeps the
    * first element of each run of equal `value`s; output keeps original pos.
    * Keyless series renumber ordinally (ranged, gap-safe for non-dense pos
    * after slicing/filtering) and fetch the predecessor with an
    * ordinal-equi self-join — parallel shuffles, no whole-frame window,
    * and `value` may be any comparable type.
    */
  def uniqueAdjacent(df: DataFrame, keys: Seq[String], value: String): DataFrame = {
    // a run of NULLs collapses to its first element too (null-safe
    // inequality), so the first row needs its own marker — a NULL
    // predecessor VALUE is no longer distinguishable from "no predecessor"
    if (keys.isEmpty) {
      val ord = attachPosRanged(df, Seq(), Seq(col("pos")), out = "__ord")
      val prev = ord.select((col("__ord") + 1L).as("__ord"), col(value).as("__prev"))
      ord.join(prev, Seq("__ord"), "left")
        .filter(col("__ord") === 0L || !(col("__prev") <=> col(value)))
        .drop("__prev", "__ord")
    } else {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col("pos"))
      df.withColumn("__prev", lag(col(value), 1).over(w))
        .withColumn("__rn1", row_number().over(w) === 1)
        .filter(col("__rn1") || !(col("__prev") <=> col(value)))
        .drop("__prev", "__rn1")
    }
  }

  /** Positions where cond holds — cs_filter_pos (func.c:2834-2930). */
  def filterPos(df: DataFrame, cond: Column): DataFrame =
    df.filter(cond).select(col("pos"))

  /** First n matching positions — cs_filter_first_pos (func.c:2931-2980). */
  def filterFirstPos(df: DataFrame, cond: Column, n: Int): DataFrame =
    df.filter(cond).orderBy(col("pos")).limit(n).select(col("pos"))

  /** Gather elements of `df` at `positions` — cs_map (btree.c:255-347).
    * A join on pos; Catalyst broadcasts the position side when small,
    * which reproduces the reference's random-access B-tree probe without a
    * full shuffle. A position listed twice gathers its element TWICE —
    * cs_map emits one element per entry of the position sequence, so
    * multiplicity is preserved, not deduplicated.
    */
  def gather(df: DataFrame, positions: DataFrame, keys: Seq[String]): DataFrame = {
    val onCols = keys :+ "pos"
    df.join(positions.select(onCols.map(col): _*), onCols, "inner")
  }
}
