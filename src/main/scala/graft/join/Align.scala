package graft.join

import graft.plans.AsofMerge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Timestamp-alignment joins — the reference's only join family
  * (SURVEY.md §2.7; about.txt:86 "Not able to perform joins").
  *
  * The workhorse is the as-of join, and it has one implementation:
  * [[graft.plans.AsofMerge.asofJoinDir]], the distributed form of the
  * reference's single merge pass over two sorted series
  * (func.c:4591-4662). Keyed calls plan one shuffle + sort per side and a
  * per-partition two-cursor merge; keyless calls run its ranged carry
  * scan. Every as-of entry here is a short composition over it.
  *
  * The two layers differ only in their NULL contracts. AsofMerge carries
  * the matched right ROW, whatever its value. Align skips NULL values (a
  * NULL quote never masks an earlier real one), and a left row with a
  * NULL ts gets no match. Align gets both from one right-side pre-filter
  * (ts and values non-NULL) and one output gate ([[skipNulls]]).
  */
object Align {

  /** Fail loud when an input frame already carries one of an operator's
    * reserved working/output names. Case-INSENSITIVE, because Spark column
    * resolution is case-insensitive by default — a user `__PREVN` would
    * otherwise slip past an exact-match guard and be silently clobbered
    * by the working `__prevn` (same reasoning as
    * AsofMerge.guardInternalNames).
    */
  private def guardReserved(cols: Seq[String], names: Seq[String], ctx: String): Unit = {
    val lower = names.map(_.toLowerCase).toSet
    val clash = cols.filter(c => lower.contains(c.toLowerCase)).distinct
    require(clash.isEmpty, s"column name(s) ${clash.mkString(", ")} collide " +
      s"with $ctx's reserved working names (${names.mkString("/")}); " +
      "rename them before the join")
  }

  /** The result column must not shadow an existing left column: a chained
    * `asofJoin(asofJoin(l, r1, ...), r2, ...)` with the default `outCol`
    * would otherwise silently overwrite the first join's output (or, worse,
    * `outCol == ts` would replace the timestamp itself).
    */
  private def guardOutCol(leftCols: Seq[String], outCol: String, ctx: String): Unit =
    require(!leftCols.exists(_.equalsIgnoreCase(outCol)),
      s"output column '$outCol' already exists on the left side of $ctx; " +
        "pass a distinct outCol instead of silently overwriting it")

  /** The value-skipping as-of every entry below runs: right rows with a
    * NULL ts or a NULL value in any of `valueCols` never match, so the
    * merge's row carry surfaces the latest non-NULL values; and each
    * `outCols` entry is NULL where the left ts is NULL (that row holds an
    * end of the merge order, so its carry is not a temporal match).
    */
  private def skipNulls(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
                        valueCols: Seq[String], outCols: Seq[String],
                        direction: Int, inclusive: Boolean): DataFrame = {
    val matchable = (ts +: valueCols).map(col(_).isNotNull).reduce(_ && _)
    val joined = AsofMerge.asofJoinDir(left, right.filter(matchable), keys, ts,
      valueCols, outCols, direction, inclusive)
    outCols.foldLeft(joined)((df, o) => df.withColumn(o, when(col(ts).isNotNull, col(o))))
  }

  /** As-of join — cs_asof_join (func.c:4499-4662): for each left row, the
    * latest right `valueCol` with right.ts <= left.ts (per key). Left rows
    * before any right row get NULL. Output: left columns + `asofValue`.
    *
    * @param keys  equality keys (empty for single global series)
    * @param ts    ordering/timestamp column name present on both sides
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
               valueCol: String, outCol: String = "asof_value"): DataFrame =
    asofJoinDir(left, right, keys, ts, valueCol, outCol, direction = -1)

  /** Directional as-of — the TABLE_join direction parameter
    * (func.c:6494-6548, imcs--1.1.sql:334-347): direction −1 matches the
    * latest right ts <= left ts ("preceding", the classic as-of); +1 matches
    * the EARLIEST right ts >= left ts ("succeeding"), the merge run in
    * descending ts order.
    *
    * `inclusive = false` excludes an equal-ts right row from the match
    * (strictly-preceding / strictly-succeeding) — cs_stretch's boundary
    * (func.c:4333: the cursor advances while left ts >= right ts, so an
    * equal right row is consumed, not carried).
    *
    * NULL-valued right rows are skipped, not carried. NULL timestamps
    * carry no position on the time axis: right rows with a NULL ts never
    * match, and left rows with a NULL ts get a NULL `outCol` — a match
    * requires an actual right ts on the required side of an actual left
    * ts.
    */
  def asofJoinDir(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
                  valueCol: String, outCol: String = "asof_value",
                  direction: Int = -1, inclusive: Boolean = true): DataFrame = {
    require(direction == -1 || direction == 1, "direction must be -1 or +1")
    guardOutCol(left.columns.toSeq, outCol, "asofJoinDir")
    skipNulls(left, right, keys, ts, Seq(valueCol), Seq(outCol), direction, inclusive)
  }

  /** Nearest-timestamp as-of — the reference's DOCUMENTED cs_asof_join
    * semantics (user_guide.html: `cs_asof_join_pos('{4,9}','{1,3,6,10}')
    * = '{1,3}'` — left ts 9 matches the FUTURE ts 10): for each left
    * row, the right value whose ts is closest in either direction;
    * equidistant ties take the PRECEDING element. NULL only when the
    * right side has no rows for the key (or only NULL values).
    *
    * [[asofJoin]] keeps the backward-only default deliberately — it is
    * the kdb/pandas/DuckDB industry semantics and the causally safe one
    * (no future leakage); this variant is the reference-parity form.
    * Composition: a backward pass then a strictly-forward pass, each
    * carrying the matched value and its ts as two columns so the pick can
    * compare distances; NULL-valued right rows neither match nor mask.
    */
  def asofJoinNearest(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
                      valueCol: String, outCol: String = "asof_value"): DataFrame = {
    guardReserved(left.columns.toSeq ++ right.columns,
      Seq("__prevn", "__prevt", "__nextn", "__nextt"),
      "asofJoinNearest")
    guardOutCol(left.columns.toSeq, outCol, "asofJoinNearest")
    val withPrev = skipNulls(left, right, keys, ts, Seq(valueCol, ts),
      Seq("__prevn", "__prevt"), direction = -1, inclusive = true)
    // strictly-forward: an equal-ts right row is already the backward
    // match at distance 0; excluding it here keeps the passes disjoint
    skipNulls(withPrev, right, keys, ts, Seq(valueCol, ts),
      Seq("__nextn", "__nextt"), direction = 1, inclusive = false)
      .withColumn(outCol,
        when(col("__nextt").isNull ||
          (col("__prevt").isNotNull &&
            (col(ts) - col("__prevt")) <= (col("__nextt") - col(ts))),
          col("__prevn"))
          .otherwise(col("__nextn")))
      .drop("__prevn", "__prevt", "__nextn", "__nextt")
  }

  /** Tolerance-bounded as-of join: the classic as-of match, but the
    * carried value is dropped (NULL) when it is staler than `tolerance`
    * (left.ts − matched.ts > tolerance). The kdb/pandas `tolerance=`
    * semantics — a quote older than the staleness budget is no match at
    * all. One merge carries the value and the matched ts (`__mts`); the
    * staleness gate is a plain Column on top.
    */
  def asofJoinTol(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
                  valueCol: String, tolerance: Column,
                  outCol: String = "asof_value"): DataFrame = {
    guardReserved(left.columns.toSeq ++ right.columns :+ outCol,
      Seq("__mts"), "asofJoinTol")
    guardOutCol(left.columns.toSeq, outCol, "asofJoinTol")
    skipNulls(left, right, keys, ts, Seq(valueCol, ts), Seq(outCol, "__mts"),
      direction = -1, inclusive = true)
      .withColumn(outCol, when((col(ts) - col("__mts")) <= tolerance, col(outCol)))
      .drop("__mts")
  }

  /** Positions in `right` matching each left ts — cs_asof_join_pos
    * (func.c:4591-4662): the as-of join carrying right.pos.
    */
  def asofJoinPos(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String): DataFrame =
    asofJoin(left, right, keys, ts, "pos", "right_pos")

  /** Sorted-merge equi-join on ts — cs_join / cs_join_pos
    * (func.c:4677-4801): inner join on (keys, ts) returning left columns +
    * the right value. Spark plans a sort-merge join (or broadcast if one
    * side is small) — the distributed form of the reference's merge.
    */
  def equiJoin(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
               valueCol: String, outCol: String = "join_value"): DataFrame = {
    guardOutCol(left.columns.toSeq, outCol, "equiJoin")
    left.join(
      right.select((keys :+ ts).map(col) :+ col(valueCol).as(outCol): _*),
      keys :+ ts, "inner")
  }

  /** Forward temporal align with fill — cs_stretch (func.c:4308-4360):
    * for each left row, the right value at the FIRST right ts STRICTLY
    * GREATER than the left ts; `filler` once the right series is
    * exhausted — the guide's worked example `cs_stretch('{1,2,3,4,5}',
    * '{2,4}', '{1.1,2.2}', 1.0) = '{1.1,2.2,2.2,1.0,1.0}'`, and its
    * split-adjustment use (each date carries the product of FUTURE
    * splits; a split on the date itself no longer applies). One
    * strictly-succeeding as-of pass.
    */
  def stretch(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
              valueCol: String, filler: Column, outCol: String = "stretch_value"): DataFrame =
    asofJoinDir(left, right, keys, ts, valueCol, outCol, direction = 1, inclusive = false)
      .withColumn(outCol, coalesce(col(outCol), filler))

  /** Union gap fill — cs_stretch0 (func.c:4395-4465): the merged UNION
    * of both sides' timestamps per key — the right value where the right
    * side has the timestamp, `filler` where only the left does (the
    * guide's `cs_stretch0('{1,2,3,5}','{2,3,4}','{1.1,1.2,1.3}',0.0) =
    * '{0.0,1.1,1.2,1.3,0.0}'`). A full outer join on (keys, ts) IS that
    * merge in the set-oriented world — one shuffle, no window. Output:
    * keys, ts, `outCol`; each side should be ts-unique per key (the
    * series contract the append guard enforces), or the join fans out.
    */
  def stretch0(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
               valueCol: String, filler: Column, outCol: String = "stretch_value"): DataFrame = {
    // a frame already carrying the merge's working names would be silently
    // shadowed by the rename below — fail loud (same regex-guard pattern
    // as asofJoinDir's reserved names)
    guardReserved(left.columns.toSeq ++ right.columns,
      Seq("__rv0", "__has_r"), "stretch0")
    require(!(keys :+ ts).exists(_.equalsIgnoreCase(outCol)),
      s"stretch0 output column '$outCol' collides with a key/ts column")
    val lt = left.select((keys :+ ts).map(col): _*)
    val rt = right.select((keys :+ ts).map(col) :+ col(valueCol).as("__rv0"): _*)
      .withColumn("__has_r", lit(1))
    lt.join(rt, keys :+ ts, "full")
      .withColumn(outCol, when(col("__has_r") === 1, col("__rv0")).otherwise(filler))
      .drop("__rv0", "__has_r")
  }

  /** Merge two sorted series preserving order, duplicates kept — cs_union
    * (func.c:3846-3936). In the set-oriented world this is UNION ALL; order
    * is re-derivable from (keys, ts), so no global sort is forced here.
    * Installs [[graft.plans.UnionDisjointFilterCollapse]] so a
    * concat-of-disjoint-slices of the SAME table (the reference's
    * Quote_concat idiom) optimizes to ONE scan instead of one per arm.
    */
  def unionMerge(a: DataFrame, b: DataFrame): DataFrame = {
    graft.plans.UnionDisjointFilterCollapse.install(a.sparkSession)
    val cols = a.columns.toSeq
    a.unionByName(b.select(cols.map(col): _*))
  }

  /** Bucketized interval (range) join: left rows whose `ts` falls inside a
    * right-side interval [start, end], with optional equality keys.
    * Without this, Spark plans a pure inequality join as
    * BroadcastNestedLoopJoin (O(n·m) and build-side-must-fit) and a
    * keys+range join as an equi-join on the keys alone with the range as a
    * post-filter — fine only when the keys are selective. Bucketizing the
    * time axis turns the range itself into an equi-key: intervals
    * replicate to every `bucket`-width slot they touch
    * (`ceil(len/bucket)+1` rows), points map to one slot, and the join is
    * an ordinary shuffled hash/sort-merge on (keys, slot) with the exact
    * predicate re-checked after. A point matches an interval in EXACTLY
    * one slot (the point's own), so no dedup pass is needed.
    *
    * Output: left columns + `start`/`end` + `rightCols`. `bucket` should
    * be of the order of typical interval length: longer buckets mean fewer
    * interval replicas but more false candidates per slot; at 100 TB the
    * replication factor (interval_len/bucket) is the knob that keeps the
    * shuffle linear. Integral division (`div`) keeps slot assignment exact
    * at int64-nanosecond magnitudes, where a double-rounded `floor(ts/b)`
    * can misbucket boundary timestamps (2^60 ns is past double's 53-bit
    * integer range).
    */
  /** [[rangeJoin]] with the bucket width derived from the data instead of
    * a caller-supplied knob: the median right-side interval length (one
    * approx-quantile job over a single computed column). The bucket
    * trades interval replication (`ceil(len/bucket)+1` rows per interval)
    * against false candidates per slot; anchoring it at the median keeps
    * the TYPICAL interval's replication at ~2 rows while tail intervals
    * pay proportionally to their length — the property that keeps the
    * shuffle linear without asking the caller to know their interval
    * distribution. The longest interval clamps the bucket from below so
    * no single interval replicates past ~1024 slots (a heavy tail must
    * never overflow `sequence()`). Degenerate inputs (empty right, all
    * zero-length intervals) fall back to bucket 1; results are bucket-INDEPENDENT by
    * construction (the exact predicate is re-checked), so this only
    * changes the plan's constant factors, never its output.
    */
  def rangeJoinAuto(left: DataFrame, right: DataFrame, keys: Seq[String],
                    ts: String, start: String, end: String,
                    rightCols: Seq[String]): DataFrame = {
    // one agg job derives both anchors: the approximate median sets the
    // bucket, and the EXACT max clamps it from below — a heavy-tail
    // interval (one open-ended range among second-long ones) would
    // otherwise need len/median slots, which past ~2^31 is not a
    // constant-factor slowdown but a hard sequence() overflow. The clamp
    // bounds any single interval's replication at ~maxReplicas rows.
    val maxReplicas = 1024L
    val row = right
      .select((col(end) - col(start)).cast("double").as("__len"))
      .agg(expr("approx_percentile(__len, 0.5)").as("med"),
        max(col("__len")).as("mx")).head
    val bucket =
      if (row.isNullAt(0) || row.isNullAt(1)) 1L
      else {
        val med = math.max(1L, row.getDouble(0).toLong)
        val mx = math.max(1L, row.getDouble(1).toLong)
        math.max(med, mx / maxReplicas)
      }
    rangeJoin(left, right, keys, ts, start, end, bucket, rightCols)
  }

  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
                start: String, end: String, bucket: Long,
                rightCols: Seq[String]): DataFrame = {
    require(bucket > 0, s"bucket width must be positive, got $bucket")
    guardReserved(left.columns.toSeq ++ right.columns, Seq("__slot"), "rangeJoin")
    val lb = left.withColumn("__slot", expr(s"`$ts` div ${bucket}L"))
    val rb = right
      .select((keys :+ start :+ end).map(col) ++ rightCols.map(col): _*)
      .withColumn("__slot",
        explode(sequence(expr(s"`$start` div ${bucket}L"),
          expr(s"`$end` div ${bucket}L"))))
    lb.join(rb, keys :+ "__slot")
      .filter(col(ts) >= col(start) && col(ts) <= col(end))
      .drop("__slot")
  }

  /** Window join — kdb's `wj` / Flint's summarizeWindows: for each left
    * row, aggregate the right rows whose ts falls in
    * [left.ts − before, left.ts + after] within the same key group.
    * Returns every left row + (win_count, win_sum, win_avg, win_min,
    * win_max) over the right `valueCol` (count 0 and NULL stats when the
    * window is empty).
    *
    * Composition, not new machinery: the left rows BECOME intervals and
    * [[rangeJoin]] buckets the time axis so the range is an equi-key —
    * a shuffled hash join on (keys, slot), never BroadcastNestedLoop —
    * then one hash aggregate per DISTINCT (keys, ts) and a left join
    * plants the empty windows. Duplicate left rows are safe: intervals
    * dedupe before the range join (a window is a function of (keys, ts),
    * so duplicates would double-count every point), and each duplicate
    * row receives the same — correct — window stats from the final join.
    * `bucket` is the slot width (defaults to the window span), the same
    * replication knob rangeJoin documents. The win_* output names and
    * the __-prefixed working names are reserved: a left frame already
    * carrying one fails loud instead of silently colliding.
    */
  def windowJoin(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
                 before: Long, after: Long, valueCol: String,
                 bucket: Long = 0L): DataFrame = {
    // kdb wj windows are arbitrary [ts − before, ts + after] pairs:
    // negative `before` gives a strictly-future window ([t+1, t+5]),
    // negative `after` a strictly-past one — the only requirement is
    // that the window is non-empty (start <= end)
    require(before + after >= 0,
      s"window [ts−$before, ts+$after] is empty (start > end)")
    guardReserved(left.columns.toSeq ++ right.columns,
      Seq("win_count", "win_sum", "win_avg", "win_min", "win_max",
        "__wstart", "__wend", "__rts", "__rv"), "windowJoin")
    val b = if (bucket > 0) bucket else math.max(before + after, 1L)
    // dedupe BEFORE the range join: the window is a function of (keys, ts),
    // and a duplicated interval would count every matched point twice
    val intervals = left.select(
      (keys :+ ts).map(col) :+
        (col(ts) - before).as("__wstart") :+ (col(ts) + after).as("__wend"): _*)
      .dropDuplicates(keys :+ ts)
    val points = right.select(
      (keys.map(col) :+ col(ts).as("__rts")) :+ col(valueCol).as("__rv"): _*)
    val matched = rangeJoin(points, intervals, keys, "__rts",
      "__wstart", "__wend", b, rightCols = Seq(ts))
    // count the VALUES, not the rows: a NULL-valued right row contributes
    // to no other stat, and counting it would make win_avg disagree with
    // win_sum/win_count (and an all-NULL window look non-empty)
    val stats = matched.groupBy((keys :+ ts).map(col): _*)
      .agg(count(col("__rv")).as("win_count"), sum(col("__rv")).as("win_sum"),
        avg(col("__rv")).as("win_avg"), min(col("__rv")).as("win_min"),
        max(col("__rv")).as("win_max"))
    left.join(stats, keys :+ ts, "left")
      .na.fill(0L, Seq("win_count"))
  }

  /** Skew-salted inner equi-join: for hot keys whose rows overwhelm one
    * reducer and whose other side cannot broadcast. The large skewed side
    * gets a per-row round-robin salt in [0, salt); the smaller side
    * is replicated `salt` times; the join key becomes (keys, salt), so a
    * hot key's rows spread over `salt` tasks. AQE's skew-join already
    * splits sort-merge skew at runtime — reach for explicit salting when
    * composing with operators AQE cannot split (windows over the join
    * output) or when replication cost is acceptable up front.
    */
  def saltedEquiJoin(skewed: DataFrame, small: DataFrame, keys: Seq[String],
                     salt: Int): DataFrame = {
    require(salt > 0, s"salt fan-out must be positive, got $salt " +
      "(pmod by 0 is NULL under non-ANSI semantics — the join would " +
      "silently return zero rows)")
    guardReserved(skewed.columns.toSeq ++ small.columns, Seq("__salt"),
      "saltedEquiJoin")
    // salt on a per-ROW counter, not a content hash: skewed hot keys are
    // typically byte-identical repeats (heartbeats, default values), and
    // hashing the row contents would send all of them to ONE salt bucket —
    // the exact pile-up salting exists to spread. The monotonic id cycles
    // round-robin within each input partition; it varies between runs,
    // which is fine because the result is salt-independent by construction.
    val ls = skewed.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(salt.toLong)))
    val rs = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(salt.toLong - 1))))
    ls.join(rs, keys :+ "__salt").drop("__salt")
  }

  /** Bloom-filter semi-join reduction: when the probe side of a big join
    * retains only a small fraction of rows but the build side is too big
    * to BROADCAST AS DATA, its KEY SET still fits a Bloom sketch. The
    * filter prunes the big side BEFORE its shuffle — the dominant cost of
    * a selective 100 TB join — at the price of a bounded false-positive
    * rate, which the join itself then removes (never wrong, only ≤fpp
    * wasted shuffle). Result is EXACTLY the plain inner join.
    *
    * `expectedItems` sizes the sketch (8-16 bits/key at fpp 1-3%); the
    * build-side scan to construct it is one extra pass, worthwhile when
    * selectivity < ~50%.
    */
  def bloomFilteredJoin(big: DataFrame, build: DataFrame, keys: Seq[String],
                        expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.types._
    require(keys.size == 1, "bloom reduction keys one column; compound keys: cs_cat first")
    val k = keys.head
    // The probe must hash EXACTLY like stat.bloomFilter's put: integral
    // types go through putLong (so probe with mightContainLong on the
    // widened long), strings through the UTF-8-bytes path (probe with
    // mightContainString). Any other type would silently cast — under
    // non-ANSI casting a mismatch yields NULL → mightContain false for
    // every row, violating the exact-inner-join contract — so reject it.
    val dt = big.schema(k).dataType
    require(build.schema(k).dataType == dt,
      s"bloom key '$k' type mismatch: probe ${dt.simpleString} vs build " +
        build.schema(k).dataType.simpleString)
    val bf = build.stat.bloomFilter(k, expectedItems, fpp)
    val bc = big.sparkSession.sparkContext.broadcast(bf)
    val probe = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        udf((v: java.lang.Long) => v != null && bc.value.mightContainLong(v))
          .apply(col(k).cast(LongType))
      case StringType =>
        udf((v: String) => v != null && bc.value.mightContainString(v))
          .apply(col(k))
      case other => throw new IllegalArgumentException(
        s"bloomFilteredJoin supports integral or string keys, got ${other.simpleString}")
    }
    big.filter(probe).join(build, keys)
  }
}
