package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** The as-of join as a first-class Catalyst operator: a logical node, a
  * planner strategy, and a physical streaming merge — the tier-(c) custom
  * operator path (LogicalPlan + Strategy + SparkPlan) for the one
  * semantics the reference treats as its workhorse (func.c:4591-4662:
  * one merge pass over two sorted series).
  *
  * This is the engine's one as-of join: [[graft.join.Align]]'s as-of
  * entries are compositions over [[AsofMerge.asofJoinDir]]. The exec
  * declares `requiredChildDistribution`/`requiredChildOrdering`, so Spark
  * plants one Exchange + Sort per side (exactly a sort-merge join's
  * scaffolding, AQE-coalescible), and the operator itself is a zero-copy
  * per-partition two-cursor merge: O(n+m), no window buffer, no union
  * materialization. Per key-partition the merge is independent, so the
  * plan scales like any shuffled join.
  *
  * Semantics (backward as-of): for each left row, the value columns of
  * the latest right row with right.ts <= left.ts (strictly < when
  * `inclusive=false`) in the same key group; NULLs when no such row. NULL
  * keys compare equal to each other and NULL order keys sort first.
  *
  * One implementation, two NULL contracts. This layer carries the
  * latest right ROW even when its value column is NULL (a NULL quote at
  * ts=5 masks a real quote at ts=3): row-carry is the reference's own
  * contract (func.c:4591-4662 copies whatever element is current, NULL
  * or not). Align skips NULL values instead (the earlier non-null match
  * surfaces) and gives a NULL-ts left row no match; it gets both from a
  * right-side pre-filter and one output gate over this merge.
  */
case class AsofJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightValues: Seq[Attribute],
    inclusive: Boolean,
    direction: Int = -1) extends BinaryNode {
  require(leftKeys.size == rightKeys.size, "as-of key arity mismatch")
  require(direction == -1 || direction == 1, "direction must be -1 or +1")
  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinPlan]] as [[AsofMergeJoinExec]]. Registered either at
  * runtime ([[AsofMerge.install]]) or config-time
  * ([[graft.sqlext.GraftExtensions]]).
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lts, rts, vals, incl, dir) =>
      AsofMergeJoinExec(lk, rk, lts, rts, vals, incl, dir,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Physical streaming as-of merge. Children arrive co-partitioned on the
  * keys and sorted by (keys, ts) — EnsureRequirements supplies the
  * Exchange/Sort pair from the declared requirements, so this node only
  * runs the per-partition merge: advance the right cursor while its
  * (key, ts) does not pass the current left row, carrying the last
  * same-key value; emit left columns + carry (or NULLs).
  *
  * Keyless series (the reference's default single-series shape) declare
  * [[AllTuples]] — a single merge task, the honest requirement for a
  * global merge. The API layer never plans this shape for lane-able OR
  * dictionary-encodable value types: [[AsofMerge.asofJoinDir]] routes
  * keyless calls to the ranged carry-forward scan, which parallelizes
  * the carry as a prefix monoid with the same row-carry semantics;
  * strings/binary/decimals ride the scan as dictionary codes on exact
  * hi/lo long lanes ([[AsofMerge.keylessDictAsof]]) — including ARRAYS,
  * which group/join by value; structs of such fields decompose per-field
  * onto the lanes and reassemble ([[AsofMerge.keylessStructAsof]]);
  * map-bearing values (any depth or position) carry the matched right
  * ROW's identity through the int64 lanes and fetch the value back with
  * one join ([[AsofMerge.keylessRowIdAsof]]). AllTuples is reachable
  * only by constructing [[AsofJoinPlan]] directly.
  */
case class AsofMergeJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightValues: Seq[Attribute],
    inclusive: Boolean,
    direction: Int,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    if (leftKeys.isEmpty) AllTuples :: AllTuples :: Nil
    else ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // direction +1 ("succeeding": earliest right ts >= left ts) is the exact
  // mirror: scan ts DESCENDING, so "latest row not past the cursor" becomes
  // the smallest qualifying ts — the same trick Align.asofJoinDir uses
  private def tsDir = if (direction == -1) Ascending else Descending

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, tsDir),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTs, tsDir))

  // rows stream out in the left child's (keys, ts) sort order and keep its
  // partitioning — downstream sorts/aggs on the keys reuse both
  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val incl = inclusive
    val dir = direction
    val lOut = left.output
    val rOut = right.output
    val lk = leftKeys
    val rk = rightKeys
    val lts = leftTs
    val rts = rightTs
    val rvals = rightValues
    val outAttrs = output
    left.execute().zipPartitions(right.execute(), preservesPartitioning = true) {
      (lIter, rIter) =>
        val lKeyGen = UnsafeProjection.create(lk, lOut)
        val rKeyGen = UnsafeProjection.create(rk, rOut)
        val lTsGen = UnsafeProjection.create(Seq(lts), lOut)
        val rTsGen = UnsafeProjection.create(Seq(rts), rOut)
        val valGen = UnsafeProjection.create(rvals, rOut)
        val keyOrd = RowOrdering.createNaturalAscendingOrdering(lk.map(_.dataType))
        val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lts.dataType))
        val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
        val joined = new JoinedRow
        val nullVal = new GenericInternalRow(rvals.size)
        // carry survives across left rows; the projections above reuse
        // their buffers, so the carried key/value are explicit copies
        var carryKey: UnsafeRow = null
        var carryVal: UnsafeRow = null
        var rCur: InternalRow = if (rIter.hasNext) rIter.next() else null
        lIter.map { lRow =>
          val lKey = lKeyGen(lRow)
          val lTsRow = lTsGen(lRow)
          var advancing = true
          while (advancing && rCur != null) {
            val rKey = rKeyGen(rCur)
            val c = keyOrd.compare(rKey, lKey)
            if (c < 0) {
              // right rows for keys the left side has moved past: skip
              rCur = if (rIter.hasNext) rIter.next() else null
            } else if (c == 0 && {
              // signed compare in scan direction: dir=-1 advances while
              // rTs <= lTs (ascending scan), dir=+1 while rTs >= lTs
              // (descending scan) — both are tc*dir >= 0
              val tc = tsOrd.compare(rTsGen(rCur), lTsRow) * dir
              if (incl) tc >= 0 else tc > 0
            }) {
              carryVal = valGen(rCur).copy()
              carryKey = rKey.copy()
              rCur = if (rIter.hasNext) rIter.next() else null
            } else {
              advancing = false
            }
          }
          val v =
            if (carryKey != null && keyOrd.compare(carryKey, lKey) == 0) carryVal
            else nullVal
          numOutputRows += 1
          resultProj(joined(lRow, v))
        }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofMergeJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level API over the custom operator. */
object AsofMerge {

  /** Idempotently add the planner strategy to a live session. */
  def install(spark: SparkSession): Unit = installStrategy(spark, AsofJoinStrategy)

  /** Idempotently add a planner strategy (this one's, or
    * [[OrderedScanStrategy]]) to a live session. Serialized on the
    * ExperimentalMethods instance — `extraStrategies` is a plain shared
    * var, so an unsynchronized check-then-append could lose an install
    * under concurrent callers (same reasoning as
    * [[UnionDisjointFilterCollapse.install]]).
    */
  private[graft] def installStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val e = spark.experimental
    e.synchronized {
      if (!e.extraStrategies.contains(s)) e.extraStrategies = e.extraStrategies :+ s
    }
  }

  /** As-of join via the custom plan node — left columns + `outCol`, the
    * latest right `valueCol` with right.ts <= left.ts per key (strictly
    * earlier when `inclusive=false`). Row-carry: a NULL value at a later
    * ts masks an earlier non-null one. [[graft.join.Align.asofJoin]] is
    * the value-skipping form over the same merge.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
               valueCol: String, outCol: String = "asof_value",
               inclusive: Boolean = true): DataFrame =
    asofJoinDir(left, right, keys, ts, Seq(valueCol), Seq(outCol),
      direction = -1, inclusive = inclusive)

  /** Directional, multi-column form — the merge every
    * [[graft.join.Align]] as-of entry runs: every `valueCols(i)` from the
    * matched right row lands in `outCols(i)`; direction −1 matches the
    * latest right ts <= left ts, +1 the earliest right ts >= left ts
    * (TABLE_join's direction enum, func.c:6494-6548). Carrying several
    * columns costs one merge.
    *
    * NOTE (map-bearing values): the row-id route those take
    * ([[keylessRowIdAsof]]) carries ONE whole right row on DUPLICATE right
    * ts values, but which of the tied rows is an arbitrary choice that
    * may differ between evaluations (see the route's scaladoc;
    * AsofMergeSpec pins the one-whole-row contract).
    */
  def asofJoinDir(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
                  valueCols: Seq[String], outCols: Seq[String],
                  direction: Int = -1, inclusive: Boolean = true): DataFrame = {
    require(valueCols.size == outCols.size, "valueCols/outCols arity mismatch")
    // caller-supplied output names must not collide with the keyless
    // scan's internal temps (__doN etc.) — checked ONCE here at the public
    // surface; the internal routes below legitimately pass __doN temp
    // names between themselves
    guardOutCols(outCols)
    // nor with the LEFT frame's own columns: the keyless routes build the
    // output via withColumn, which would silently REPLACE a same-named
    // left column (and the exec route would emit duplicates) — three
    // divergent behaviors, one of them silent data loss. Fail loud.
    locally {
      val lLower = left.columns.map(_.toLowerCase).toSet
      val clash = outCols.filter(c => lLower(c.toLowerCase))
      require(clash.isEmpty,
        s"output column name(s) ${clash.mkString(", ")} already exist on " +
          "the left frame — pick different outCols (the join would " +
          "silently replace or duplicate them)")
    }
    // Keyless series (the reference's default single-series shape):
    // AsofMergeJoinExec would declare AllTuples — ONE merge task, the
    // honest requirement for a global merge but a serial plan. Route to
    // the ranged carry-forward scan instead (the parallel-prefix
    // machinery of graft.plans.OrderedScan), which keeps the
    // exec's row-carry NULL semantics via explicit null-flag lanes and
    // exact int64 carry via hi/lo lane splitting. Lane-able value types
    // (see lanable) ride directly; dictionary-encodable ones (strings,
    // binary, decimals) ride as long codes (see keylessDictAsof); only
    // complex types fall through to the single-task exec, documented at
    // AsofMergeJoinExec.requiredChildDistribution. Name resolution here
    // is case-insensitive, like the exec path's attr().
    if (keys.isEmpty) {
      def resolve(name: String): Option[String] =
        right.schema.fieldNames.find(_.equalsIgnoreCase(name))
      val rVals = valueCols.map(resolve)
      val lTs = left.schema.fieldNames.find(_.equalsIgnoreCase(ts))
      if (lTs.isDefined && resolve(ts).isDefined && rVals.forall(_.isDefined)) {
        val cols = rVals.flatten
        val dts = cols.map(c => right.schema(c).dataType)
        if (dts.forall(lanable))
          return keylessRangedAsof(left, right, lTs.get, cols, outCols,
            direction, inclusive)
        // map-bearing values (top-level maps, maps nested to any depth,
        // maps inside arrays or structs): Spark cannot group/join BY a
        // map, so no dictionary or lane carries the value itself — carry
        // the matched right ROW's identity through the exact int64 lanes
        // and fetch the value columns back with one hash join
        // (keylessRowIdAsof). Replaces the retired entry-array and
        // recursive-transcode routes: no per-column dictionary distinct
        // over high-cardinality entry arrays, no O(depth) transcode
        // expression trees; checked first because a map fits no other
        // route.
        if (dts.exists(containsMap) &&
            dts.forall(dt => lanable(dt) || dictEncodable(dt) ||
              structDecomposable(dt) || containsMap(dt)))
          return keylessRowIdAsof(left, right, lTs.get, cols, outCols,
            direction, inclusive)
        // structs of lane-able/dict-encodable fields decompose per-field
        // onto the same lanes (plus a presence lane) and reassemble —
        // row-carry guarantees all fields come from the same matched row.
        // Checked BEFORE the dict route: structs are also dict-encodable
        // (group/join by value), but decomposition needs no dictionary
        // build, so it is the scale-preferred route when available.
        if (dts.exists(structDecomposable) &&
            dts.forall(dt => lanable(dt) || dictEncodable(dt) ||
              structDecomposable(dt)))
          return keylessStructAsof(left, right, lTs.get, cols, outCols,
            direction, inclusive)
        if (dts.forall(dt => lanable(dt) || dictEncodable(dt)))
          return keylessDictAsof(left, right, lTs.get, cols, outCols,
            direction, inclusive)
      }
    }
    val spark = left.sparkSession
    install(spark)
    val lPlan = left.queryExecution.analyzed
    // re-alias the right side through fresh exprIds: a self-join (both
    // sides carved from the same scan) would otherwise put duplicate
    // attribute ids in the node's output, which generic analyzer
    // deduplication does not repair for custom nodes
    val rAnalyzed = right.queryExecution.analyzed
    val rPlan = Project(rAnalyzed.output.map(a => Alias(a, a.name)()), rAnalyzed)
    def attr(outAttrs: Seq[Attribute], name: String, side: String): Attribute =
      outAttrs.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"as-of $side side has no column '$name' (has: ${outAttrs.map(_.name).mkString(", ")})"))
    val rAttrs = rPlan.projectList.map(_.toAttribute)
    // the exec's orderings are built from the LEFT side's types and then
    // compare RIGHT-projected rows too — a type mismatch (int vs long ts,
    // differently-typed keys) would read the wrong bytes and emit wrong
    // carries with no error. Demand equal types loudly instead.
    def sameTyped(l: Attribute, r: Attribute, what: String): Unit =
      require(l.dataType == r.dataType,
        s"as-of $what type differs between sides: left ${l.dataType.sql} " +
          s"vs right ${r.dataType.sql} — cast one side before the join " +
          "(the merge orderings are built from the left types)")
    val lKeys = keys.map(attr(lPlan.output, _, "left"))
    val rKeys = keys.map(attr(rAttrs, _, "right"))
    lKeys.zip(rKeys).zip(keys).foreach { case ((l, r), k) =>
      sameTyped(l, r, s"key '$k'") }
    val lTsA = attr(lPlan.output, ts, "left")
    val rTsA = attr(rAttrs, ts, "right")
    sameTyped(lTsA, rTsA, s"timestamp '$ts'")
    val node = AsofJoinPlan(
      lPlan, rPlan,
      lKeys,
      rKeys,
      lTsA,
      rTsA,
      valueCols.map(attr(rAttrs, _, "right")),
      inclusive,
      direction)
    GraftPlanBridge.ofRows(spark, node).toDF(left.columns ++ outCols: _*)
  }

  import org.apache.spark.sql.types._

  /** Can this type ride Double state lanes of the ranged scan LOSSLESSLY?
    * 32-bit-and-under numerics, floats, and doubles pass through one lane
    * exactly; int64-backed values (longs, timestamps as unix_micros) split
    * into exact hi/lo 32-bit lanes — a single Double lane is only exact to
    * 2^53 and int64 data (snowflake ids, int64-nanosecond timestamps)
    * legitimately exceeds that. Decimals (arbitrary precision) and
    * non-numeric types fall back to the serial exec, which is exact.
    */
  private def lanable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | TimestampType | DateType | BooleanType => true
    case _ => false
  }

  /** Types a dictionary can carry through the lanes: the VALUES are not
    * lane-able but the distinct-value DOMAIN maps to long codes (exact
    * hi/lo lanes) and back — anything Spark can group and join BY VALUE.
    * That includes arrays (of atomics, structs, or nested arrays): array
    * columns are hashable/orderable group and join keys. Maps are not
    * groupable in Spark at any depth — map-BEARING types are not dict-
    * encodable; every map shape (top-level, nested, inside arrays or
    * structs) rides [[keylessRowIdAsof]]'s row-identity carry instead.
    */
  private def dictEncodable(dt: DataType): Boolean = dt match {
    case StringType | BinaryType | _: DecimalType => true
    case at: ArrayType => !containsMap(at)
    // structs group/join by value too — this is the route for structs a
    // decomposition cannot flatten (struct-in-struct); one-level structs
    // prefer keylessStructAsof (no dictionary build), see the branch
    // order in asofJoinDir
    case st: StructType => !containsMap(st)
    case _ => false
  }

  private def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case at: ArrayType => containsMap(at.elementType)
    case st: StructType => st.fields.exists(f => containsMap(f.dataType))
    case _ => false
  }

  /** Structs whose every field is lane-able or dictionary-encodable ride
    * the parallel scan DECOMPOSED: one lane set per field plus one
    * presence lane (`struct IS NOT NULL`). Sound because the keyless scan
    * is row-carry — every lane updates together from the same matched
    * right row — so reassembled fields are guaranteed to come from one
    * row, and the presence lane distinguishes a carried NULL struct from
    * a carried struct whose fields are all NULL. Inner STRUCT fields are
    * fine too — they are dict-encodable (group/join by value), so a
    * struct-in-struct decomposes with the inner struct riding a dict
    * lane (AsofMergeSpec pins it); only map-bearing fields exclude the
    * decomposition (those route via [[keylessRowIdAsof]]).
    */
  private def structDecomposable(dt: DataType): Boolean = dt match {
    case st: StructType if st.fields.nonEmpty =>
      st.fields.forall(f => lanable(f.dataType) || dictEncodable(f.dataType))
    case _ => false
  }

  /** The __-prefixed working names of the keyless scans. A left frame
    * already carrying one of these would be silently overwritten by
    * `withColumn`/`select` — fail loud instead (repo-wide dunder
    * convention: internal names are reserved).
    */
  private val InternalName =
    "(?i)(__v\\d+|__cl\\d+|__cn\\d+|__dc\\d+|__do\\d+|__side|__seen)".r

  /** Working names of the struct-decomposition route (field extraction,
    * presence, and their scan outputs) — reserved at the public surface
    * like [[InternalName]], but checked separately because the inner
    * routes see them as legitimate value/output columns.
    */
  private val StructTempName =
    "(?i)(__sf\\d+_\\d+|__sp\\d+|__so\\d+_\\d+|__sq\\d+)".r

  /** Working names of the row-id-carry route (the right frame's row
    * number and its carried image) — reserved like [[StructTempName]].
    */
  private val RowIdTempName = "(?i)(__rid|__crid)".r
  private def guardInternalNames(lf: DataFrame, rf: DataFrame): Unit = {
    val clash = (lf.columns ++ rf.columns).distinct
      .filter(c => InternalName.pattern.matcher(c).matches())
    require(clash.isEmpty,
      s"column name(s) ${clash.mkString(", ")} collide with the keyless " +
        "as-of scan's reserved internal names (__vN/__clN/__cnN/__dcN/" +
        "__doN/__side/__seen); rename them before the join")
  }

  /** A caller-SUPPLIED output name matching an internal temp (e.g. an
    * outCol literally named __do0) would collide with the dict decode
    * temps and corrupt output instead of failing loud. Applied only at
    * the public [[asofJoinDir]] surface — the internal keyless routes
    * pass __doN temp names to each other by design.
    */
  private def guardOutCols(outCols: Seq[String]): Unit = {
    val outClash = outCols.distinct.filter(c =>
      InternalName.pattern.matcher(c).matches() ||
        StructTempName.pattern.matcher(c).matches() ||
        RowIdTempName.pattern.matcher(c).matches())
    require(outClash.isEmpty,
      s"output column name(s) ${outClash.mkString(", ")} match the keyless " +
        "as-of scan's reserved internal name pattern; pick different outCols")
  }

  /** Keyless as-of for dictionary-encodable value columns: per-column
    * dictionary (long code = sorted rank of the distinct values,
    * [[graft.text.Dict.build]] — a dictionary-sized distinct + ranged
    * rank), encode the right frame (size-guarded broadcast lookup or
    * plain join), run the parallel ranged scan on the exact hi/lo code
    * lanes, then decode the carried codes. Row-carry NULL semantics are
    * preserved for free: a NULL value encodes to a NULL code (left join
    * misses), rides the null-flag lane, and decodes back to NULL. Costs
    * vs the pure-lane path: one distinct per encoded column + one encode
    * join + one decode join — all dictionary- or result-sized, never a
    * second pass over the un-encoded corpus.
    */
  private def keylessDictAsof(lf: DataFrame, rf: DataFrame, ts: String,
                              valueCols: Seq[String], outCols: Seq[String],
                              direction: Int, inclusive: Boolean): DataFrame = {
    import graft.text.Dict
    guardInternalNames(lf, rf)
    val encCols = valueCols.distinct
      .filterNot(c => lanable(rf.schema(c).dataType))
    val dicts: Map[String, DataFrame] =
      encCols.map(c => c -> Dict.build(rf, c)).toMap
    val rEnc = encCols.zipWithIndex.foldLeft(rf) { case (df, (c, i)) =>
      Dict.str2code(df, dicts(c), c, s"__dc$i")
        .drop(c).withColumnRenamed(s"__dc$i", c)
    }
    // encoded outputs land under temp names; decode rewrites them in place
    val outNames = outCols.zipWithIndex.map { case (o, i) =>
      if (dicts.contains(valueCols(i))) s"__do$i" else o
    }
    val scanned = keylessRangedAsof(lf, rEnc, ts, valueCols, outNames,
      direction, inclusive)
    val decoded = valueCols.zipWithIndex.foldLeft(scanned) {
      case (df, (c, i)) if dicts.contains(c) =>
        Dict.code2str(df, dicts(c), s"__do$i", outCols(i)).drop(s"__do$i")
      case (df, _) => df
    }
    decoded.select((lf.columns.toSeq ++ outCols).map(
      org.apache.spark.sql.functions.col): _*)
  }

  /** Keyless as-of for struct value columns whose fields all fit the
    * existing lanes ([[structDecomposable]]): extract each field to its
    * own column, add one presence lane per struct (`IS NOT NULL`), run
    * the ordinary multi-column keyless scan (dict route when any field
    * needs encoding), then rebuild each struct from its carried fields.
    * Row-carry makes the decomposition sound: every lane carries from the
    * SAME matched right row, so a rebuilt struct can never mix fields of
    * two rows. NULL semantics: carried presence=false → NULL struct
    * (a NULL struct in the matched row masks older non-null structs,
    * the exec's row-carry contract); presence=true with NULL field lanes
    * → a struct carrying NULL fields; no match at all → NULL presence →
    * NULL struct.
    */
  private def keylessStructAsof(lf: DataFrame, rf: DataFrame, ts: String,
                                valueCols: Seq[String], outCols: Seq[String],
                                direction: Int, inclusive: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    locally {
      val clash = (lf.columns ++ rf.columns).distinct
        .filter(c => StructTempName.pattern.matcher(c).matches())
      require(clash.isEmpty,
        s"column name(s) ${clash.mkString(", ")} collide with the struct " +
          "as-of decomposition's reserved names (__sfI_J/__spI/__soI_J/" +
          "__sqI); rename them before the join")
    }
    var rExp = rf
    val scanVals = Seq.newBuilder[String]
    val scanOuts = Seq.newBuilder[String]
    // (input index, struct type, per-field (name, carried-out col))
    val rebuilds = valueCols.zipWithIndex.flatMap { case (c, i) =>
      rf.schema(c).dataType match {
        case st: StructType if structDecomposable(st) =>
          rExp = rExp.withColumn(s"__sp$i", col(c).isNotNull)
          scanVals += s"__sp$i"; scanOuts += s"__sq$i"
          val fieldOuts = st.fields.zipWithIndex.map { case (f, j) =>
            rExp = rExp.withColumn(s"__sf${i}_$j", col(c).getField(f.name))
            scanVals += s"__sf${i}_$j"; scanOuts += s"__so${i}_$j"
            (f.name, s"__so${i}_$j")
          }
          Some((i, fieldOuts.toSeq))
        case _ =>
          scanVals += c; scanOuts += outCols(i)
          None
      }
    }
    val sv = scanVals.result(); val so = scanOuts.result()
    val scanned =
      if (sv.forall(c => lanable(rExp.schema(c).dataType)))
        keylessRangedAsof(lf, rExp, ts, sv, so, direction, inclusive)
      else keylessDictAsof(lf, rExp, ts, sv, so, direction, inclusive)
    val rebuilt = rebuilds.foldLeft(scanned) { case (df, (i, fieldOuts)) =>
      df.withColumn(outCols(i), when(col(s"__sq$i"),
        struct(fieldOuts.map { case (fn, oc) => col(oc).as(fn) }: _*)))
    }
    rebuilt.select((lf.columns.toSeq ++ outCols).map(col): _*)
  }

  /** Keyless as-of for map-bearing value columns (any depth or position:
    * a map column, map<k, map<…>>, maps inside arrays or structs). Spark
    * cannot group or join BY a map, so no dictionary or lane can carry the
    * value itself — carry the matched right ROW's identity instead:
    *
    *  1. number the right frame ([[graft.series.Series.attachPosRanged]],
    *     keyless — range shuffle + an O(partitions) driver offset table);
    *  2. ride ONLY (ts, row id) through the parallel ranged scan — the id
    *     is int64, so it takes the exact hi/lo lanes;
    *  3. fetch the carried row's value columns back with one left hash
    *     join on the id.
    *
    * Row-carry soundness is trivial: the carried payload IS the row
    * identity, so every fetched column comes from the one matched right
    * row. NULL semantics follow for free — a NULL (or empty) map in the
    * carried row comes back exactly as stored from the fetch join, and a
    * left row with no match carries a NULL id, which the left join leaves
    * as NULL outputs.
    *
    * This route retired the r10/r11 entry-array and recursive-transcode
    * forms: they dict-encoded the (high-cardinality) sorted entry arrays —
    * a distinct + rank + two joins PER encoded lane, over values the size
    * of the maps — and planned O(depth) transcode expression trees. The
    * scan here shuffles (ts, int64) regardless of value width or depth.
    *
    * Ties: the route is lazy, and the scan and fetch subtrees each
    * evaluate the numbering. Ids follow ts order, so the rows of one
    * DUPLICATE right ts hold the same id range in every evaluation, and
    * the fetched row always has the matched ts — but the two subtrees may
    * order the tied rows differently, so WHICH tied row is carried is an
    * arbitrary choice. Every output column still comes from that ONE row
    * (the fetch join is by the single carried id). Declared queries group
    * by ts, so ties never arise there; AsofMergeSpec pins the
    * one-whole-row contract.
    */
  private def keylessRowIdAsof(lf: DataFrame, rf: DataFrame, ts: String,
                               valueCols: Seq[String], outCols: Seq[String],
                               direction: Int, inclusive: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    guardInternalNames(lf, rf)
    locally {
      val clash = (lf.columns ++ rf.columns).distinct
        .filter(c => RowIdTempName.pattern.matcher(c).matches())
      require(clash.isEmpty,
        s"column name(s) ${clash.mkString(", ")} collide with the row-id " +
          "as-of route's reserved names (__rid/__crid); rename them " +
          "before the join")
    }
    val rid = graft.series.Series.attachPosRanged(
      rf, Seq(), Seq(col(ts)), out = "__rid")
    val scanned = keylessRangedAsof(lf, rid.select(col(ts), col("__rid")),
      ts, Seq("__rid"), Seq("__crid"), direction, inclusive)
    val fetch = rid.select(col("__rid").as("__crid") +:
      valueCols.zip(outCols).map { case (v, o) => col(v).as(o) }: _*)
    scanned.join(fetch, Seq("__crid"), "left")
      .select((lf.columns.toSeq ++ outCols).map(col): _*)
  }

  /** Parallel keyless as-of with the MERGE EXEC's row-carry contract: the
    * carried state is the latest right ROW in scan order — including rows
    * whose value columns are NULL (each value rides with its own null-flag
    * lane, so a NULL field in the carried row surfaces as NULL output
    * rather than resurrecting an older value, exactly what the two-cursor
    * merge does). One range shuffle + the two-pass parallel-prefix scan
    * ([[graft.window.Moving.monoidScanRanged]]); driver state is one
    * small composition row per shuffle partition.
    */
  private def keylessRangedAsof(lf: DataFrame, rf: DataFrame, ts: String,
                                valueCols: Seq[String], outCols: Seq[String],
                                direction: Int, inclusive: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    require(direction == -1 || direction == 1, "direction must be -1 or +1")
    guardInternalNames(lf, rf)
    val leftCols = lf.columns.toSeq
    val vTypes = valueCols.map(rf.schema(_).dataType)
    val n = valueCols.size
    // value columns ride as __v0..__v{n-1}; temporals/booleans
    // pre-converted so the Row-level inject sees a plain number
    def toLane(c: org.apache.spark.sql.Column, dt: DataType) = dt match {
      case TimestampType => unix_micros(c)
      case DateType => datediff(c, lit("1970-01-01").cast(DateType))
      case BooleanType => c.cast(IntegerType)
      case _ => c
    }
    val rTagged = rf.select(
      (col(ts) +: valueCols.zipWithIndex.map { case (c, i) =>
        toLane(col(c), vTypes(i)).as(s"__v$i")
      }) :+ lit(0).as("__side"): _*)
    val lTagged = (0 until n).foldLeft(lf.withColumn("__side", lit(1))) {
      (df, i) =>
        df.withColumn(s"__v$i", lit(null).cast(vTypes(i) match {
          case TimestampType => LongType
          case DateType | BooleanType => IntegerType
          case other => other
        }))
    }
    val common = Seq(ts) ++ (0 until n).map(i => s"__v$i") ++ Seq("__side")
    val unioned = lTagged.select((common ++ leftCols.diff(common)).map(col): _*)
      .unionByName(rTagged, allowMissingColumns = true)
    // scan order mirrors the exec's requiredChildOrdering: ts in scan
    // direction; at equal ts the right row is visible to the left row iff
    // inclusive (right __side=0 sorts first ascending)
    val tsOrd = if (direction == -1) col(ts).asc else col(ts).desc
    val sideOrd = if (inclusive) col("__side").asc else col("__side").desc
    val sideIdx = unioned.schema.fieldIndex("__side")
    val vIdx: Array[Int] =
      (0 until n).map(i => unioned.schema.fieldIndex(s"__v$i")).toArray
    // lane plan: int64-backed values (LongType, timestamps as micros)
    // take TWO lanes — exact signed-hi/unsigned-lo 32-bit halves, each an
    // integer a Double represents exactly — everything else one lane.
    // state = [value lanes..., null_0..null_{n-1}, seen]
    val isLong: Array[Boolean] = vTypes.map {
      case LongType | TimestampType => true; case _ => false
    }.toArray
    val laneOff: Array[Int] =
      isLong.scanLeft(0)((acc, l) => acc + (if (l) 2 else 1)).toArray
    val valueLanes = laneOff(n)
    val nullOff = valueLanes
    val width = valueLanes + n + 1
    val zero = Array.fill(width)(0.0)
    val outs = (0 until valueLanes).map(i => s"__cl$i") ++
      (0 until n).map(i => s"__cn$i") :+ "__seen"
    val scanned = graft.window.Moving.monoidScanRanged(
      unioned, Seq(), outs, order = Seq(tsOrd, sideOrd))(
      identity = zero)(
      inject = r =>
        if (r.getInt(sideIdx) != 0) zero
        else {
          val a = new Array[Double](width)
          var i = 0
          while (i < n) {
            if (r.isNullAt(vIdx(i))) a(nullOff + i) = 1.0
            else if (isLong(i)) {
              val v = r.getLong(vIdx(i))
              a(laneOff(i)) = (v >> 32).toDouble
              a(laneOff(i) + 1) = (v & 0xFFFFFFFFL).toDouble
            } else a(laneOff(i)) = r.getAs[Number](vIdx(i)).doubleValue()
            i += 1
          }
          a(width - 1) = 1.0
          a
        })(
      op = (a, b) => if (b(width - 1) == 1.0) b else a)
    val withOut = outCols.zipWithIndex.foldLeft(scanned) { case (df, (o, i)) =>
      val lane =
        if (isLong(i)) {
          val full = shiftleft(col(s"__cl${laneOff(i)}").cast(LongType), 32)
            .bitwiseOR(col(s"__cl${laneOff(i) + 1}").cast(LongType))
          vTypes(i) match {
            case TimestampType => timestamp_micros(full)
            case dt => full.cast(dt)
          }
        } else vTypes(i) match {
          case DateType =>
            date_add(lit("1970-01-01").cast(DateType),
              col(s"__cl${laneOff(i)}").cast(IntegerType))
          case dt => col(s"__cl${laneOff(i)}").cast(dt)
        }
      df.withColumn(o, when(col("__seen") === 1.0 && col(s"__cn$i") === 0.0, lane))
    }
    withOut.filter(col("__side") === 1)
      .select((leftCols ++ outCols).map(col): _*)
  }
}
