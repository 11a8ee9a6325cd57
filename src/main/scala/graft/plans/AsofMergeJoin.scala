package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructField

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
  require(leftKeys.nonEmpty,
    "as-of plan node needs at least one key; a keyless as-of is an OrderedScan")
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
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

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
    */
  def asofJoinDir(left: DataFrame, right: DataFrame, keys: Seq[String], ts: String,
                  valueCols: Seq[String], outCols: Seq[String],
                  direction: Int = -1, inclusive: Boolean = true): DataFrame = {
    require(valueCols.size == outCols.size, "valueCols/outCols arity mismatch")
    // caller-supplied output names must not collide with the keyless
    // route's working names (__vN, __side)
    guardOutCols(outCols)
    // nor with the LEFT frame's own columns: the keyless route would
    // select a same-named left column twice and the exec route would emit
    // duplicates. Fail loud.
    locally {
      val lLower = left.columns.map(_.toLowerCase).toSet
      val clash = outCols.filter(c => lLower(c.toLowerCase))
      require(clash.isEmpty,
        s"output column name(s) ${clash.mkString(", ")} already exist on " +
          "the left frame — pick different outCols (the join would " +
          "silently replace or duplicate them)")
    }
    // Keyless series (the reference's default single-series shape) run
    // keylessAsof's ranged carry scan, whatever their value types; the
    // exec needs a key to cluster on. Name resolution here is
    // case-insensitive, like the exec path's attr().
    if (keys.isEmpty) {
      def resolve(name: String): Option[String] =
        right.schema.fieldNames.find(_.equalsIgnoreCase(name))
      val rVals = valueCols.map(resolve)
      val lTs = left.schema.fieldNames.find(_.equalsIgnoreCase(ts))
      if (lTs.isDefined && resolve(ts).isDefined && rVals.forall(_.isDefined))
        return keylessAsof(left, right, lTs.get, rVals.flatten, outCols,
          direction, inclusive)
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

  /** The __-prefixed working names of the keyless route. A frame already
    * carrying one would be shadowed in its union — fail loud instead
    * (repo-wide dunder convention: internal names are reserved).
    */
  private val InternalName = "(?i)(__v\\d+|__side)".r

  private def guardInternalNames(lf: DataFrame, rf: DataFrame): Unit = {
    val clash = (lf.columns ++ rf.columns).distinct
      .filter(c => InternalName.pattern.matcher(c).matches())
    require(clash.isEmpty,
      s"column name(s) ${clash.mkString(", ")} collide with the keyless " +
        "as-of scan's reserved internal names (__vN/__side); rename them " +
        "before the join")
  }

  private def guardOutCols(outCols: Seq[String]): Unit = {
    val outClash = outCols.distinct.filter(c => InternalName.pattern.matcher(c).matches())
    require(outClash.isEmpty,
      s"output column name(s) ${outClash.mkString(", ")} match the keyless " +
        "as-of scan's reserved internal name pattern; pick different outCols")
  }

  /** Keyless as-of as one ranged [[OrderedScan]] of the row-carry kernel
    * ([[ScanKernel.Carry]]). The left rows (`__side` = 1) and the right
    * side's `(ts, __v0…)` (`__side` = 0) form one union, scanned in ts
    * order (descending for direction +1, the exec's mirror); at equal ts
    * a right row sorts before a left one iff `inclusive`. Each left row
    * takes the latest right row's values, whatever their type and NULLs
    * included: the exec's row-carry contract. The plan is one range
    * shuffle; the driver folds one carried row per range partition.
    */
  private def keylessAsof(lf: DataFrame, rf: DataFrame, ts: String,
                          valueCols: Seq[String], outCols: Seq[String],
                          direction: Int, inclusive: Boolean): DataFrame = {
    require(direction == -1 || direction == 1, "direction must be -1 or +1")
    guardInternalNames(lf, rf)
    val leftCols = lf.columns.toSeq
    val types = valueCols.map(rf.schema(_).dataType)
    val vals = valueCols.indices.map(i => s"__v$i")
    val rTagged = rf.select((col(ts) +: valueCols.zip(vals).map { case (c, v) =>
      col(c).as(v) }) :+ lit(0).as("__side"): _*)
    val lTagged = lf.select((col(ts) +: types.zip(vals).map { case (dt, v) =>
      lit(null).cast(dt).as(v) }) ++ (lit(1).as("__side") +:
      leftCols.filterNot(_ == ts).map(col)): _*)
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    val tsOrd = if (direction == -1) col(ts).asc else col(ts).desc
    val sideOrd = if (inclusive) col("__side").asc else col("__side").desc
    val idx = unioned.schema.fieldIndex _
    OrderedScan(unioned, Nil, Seq(tsOrd, sideOrd), ranged = true,
      new ScanKernel.Carry(idx("__side"), vals.map(idx)),
      outCols.zip(types).map { case (o, dt) => StructField(o, dt, nullable = true) })
      .filter(col("__side") === 1)
      .select((leftCols ++ outCols).map(col): _*)
  }
}
