package graft.plans

import scala.collection.mutable.{ArrayBuffer, ArrayDeque}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}

/** One ordered scan: a kernel threaded through each key's rows in
  * (keys, order) order, appending `outs` to every row — the cumulative,
  * trailing-window and recursive (EMA/ATR) families the reference runs as
  * lazy iterators over an ordered column (func.c:1632-1788, SURVEY §2.5),
  * the ranged `pos` numbering and the keyless as-of carry. `ranged =
  * false` (keyed calls): each key lives in one partition. `ranged = true`
  * (keyless calls, and keyed numbering with few keys): a key spans
  * several range partitions. The planner plants the exchange and sort, so
  * building the frame runs no job, and statistics come from the child.
  * Kernels read the child's rows as `Row`s by column index, so the node
  * references every child column: `ColumnPruning` can never narrow the
  * child under it.
  */
case class OrderedScan(
    child: LogicalPlan,
    keys: Seq[Expression],
    order: Seq[SortOrder],
    ranged: Boolean,
    kernel: ScanKernel[_, _],
    outs: Seq[Attribute]) extends UnaryNode {
  require(ranged || keys.nonEmpty, "a clustered ordered scan needs keys")
  override def output: Seq[Attribute] = child.output ++ outs
  override def producedAttributes: AttributeSet = AttributeSet(outs)
  override lazy val references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): OrderedScan =
    copy(child = newChild)
}

object OrderedScan {

  /** `df` with `outs` appended by one ordered scan of `kernel`. The outputs
    * are aliased once more on top, so a self-join of the result renews
    * them like any projected column.
    */
  def apply(df: DataFrame, keys: Seq[String], order: Seq[Column], ranged: Boolean,
            kernel: ScanKernel[_, _], outs: Seq[StructField]): DataFrame = {
    val spark = df.sparkSession
    AsofMerge.installStrategy(spark, OrderedScanStrategy)
    // the analyzer resolves the order (names or expressions) against df
    val sort = df.sortWithinPartitions(keys.map(col) ++ order: _*)
      .queryExecution.analyzed.asInstanceOf[Sort]
    val attrs = outs.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    val node = OrderedScan(sort.child, sort.order.take(keys.size).map(_.child),
      sort.order.drop(keys.size), ranged, kernel, attrs)
    GraftPlanBridge.ofRows(spark,
      Project(sort.child.output ++ attrs.map(a => Alias(a, a.name)()), node))
  }
}

/** Plans [[OrderedScan]]; installed by [[OrderedScan.apply]] or
  * config-time ([[graft.sqlext.GraftExtensions]]).
  */
object OrderedScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: OrderedScan =>
      OrderedScanExec(s.keys, s.order, s.ranged, s.kernel, s.outs, planLater(s.child)) :: Nil
    case _ => Nil
  }
}

/** Clustered: one pass. Ranged: takes the child's RDD once, collects one
  * summary per (partition, key) run, folds them on the driver into each
  * run's incoming carry and maps the same RDD (its shuffle output is read
  * twice, never re-sampled). Runs arrive in global (keys, order) order, so
  * consecutive runs with equal keys are one key's chunks.
  */
case class OrderedScanExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    ranged: Boolean,
    kernel: ScanKernel[_, _],
    outs: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ outs
  override def producedAttributes: AttributeSet = AttributeSet(outs)
  private def scanOrder = keys.map(SortOrder(_, Ascending)) ++ order
  override def requiredChildDistribution: Seq[Distribution] =
    (if (ranged) OrderedDistribution(scanOrder) else ClusteredDistribution(keys)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = scanOrder :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = scan(kernel)

  private def scan[C, S](k: ScanKernel[C, S]): RDD[InternalRow] = {
    val rows = child.execute()
    val runs = Runs(keys, child.output)
    val carries = if (!ranged) None else {
      // per partition, per run: (key, carry if the run starts its key, summary)
      val sums = rows.mapPartitions { it =>
        val buf = ArrayBuffer.empty[(InternalRow, C, S)]
        var key: InternalRow = null
        var init: C = null.asInstanceOf[C]
        var s: S = null.asInstanceOf[S]
        runs.walk(it, k).foreach { case (start, r, _) =>
          if (start != null) {
            if (key != null) buf += ((key, init, s))
            key = start; init = k.init(r); s = k.zero
          }
          s = k.summarize(s, r)
        }
        if (key != null) buf += ((key, init, s))
        Iterator.single(buf.toArray)
      }.collect()
      val same = runs.sameKey()
      var last: (InternalRow, C, S) = null
      Some(sparkContext.broadcast(sums.map(_.toSeq.map { case run @ (key, init, _) =>
        val in = if (last != null && same(last._1, key)) k.compose(last._2, last._3) else init
        last = run.copy(_2 = in)
        in
      })))
    }
    val outAttrs = output
    val width = outs.size
    rows.mapPartitionsWithIndex { (pid, it) =>
      val out = new Array[Any](width)
      val joined = new JoinedRow(null, new GenericInternalRow(out))
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      var run = -1
      var c: C = null.asInstanceOf[C]
      runs.walk(it, k).map { case (start, r, ir) =>
        if (start != null) {
          run += 1
          // broadcast carries are shared by the tasks of an executor
          c = carries.fold(k.init(r))(bc => k.copy(bc.value(pid)(run)))
        }
        c = k.replay(c, r, out)
        proj(joined.withLeft(ir))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): OrderedScanExec =
    copy(child = newChild)
}

/** Walks a partition's rows as (a copy of the key if the row starts a run
  * else null, the row as the kernel reads it, the row). Keys compare with
  * the sort's own ordering: binary keys by content, NaN keys equal.
  */
private case class Runs(keys: Seq[Expression], input: Seq[Attribute]) {
  def sameKey(): (InternalRow, InternalRow) => Boolean = {
    val ord = RowOrdering.createNaturalAscendingOrdering(keys.map(_.dataType))
    (a, b) => ord.compare(a, b) == 0
  }

  def walk(it: Iterator[InternalRow], k: ScanKernel[_, _]): Iterator[(InternalRow, Row, InternalRow)] = {
    val toRow = k.reader(StructType(input.map(a => StructField(a.name, a.dataType, a.nullable))))
    val keyOf = UnsafeProjection.create(keys, input)
    val same = sameKey()
    var cur: InternalRow = null
    it.map { ir =>
      val key = keyOf(ir)
      val start = if (cur != null && same(cur, key)) null else { cur = key.copy(); cur }
      (start, toRow(ir), ir)
    }
  }
}

/** A computation carried through a key's rows in scan order: `init` is
  * the carry at a key's first row, `replay` advances it over one row and
  * writes that row's outputs. The ranged mode also folds a run with no
  * incoming carry into a summary (`zero`, `summarize`) and needs the
  * carry after a summarized run (`compose`). `copy` gives replay a private
  * carry when `replay` mutates it.
  */
abstract class ScanKernel[C, S] extends Serializable {
  /** How the scan hands this kernel the child's rows: as Scala `Row`s. */
  private[plans] def reader(input: StructType): InternalRow => Row =
    CatalystTypeConverters.createToScalaConverter(input).asInstanceOf[InternalRow => Row]
  def init(first: Row): C
  def replay(c: C, r: Row, out: Array[Any]): C
  def zero: S
  def summarize(s: S, r: Row): S
  def compose(c: C, s: S): C
  def copy(c: C): C = c
}

object ScanKernel {

  /** Running fold of an associative monoid over a Double state vector,
    * whose components are the outputs. A clustered scan is a plain left
    * fold, so there `op` need not be associative. `op` may mutate its
    * first argument, so shared states are cloned before it runs.
    */
  final class Monoid(identity: Array[Double], inject: Row => Array[Double],
                     op: (Array[Double], Array[Double]) => Array[Double])
      extends ScanKernel[Array[Double], Array[Double]] {
    def init(first: Row): Array[Double] = identity.clone()
    def replay(c: Array[Double], r: Row, out: Array[Any]): Array[Double] = {
      val e = op(c, inject(r))
      e.copyToArray(out)
      e
    }
    def zero: Array[Double] = identity.clone()
    def summarize(s: Array[Double], r: Row): Array[Double] = op(s, inject(r))
    def compose(c: Array[Double], s: Array[Double]): Array[Double] = op(c.clone(), s)
    override def copy(c: Array[Double]): Array[Double] = c.clone()
    override def toString: String = s"Monoid(${identity.length})"
  }

  /** Linear recurrence E = a·E' + b with (a, b) = `coef(row)`, seeded by
    * the key's first row. Affine maps compose, so a run's summary is its
    * composed (a, b). With `pre` the output is the state before the row.
    */
  final class Affine(seed: Row => Double, coef: Row => (Double, Double), pre: Boolean)
      extends ScanKernel[Double, (Double, Double)] {
    def init(first: Row): Double = seed(first)
    def replay(e: Double, r: Row, out: Array[Any]): Double = {
      val (a, b) = coef(r)
      val next = a * e + b
      out(0) = if (pre) e else next
      next
    }
    def zero: (Double, Double) = (1.0, 0.0)
    def summarize(s: (Double, Double), r: Row): (Double, Double) = {
      val (a, b) = coef(r)
      (a * s._1, a * s._2 + b)
    }
    def compose(e: Double, s: (Double, Double)): Double = s._1 * e + s._2
    override def toString: String = if (pre) "Affine(pre)" else "Affine"
  }

  /** 0-based position of each row within its key. */
  object Positions extends ScanKernel[Long, Long] {
    def init(first: Row): Long = 0L
    def replay(i: Long, r: Row, out: Array[Any]): Long = { out(0) = i; i + 1 }
    def zero: Long = 0L
    def summarize(n: Long, r: Row): Long = n + 1
    def compose(i: Long, n: Long): Long = i + n
    override def toString: String = "Positions"
  }

  /** The trailing window of the last n values of column `vIdx` (NULLs
    * count as rows and every aggregate skips them); a run's summary is its
    * last n−1 values. Outputs [[graft.window.Moving.windowAgg]]'s nine
    * `w_*` statistics.
    */
  final class WindowTail(vIdx: Int, n: Int)
      extends ScanKernel[ArrayDeque[java.lang.Double], ArrayDeque[java.lang.Double]] {
    private type Ring = ArrayDeque[java.lang.Double]
    private def push(w: Ring, r: Row, size: Int): Ring = {
      w += (if (r.isNullAt(vIdx)) null else r.getAs[Number](vIdx).doubleValue())
      while (w.size > size) w.removeHead()
      w
    }
    def init(first: Row): Ring = ArrayDeque.empty
    def zero: Ring = ArrayDeque.empty
    def summarize(t: Ring, r: Row): Ring = push(t, r, n - 1)
    def compose(c: Ring, t: Ring): Ring = (c ++ t).takeRight(n - 1)
    override def copy(c: Ring): Ring = c.clone()
    def replay(win: Ring, r: Row, out: Array[Any]): Ring = {
      val xs = push(win, r, n).iterator.filter(_ != null).map(_.doubleValue).toArray
      // Spark's total order puts NaN ABOVE every value, so min over a
      // frame containing NaN is the true minimum and max is NaN, as on the
      // keyed SQL path; sum/avg/var propagate NaN on both paths already
      val real = xs.filterNot(_.isNaN)
      val c = xs.length
      val s = xs.foldLeft(0.0)(_ + _)
      val ss = xs.foldLeft(0.0)((a, x) => a + x * x)
      val mn = real.foldLeft(Double.PositiveInfinity)(math.min)
      val vr = math.max((ss - s * s / c) / c, 0.0)
      val refVar = (ss - s * s / n) / n
      // all-NULL frame: every aggregate is NULL except w_dev_ref — the
      // keyed path computes sqrt(greatest(refVar, 0.0)) and greatest SKIPS
      // nulls, so a NULL refVar yields 0.0 there (fuzz seeds 8026/8059)
      (if (c == 0) Seq(null, null, null, null, null, null, null, null, 0.0)
      else Seq(s, s / c,
        if (real.length < c && mn == Double.PositiveInfinity) Double.NaN else mn,
        if (real.length < c) Double.NaN else real.foldLeft(Double.NegativeInfinity)(math.max),
        vr, math.sqrt(vr), s / n, refVar, math.sqrt(math.max(refVar, 0.0))))
        .copyToArray(out)
      win
    }
    override def toString: String = s"WindowTail($n)"
  }

  /** Row-carry over a side-tagged union, the reference's as-of merge
    * (func.c:4591-4662): a right row (`sideIdx` = 0) replaces the carry
    * with its `valueIdx` columns exactly as they are, NULLs included, and
    * every row emits the carry (NULLs before any right row). A run's
    * summary is its last right row; the later one wins. The kernel reads
    * its columns in Catalyst form and keeps copies, so every value type
    * carries exactly: a round trip through Scala values would re-order
    * the entries of a map and move dates in the 1582 calendar gap.
    */
  final class Carry(sideIdx: Int, valueIdx: Seq[Int]) extends ScanKernel[Array[Any], Row] {
    override private[plans] def reader(input: StructType): InternalRow => Row = {
      val read = (sideIdx +: valueIdx).map(i => (i, input(i).dataType))
      ir => {
        val a = new Array[Any](input.size)
        read.foreach { case (i, dt) => a(i) = InternalRow.copyValue(ir.get(i, dt)) }
        new GenericRow(a)
      }
    }
    private def right(r: Row): Boolean = r.getInt(sideIdx) == 0
    private def values(r: Row): Array[Any] = valueIdx.map(r.get).toArray
    def init(first: Row): Array[Any] = null
    def replay(c: Array[Any], r: Row, out: Array[Any]): Array[Any] = {
      val next = if (right(r)) values(r) else c
      if (next == null) out.indices.foreach(out(_) = null) else next.copyToArray(out)
      next
    }
    def zero: Row = null
    def summarize(s: Row, r: Row): Row = if (right(r)) r else s
    def compose(c: Array[Any], s: Row): Array[Any] = if (s == null) c else values(s)
    override def toString: String = s"Carry(${valueIdx.size})"
  }
}
