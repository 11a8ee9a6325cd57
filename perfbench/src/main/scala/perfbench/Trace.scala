package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval. `op` is the id of the closed-loop operation it
  * belongs to; `parent` is the span that caused it (the op itself for
  * top-level children).
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startMs: Long, endMs: Long)

/** One operation of the closed loop: its wall time and the wall time of
  * each child span, in order.
  */
final case class OpRec(id: Long, name: String, startMs: Long, endMs: Long,
                       wallNs: Long, children: Seq[(String, Long)]) {
  def ms: Double = wallNs / 1e6
  /** Child wall time by span name, summed when a name repeats. */
  def parts: Map[String, Long] =
    children.groupMapReduce(_._1)(_._2)(_ + _)
  def partMs(p: String): Double = parts.getOrElse(p, 0L) / 1e6
}

/** Times operations and their child spans. With `traced`, it also tags
  * every Spark job with its op and span through local properties and
  * collects scheduler, task and planning events in memory
  * ([[TraceListener]]); untraced, it only reads the clock.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  import Tracer._
  private val sc = spark.sparkContext
  private var nextId = 0L
  private var curOp = -1L
  private val curParts = mutable.ArrayBuffer.empty[(String, Long)]
  private val opBuf = mutable.ArrayBuffer.empty[OpRec]
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  /** Analysis time of frames built inside an op, by op id. */
  private val buildAnalysis = mutable.Map.empty[Long, Long].withDefaultValue(0L)

  val listener: Option[TraceListener] =
    if (traced) Some(new TraceListener) else None
  listener.foreach { l =>
    sc.addSparkListener(l)
    spark.listenerManager.register(l)
  }

  private def newId(): Long = { nextId += 1; nextId }

  def ops: Seq[OpRec] = opBuf.toSeq

  /** Runs `body` as one operation named `name`. */
  def op[T](name: String)(body: => T): T = {
    val id = newId()
    curOp = id
    curParts.clear()
    if (traced) sc.setLocalProperty(OpKey, id.toString)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val ns = System.nanoTime() - t0
      val ms1 = System.currentTimeMillis()
      opBuf += OpRec(id, name, ms0, ms1, ns, curParts.toSeq)
      spanBuf += Span(id, 0L, id, name, ms0, ms1)
      curOp = -1L
      if (traced) sc.setLocalProperty(OpKey, null)
    }
  }

  /** Runs `body` as a child span of the current op. */
  def span[T](name: String)(body: => T): T = {
    if (traced) sc.setLocalProperty(SpanKey, name)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val ns = System.nanoTime() - t0
      curParts += ((name, ns))
      spanBuf += Span(newId(), curOp, curOp, name, ms0, System.currentTimeMillis())
      if (traced) sc.setLocalProperty(SpanKey, null)
    }
  }

  /** Records the analysis time a frame built in the current op paid. */
  def noteBuilt(df: org.apache.spark.sql.DataFrame): Unit =
    if (traced && curOp > 0)
      df.queryExecution.tracker.phases.get("analysis")
        .foreach(p => buildAnalysis(curOp) += p.durationMs)

  /** Waits until the listener has seen every job it saw start end, and
    * no event arrived for a few polls. Bounded; returns whether it
    * settled.
    */
  def settle(timeoutMs: Long = 20000L): Boolean = listener.forall { l =>
    val deadline = System.currentTimeMillis() + timeoutMs
    var quiet = 0
    var last = l.eventCount
    while (quiet < 4 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val now = l.eventCount
      if (now == last && l.openJobs == 0) quiet += 1 else quiet = 0
      last = now
    }
    quiet >= 4
  }

  /** Per-layer aggregates over `window` (ops of one measured window). */
  def layerMetrics(window: Seq[OpRec]): Map[String, Double] = listener match {
    case None => Map.empty
    case Some(l) => Tracer.aggregate(window, l, buildAnalysis.toMap)
  }

  /** Every span, listener spans included, as JSON-ready maps. */
  def spanRecords(): Iterator[Map[String, Any]] = {
    val own = spanBuf.iterator.map(s =>
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    val fromListener = listener.iterator.flatMap { l =>
      val jobSpans = l.jobs.iterator.map(j =>
        Map("id" -> s"job-${j.id}", "parent" -> j.op, "op" -> j.op,
          "name" -> s"job:${j.span}", "start_ms" -> j.submitMs,
          "end_ms" -> l.jobEnd.getOrElse(j.id, j.submitMs)))
      val stageToJob = l.jobs.flatMap(j => j.stageIds.map(_ -> j)).toMap
      val stageSpans = l.stages.iterator.map { s =>
        val job = stageToJob.get(s.id)
        Map("id" -> s"stage-${s.id}.${s.attempt}",
          "parent" -> job.map(j => s"job-${j.id}").getOrElse(""),
          "op" -> job.map(_.op).getOrElse(-1L), "name" -> "stage",
          "start_ms" -> s.submitMs, "end_ms" -> s.completeMs,
          "tasks" -> s.numTasks)
      }
      // planning phases carry no op tag (see aggregate)
      val planSpans = l.qes.iterator.flatMap { q =>
        q.phases.iterator.map { case (ph, (a, b)) =>
          Map("id" -> s"qe-${q.seq}-$ph", "parent" -> "", "op" -> -1L,
            "name" -> s"plan:$ph:${q.func}", "start_ms" -> a, "end_ms" -> b)
        }
      }
      jobSpans ++ stageSpans ++ planSpans
    }
    own ++ fromListener
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  private def aggregate(window: Seq[OpRec], l: TraceListener,
                        buildAnalysis: Map[Long, Long]): Map[String, Double] = {
    val n = math.max(1, window.size).toDouble
    val opIds = window.map(_.id).toSet
    val jobs = l.jobs.filter(j => opIds(j.op))
    val jobsByOp = jobs.groupBy(_.op)
    val stageToJob = jobs.flatMap(j => j.stageIds.map(_ -> j)).toMap
    val tasks = l.tasks.filter(t => stageToJob.contains(t.stageId))
    val tasksByOp = tasks.groupBy(t => stageToJob(t.stageId).op)
    // planning events carry no job tags: attribute each to the op whose
    // interval holds its first phase's start
    val qesByOp: Map[Long, Seq[QeRec]] = l.qes.flatMap { q =>
      window.find(o => q.startMs >= o.startMs && q.startMs <= o.endMs)
        .map(o => o.id -> q)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

    def phaseMs(qs: Seq[QeRec], ph: String): Long =
      qs.flatMap(_.phases.get(ph)).map { case (a, b) => b - a }.sum
    val wallMs = window.map(_.ms).sum
    var analysis, optimizer, physical, delay, gap, busy = 0.0
    window.foreach { o =>
      val qs = qesByOp.getOrElse(o.id, Nil)
      val js = jobsByOp.getOrElse(o.id, Nil)
      val ts = tasksByOp.getOrElse(o.id, Nil)
      analysis += phaseMs(qs, "analysis") + buildAnalysis.getOrElse(o.id, 0L)
      optimizer += phaseMs(qs, "optimization")
      physical += phaseMs(qs, "planning")
      val launchByJob = ts.groupBy(t => stageToJob(t.stageId).id)
        .map { case (j, tt) => j -> tt.map(_.launchMs).min }
      delay += js.flatMap(j => launchByJob.get(j.id).map(_ - j.submitMs)).sum
      val jobIv = js.map(j => (j.submitMs, l.jobEnd.getOrElse(j.id, o.endMs)))
      val planIv = qs.flatMap(_.phases.values)
      val covered = unionLength(jobIv ++ planIv, o.startMs, o.endMs)
      gap += math.max(0.0, o.ms - covered - buildAnalysis.getOrElse(o.id, 0L))
      busy += unionLength(ts.map(t => (t.launchMs, t.finishMs)), o.startMs, o.endMs)
    }
    val planMs = analysis + optimizer + physical
    // skew: the longest task's share of its stage's span, weighted by span
    val stageSkew = tasks.groupBy(_.stageId).values.toSeq.filter(_.size > 1).map { ts =>
      val span = (ts.map(_.finishMs).max - ts.map(_.launchMs).min).max(1L)
      val longest = ts.map(t => t.finishMs - t.launchMs).max
      (math.min(1.0, longest.toDouble / span), span.toDouble)
    }
    val skewW = stageSkew.map(_._2).sum
    val qes = qesByOp.values.flatten.toSeq
    val scanRows = qes.map(q => q.cacheRows + q.fileRows + q.otherRows).sum
    val stagesRun = tasks.map(_.stageId).distinct.size
    Map(
      "entry.eager_jobs" -> jobs.count(_.span == "build") / n,
      "plan.analysis_ms" -> analysis / n,
      "plan.optimizer_ms" -> optimizer / n,
      "plan.physical_ms" -> physical / n,
      "plan.share" -> (if (wallMs > 0) planMs / wallMs else 0.0),
      "sched.jobs_per_op" -> jobs.size / n,
      "sched.stages_per_op" -> stagesRun / n,
      "sched.tasks_per_op" -> tasks.size / n,
      "sched.delay_ms" -> delay / n,
      "driver.gap_ms" -> gap / n,
      "exec.task_run_ms" -> tasks.map(_.runMs).sum / n,
      "exec.task_cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6 / n,
      "exec.deser_ms" -> tasks.map(_.deserMs).sum / n,
      "exec.gc_ms" -> tasks.map(_.gcMs).sum / n,
      "exec.busy_share" -> (if (wallMs > 0) busy / wallMs else 0.0),
      "exec.max_task_share" ->
        (if (skewW > 0) stageSkew.map { case (s, w) => s * w }.sum / skewW else 0.0),
      "shuffle.write_bytes" -> tasks.map(_.shuffleWrite).sum / n,
      "shuffle.read_bytes" -> tasks.map(_.shuffleRead).sum / n,
      "spill.bytes" -> tasks.map(_.spill).sum / n,
      "cache.scan_share" ->
        (if (scanRows > 0) qes.map(_.cacheRows).sum.toDouble / scanRows else 0.0),
      "cache.rows_in_per_row_out" -> {
        val out = qes.map(_.rowsOut).sum
        if (out > 0) scanRows.toDouble / out else 0.0
      })
  }
}

final case class JobRec(id: Int, op: Long, span: String, submitMs: Long,
                        stageIds: Seq[Int])
final case class StageRec(id: Int, attempt: Int, submitMs: Long,
                          completeMs: Long, numTasks: Int)
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
                         runMs: Long, cpuNs: Long, deserMs: Long, gcMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long)
/** One finished query execution: planning phases (epoch-ms intervals)
  * and the rows its leaf scans produced, split by where they came from.
  */
final case class QeRec(seq: Long, func: String, phases: Map[String, (Long, Long)],
                       cacheRows: Long, fileRows: Long, otherRows: Long,
                       rowsOut: Long) {
  def startMs: Long =
    if (phases.isEmpty) Long.MaxValue else phases.values.map(_._1).min
}

/** Keeps scheduler, task and planning events in memory. Registered only
  * in the traced run.
  */
final class TraceListener extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val jobQ = new ConcurrentLinkedQueue[JobRec]
  private val jobEndMap = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val stageQ = new ConcurrentLinkedQueue[StageRec]
  private val taskQ = new ConcurrentLinkedQueue[TaskRec]
  private val qeQ = new ConcurrentLinkedQueue[QeRec]
  private val events = new java.util.concurrent.atomic.AtomicLong
  private val open = new java.util.concurrent.atomic.AtomicInteger
  private val qeSeq = new java.util.concurrent.atomic.AtomicLong

  def eventCount: Long = events.get
  def openJobs: Int = open.get
  def jobs: Seq[JobRec] = jobQ.asScala.toSeq
  def jobEnd: scala.collection.Map[Int, Long] = jobEndMap.asScala
  def stages: Seq[StageRec] = stageQ.asScala.toSeq
  def tasks: Seq[TaskRec] = taskQ.asScala.toSeq
  def qes: Seq[QeRec] = qeQ.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    open.incrementAndGet()
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Tracer.OpKey)))
      .flatMap(_.toLongOption).getOrElse(-1L)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).getOrElse("")
    jobQ.add(JobRec(e.jobId, op, span, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    open.decrementAndGet()
    jobEndMap.put(e.jobId, e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val i = e.stageInfo
    stageQ.add(StageRec(i.stageId, i.attemptNumber(),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = Option(e.taskMetrics)
    val info = e.taskInfo
    taskQ.add(TaskRec(e.stageId, info.launchTime, info.finishTime,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.executorDeserializeTime).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.shuffleReadMetrics.remoteBytesRead +
        x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L)))
  }

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    events.incrementAndGet()
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val plan = qe.executedPlan
    var cache, file, other = 0L
    collectLeaves(plan).foreach { leaf =>
      val name = leaf.getClass.getSimpleName
      if (name.contains("InMemoryTableScan")) cache += rows(leaf)
      else if (name.contains("FileSourceScan") || name.contains("BatchScan")) file += rows(leaf)
      else other += rows(leaf)
    }
    // output rows: the top-most operator that counts its rows
    val out = find(plan)(_.metrics.contains("numOutputRows")).map(rows).getOrElse(0L)
    qeQ.add(QeRec(qeSeq.incrementAndGet(), func, phases, cache, file, other, out))
  }

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    events.incrementAndGet()
}
