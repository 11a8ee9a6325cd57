package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerExecutorMetricsUpdate, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Job accounting for the job-count pins. Counts the jobs a body launches
  * (with each job's call site, SQL execution id and that execution's
  * description), records every SQL execution that starts, jobs or not
  * (`Dataset.rdd`'s planning starts one that runs no job), and settles by
  * QUIESCENCE instead of a fixed sleep: the listener bus is asynchronous,
  * so a count is read only once every started job has ended and no
  * listener event has arrived for `QuietPolls` consecutive polls.
  * Executor heartbeats are not counted as activity.
  */
final class JobWatch private () extends SparkFirehoseListener {
  import JobWatch.Job

  private val open = ConcurrentHashMap.newKeySet[Int]()
  private val events = new AtomicLong
  private val jobQ = new ConcurrentLinkedQueue[Job]
  private val execPlans = new ConcurrentHashMap[Long, String]
  private val execDescs = new ConcurrentHashMap[Long, String]
  private val startQ = new ConcurrentLinkedQueue[(Long, String)]

  override def onEvent(e: SparkListenerEvent): Unit = {
    e match {
      case _: SparkListenerExecutorMetricsUpdate => return
      case j: SparkListenerJobStart =>
        // the call site is the name of the job's result stage (the newest
        // stage: a job creates its parent stages first) — e.g.
        // "parquet at Tables.scala:123"; older stages a job reuses carry
        // the call sites of the jobs that created them
        val site = j.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name.takeWhile(_ != '\n')).getOrElse("")
        val exec = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong)
        // an execution's start event precedes its jobs on the bus; its
        // description names the action that ran it (e.g. "count at
        // Tables.scala:…"), which AQE stage jobs do not carry as a site
        val desc = exec.flatMap(id => Option(execDescs.get(id))).getOrElse("")
        jobQ.add(Job(j.jobId, site, exec, desc))
        open.add(j.jobId)
      case j: SparkListenerJobEnd => open.remove(j.jobId)
      case s: SparkListenerSQLExecutionStart =>
        execPlans.put(s.executionId, s.physicalPlanDescription)
        val desc = Option(s.description).getOrElse("").takeWhile(_ != '\n')
        execDescs.put(s.executionId, desc)
        startQ.add(s.executionId -> desc)
      case _ =>
    }
    events.incrementAndGet()
  }

  /** Block until the bus is quiet: every started job has ended and no
    * event arrived for `QuietPolls` polls of `PollMs`. Fails after a
    * minute rather than hanging a suite.
    */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 60000L
    var last = events.get()
    var quiet = 0
    while (quiet < JobWatch.QuietPolls) {
      Thread.sleep(JobWatch.PollMs)
      val now = events.get()
      if (now == last && open.isEmpty) quiet += 1
      else { quiet = 0; last = now }
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"listener bus never went quiet: jobs ${open.asScala.mkString(",")} " +
            "still open")
    }
  }

  /** Run `body` and leave exactly its jobs in this watch: earlier events
    * are drained and dropped first, and the count settles after.
    */
  def measure[T](body: => T): T = {
    settle()
    jobQ.clear(); execPlans.clear(); startQ.clear()
    val r = body
    settle()
    r
  }

  def jobs: Seq[Job] = jobQ.asScala.toSeq.sortBy(_.id)
  def count: Int = jobQ.size
  /** The measured jobs whose call site starts with `prefix`. */
  def at(prefix: String): Seq[Job] = jobs.filter(_.site.startsWith(prefix))
  /** SQL executions the measured jobs ran under. */
  def executions: Set[Long] = jobs.flatMap(_.execution).toSet
  /** Every SQL execution that started while measuring, as (id,
    * description), including those that launched no job.
    */
  def started: Seq[(Long, String)] = startQ.asScala.toSeq.sortBy(_._1)
  /** Physical plan of a SQL execution that started while measuring. */
  def plan(execution: Long): Option[String] = Option(execPlans.get(execution))
  def describe: String = jobs.map { j =>
    val desc = if (j.description.isEmpty) "" else s" [${j.description}]"
    s"job ${j.id} exec ${j.execution.getOrElse("-")}: ${j.site}$desc"
  }.mkString("\n  ", "\n  ", "")
}

object JobWatch {
  /** `site` is the job's result-stage name; `description` is its SQL
    * execution's description ("" outside any execution).
    */
  final case class Job(id: Int, site: String, execution: Option[Long], description: String)

  private val QuietPolls = 5
  private val PollMs = 20L

  /** Attach a watch for the duration of `use`. */
  def on[T](spark: SparkSession)(use: JobWatch => T): T = {
    val w = new JobWatch
    spark.sparkContext.addSparkListener(w)
    try use(w) finally spark.sparkContext.removeSparkListener(w)
  }
}
