package graft

/** Dev profiling harness: run one named query N times against a sf dir
  * under BENCH conditions (tables persisted, series warmed), print per-run
  * wall time split into plan (analysis+optimization+physical planning) and
  * exec (job run), and optionally the formatted plan.
  * Usage: graft.Prof <sfDir> <queryName> [runs] [explain] [cold] [jobs]
  *        graft.Prof <sfDir> sweep [reps]
  *        graft.Prof <sfDir> plans [query ...]
  */
object Prof {
  /** The `plans` mode's default query set: the headline and
    * scale-critical queries whose physical plans PLANS.md audits.
    */
  val auditSet: Seq[String] = Seq(
    "q1_agg", "q_join", "q_asof", "q_asof_exec", "q_range_join",
    "q_sort_pos", "q_grid_agg", "q_window_agg", "q_cum_agg", "q_ema",
    "q_dedup_exact", "q_minhash_lsh", "q_jaccard", "q_knn", "q_cos_lsh",
    "q_tumbling", "q_repetition", "q_sample", "q_vocab", "q_group_topk",
    "q_dup_clusters", "q_sem_dedup", "q_decontaminate", "q_tfidf",
    "q_curation", "q_sketch_rollup",
    // round 6
    "q_asof_exec_keyless", "q_passage_dedup", "q_mixture", "q_dict_global",
    "q_media_dup_banded", "q_window_join", "q_theta_overlap",
    "q_quantile_rollup",
    // round 7
    "q_cs_sketch",
    // round 8: the TABLE_get scan shape (rangeScan pushdown + NTZ
    // file-level pruning) and the bucketed zero-shuffle as-of
    "q_get", "q_asof_bucketed",
    // round 10: the TPC-H plan families the headline under-tested —
    // pure predicate pushdown (Q6), join-order/broadcast (Q3), the
    // six-table multi-way join (Q5), and the conditional-aggregate
    // promo share (Q14)
    "q_tpch_q6", "q_tpch_q3", "q_tpch_q5", "q_tpch_q14", "q_concat_ranges",
    // round 11: the semi/anti join families (Q4 EXISTS → left-semi,
    // Q16 NOT IN → left-anti)
    "q_tpch_q4", "q_tpch_q16",
    // round 12: the outer-join (Q13) and correlated scalar-subquery
    // decorrelation (Q17) families, and the key-equality bucket-pruned scan
    "q_tpch_q13", "q_tpch_q17", "q_get_bucketed_key", "q_tpch_q18",
    // round 13: the disjunctive-pushdown (Q19) and nested-semi-join-chain
    // (Q20) families, then the remaining adaptable families — nation-pair
    // OR join (Q7), share-of-group over the deepest join (Q8), computed
    // measure over three relations (Q9), top-N revenue (Q10), dual
    // conditional counts (Q12), aggregate-of-aggregate CTE reuse (Q15)
    "q_tpch_q19", "q_tpch_q20", "q_tpch_q7", "q_tpch_q8", "q_tpch_q9",
    "q_tpch_q10", "q_tpch_q12", "q_tpch_q15",
    // round 14: the last two TPC-H families, gated over the synthesized
    // partsupp CTE — correlated-min decorrelation + TakeOrdered (Q2),
    // group-filter scalar subquery (Q11)
    "q_tpch_q2", "q_tpch_q11")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    // `runs` and `explain` are independent optionals: `Prof sf q explain`
    // must not crash on toInt
    val runs = args.drop(2).flatMap(_.toIntOption).headOption.getOrElse(3)
    val doExplain = args.contains("explain")
    // skip the cache-load phase; the plan audit reads the parquet files
    val cold = args.contains("cold") || name == "plans"
    // ad-hoc experiment overrides: SPARK_GRAFT_CONF="k=v;k=v"
    val conf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).map(_.split("=", 2))
      .collect { case Array(k, v) => (k, v) }
    val spark = Session(Session.benchCores, 32, conf)
    spark.sparkContext.setLogLevel("ERROR")
    // PLANS mode: dump the physical plan of each named query (default:
    // auditSet) — the source for PLANS.md's per-round audit
    if (name == "plans") {
      val names = if (args.length > 2) args.drop(2).toSeq else auditSet
      names.foreach { n =>
        println(s"===== $n =====")
        try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.executedPlan.toString)
        catch { case e: Exception => println(s"<error: ${e.getMessage}>") }
      }
      spark.stop()
      return
    }
    if (!cold) {
      val tables = Seq("lineitem", "orders", "customer", "part",
        "events", "documents", "embeddings")
      tables.foreach { t =>
        graft.io.Tables.read(spark, sfDir, t)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
      }
      SparkEntry.warmSeries(spark, sfDir)
    }
    // SWEEP mode: `graft.Prof <sfDir> sweep [reps]` times EVERY declared
    // query in one JVM (bench conditions, noop sink, min/spread over warm
    // reps) — the full-coverage outlier scan an optimization round needs.
    // One JVM so the 15 s session startup isn't paid 179 times; queries
    // run alphabetically, failures are reported and skipped.
    if (name == "sweep") {
      val reps = args.drop(2).flatMap(_.toIntOption).headOption.getOrElse(3)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
      SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
        val f = SparkEntry.queries(q)
        try {
          def once(): Double = {
            val t0 = System.nanoTime()
            f(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          once() // warm (codegen/JIT)
          val times = Seq.fill(reps)(once())
          out += ((q, times.min, times.max - times.min))
          println(f"$q%-28s min ${times.min}%7.3f  spread ${times.max - times.min}%6.3f")
        } catch {
          // NonFatal only (ADVICE r17): a fatal error (OOM) leaves the
          // JVM degraded — continuing would silently skew every
          // subsequent sweep timing; let it abort the sweep loudly
          case scala.util.control.NonFatal(e) =>
            println(f"$q%-28s FAILED ${e.getMessage}")
        }
      }
      println("== slowest 20 ==")
      out.sortBy(-_._2).take(20).foreach { case (q, m, s) =>
        println(f"$q%-28s min $m%7.3f  spread $s%6.3f") }
      spark.stop()
      return
    }
    val fn = SparkEntry.queries(name)
    if (doExplain) fn(spark, sfDir).explain("formatted")
    // `jobs`: per-job wall-time accounting for the LAST run — how many
    // Spark jobs a query launches and where each comes from (call site),
    // i.e. how much of a bench-scale time is per-job launch floor vs data
    val doJobs = args.contains("jobs")
    case class J(id: Int, site: String, var start: Long = 0L, var end: Long = 0L,
                 var tasks: Int = 0)
    val jobLog = scala.collection.mutable.ArrayBuffer.empty[J]
    var taskMs = 0L; var taskDeserMs = 0L
    val stageMs = scala.collection.mutable.Map.empty[Int, (Int, Long, Long)]
    if (doJobs) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobLog.synchronized {
            jobLog += J(e.jobId,
              Option(e.properties.getProperty("callSite.short"))
                .orElse(Option(e.properties.getProperty("spark.job.description")))
                .getOrElse(e.stageInfos.map(_.name.takeWhile(_ != '\n'))
                  .mkString(" <- ")),
              e.time, 0L, e.stageInfos.map(_.numTasks).sum)
          }
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          jobLog.synchronized {
            jobLog.find(_.id == e.jobId).foreach(_.end = e.time)
          }
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          jobLog.synchronized {
            taskMs += Option(e.taskMetrics).map(_.executorRunTime).getOrElse(0L)
            taskDeserMs += Option(e.taskMetrics).map(_.executorDeserializeTime).getOrElse(0L)
            val run = Option(e.taskMetrics).map(_.executorRunTime).getOrElse(0L)
            val (n, ms, mx) = stageMs.getOrElse(e.stageId, (0, 0L, 0L))
            stageMs(e.stageId) = (n + 1, ms + run, math.max(mx, run))
          }
      })
    var lastDf: Option[org.apache.spark.sql.DataFrame] = None
    (1 to runs).foreach { i =>
      if (doJobs && i == runs) jobLog.synchronized { jobLog.clear(); taskMs = 0L; taskDeserMs = 0L; stageMs.clear() }
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.queryExecution.executedPlan // force analysis through physical planning
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      lastDf = Some(df)
      println(f"run $i: total ${(t2 - t0) / 1e9}%.3f s  (plan ${(t1 - t0) / 1e9}%.3f, exec ${(t2 - t1) / 1e9}%.3f)")
    }
    // the POST-EXECUTION plan: AQE's final plan with WholeStageCodegen
    // spans (`*(n)` markers) and AQEShuffleRead nodes — the formatted
    // pre-execution explain above prints isFinalPlan=false without
    // codegen annotation, so span claims need this view. The noop write
    // does NOT execute this df's own QueryExecution (DataFrameWriter
    // wraps the logical plan in a fresh one — review r18), so drive the
    // df's OWN executedPlan to completion here: toRdd + a foreach action
    // materializes every AQE stage on this very AdaptiveSparkPlanExec,
    // after which executedPlan prints isFinalPlan=true with codegen
    // spans. Explain-mode only — never inside the timed reps.
    if (doExplain) lastDf.foreach { df =>
      df.queryExecution.toRdd.foreachPartition(_ => ())
      println("== final adaptive plan (post-execution) ==")
      println(df.queryExecution.executedPlan.toString)
    }
    if (doJobs) {
      // settle async listener events before reading the log (the bus is
      // private API; poll until every started job has its end event)
      val deadline = System.nanoTime() + 2_000_000_000L
      while (jobLog.synchronized(jobLog.exists(_.end == 0L)) &&
             System.nanoTime() < deadline) Thread.sleep(20)
      val js = jobLog.synchronized(jobLog.toVector)
      println(f"== executor task time in final run: ${taskMs / 1e3}%.3f s run + ${taskDeserMs / 1e3}%.3f s deserialize (the rest of exec wall is driver: planning, codegen, scheduling, broadcast collect)")
      println(s"== jobs in final run: ${js.size}, " +
        f"summed wall ${js.map(j => j.end - j.start).sum / 1e3}%.3f s (jobs overlap; gaps between jobs are driver/planning time)")
      js.foreach { j =>
        println(f"  job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.3f s ${j.tasks}%4d tasks  ${j.site}")
      }
      stageMs.toVector.sortBy(_._1).foreach { case (sid, (n, ms, mx)) =>
        println(f"  stage $sid%3d: $n%3d tasks, ${ms / 1e3}%7.3f s summed run, max task ${mx / 1e3}%.3f s")
      }
    }
    spark.stop()
  }
}
