package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main. Runs the headline workloads (the BASELINE.md shapes:
  * VWAP per key, filtered count, multi-key hash agg, grid/window aggs,
  * top-k, as-of join, TPC-H Q1, plus the training-pipeline ops) on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Each query is materialized with a noop write — `count()` would let
  * Catalyst prune every computed column and undercount the real work.
  *
  * SELF-HEALING: the contention retry loop lives HERE, in the JVM the
  * driver actually invokes — not only in the tools/run_bench.sh wrapper
  * (rounds 7 and 8 both archived contended, self-disqualified records
  * because the driver calls `graft.Bench` directly and bypassed the
  * wrapper's retry). Each attempt first waits (bounded) for the box to go
  * idle, then measures; a contended or noisy attempt is retried up to
  * SPARK_GRAFT_BENCH_ATTEMPTS times, and if every attempt is dirty the
  * LAST record is emitted with `no_clean_run: true` spliced into the same
  * JSON object — the disqualification travels with the record even when
  * stderr and exit codes are lost. Failed queries short-circuit the loop
  * (retrying cannot fix broken code; a dead query must never masquerade
  * as a fast one).
  */
object Bench {

  /** BASELINE.md row → query name. Everything else in SparkEntry.queries
    * still runs in Verify; these are the timed headline set.
    */
  val headline: Seq[String] = Seq(
    "q1_agg",        // TPC-H Q1 (tpch.sql:38-58)
    "q_vwap",        // BASELINE rows 4/5/8: per-key cs_wavg
    "q_filter_count",// BASELINE row 9: filtered count
    "q_hash_multi",  // BASELINE row 10: multi-key hash agg
    "q_grid_agg",    // BASELINE row 12: cs_grid_avg
    "q_cum_agg",     // BASELINE row 13: cs_cum_sum
    "q_concat_sum",  // BASELINE row 11: cs_sum over concat of all series
    "q_concat_ranges", // interval-concat arm: UnionDisjointFilterCollapse single-scan
    "q_window_agg",  // moving aggregates
    "q_topk",        // top-N
    "q_get",         // TABLE_get: ts-range scan (prunability regression canary)
    "q_tpch_q6",     // pure-pushdown plan family (round-over-round canary)
    "q_tpch_q3",     // join-order/broadcast plan family (TakeOrdered top-10)
    "q_tpch_q21",    // multi-correlated self-join family (semi+anti on one fact)
    "q_asof",        // as-of alignment join (Align: skips NULL values)
    "q_asof_exec",   // same shape on AsofMerge directly (carries the matched row)
    "q_asof_bucketed", // the flagship 100 TB plan: zero-Exchange bucketed as-of
    "q_join",        // relational join path
    "q_ema",         // recursive indicator scan
    "q_dedup_exact", // content-hash dedup
    "q_minhash_lsh", // near-dup candidates
    "q_knn",         // embedding similarity
    "q_lang_id",     // text classification scan
    "q_tumbling")    // event-time bucket agg

  /** One query's measurement: min/spread over the warm reps, the attempt's
    * first (cold) run, and whether any rep threw. `maint` marks a
    * MAINTENANCE op (append + incremental compact): its reps do real
    * filesystem writes, whose cache/sync variance sits above the scan
    * queries' noise floor — so maintenance entries are classified by
    * their OWN scaled witnesses ([[maintNoisyWitness]] /
    * [[maintContendedRun]], r17 — pre-r17 they were excluded entirely,
    * which let BENCH_r16 ship a contaminated maintenance phase as clean)
    * and stay out of the scan-calibrated ones.
    */
  private[graft] case class QRes(name: String, minT: Double, spread: Double,
                                 cold: Double, failed: Boolean, warm: Seq[Double],
                                 maint: Boolean = false, nreps: Int = 0)

  /** 1/5/15-minute load averages — the machine-contention witness. A bench
    * number is only as good as the box it ran on: round 5's recorded run
    * showed unchanged-code queries "regressing" 9× with ~1 s spreads on
    * 0.2 s queries, which an idle-box re-run flatly contradicted. Snapshot
    * the loadavg BEFORE the bench does any work (the start value is
    * uncontaminated by our own 32-thread load) so a contended run
    * self-identifies in the recorded JSON instead of masquerading as a
    * regression.
    */
  private def loadavg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).toSeq.map(_.toDouble)
      finally src.close()
    } catch { case _: Throwable => Seq(-1.0, -1.0, -1.0) }

  /** Per-query interference witnesses, applied to (min, spread) of the warm
    * reps. Two independent triggers, each sufficient on its own:
    *  - ABSOLUTE: spread > 0.3 s — far beyond this workload's measured
    *    idle-box noise floor (~0.1 s);
    *  - RELATIVE: spread > 3× the query's own min (with a 0.1 s floor so
    *    tens-of-ms JIT jitter on a 20 ms query doesn't false-positive).
    *    Without the relative witness a 0.2 s burst on a 60 ms query — 4×
    *    its min, clearly interference — slid under the absolute gate
    *    (the round-7 blind band).
    */
  private[graft] def noisyWitness(minT: Double, spread: Double): Boolean =
    spread > 0.3 || (spread > 3 * minT && spread > 0.1)

  /** The single-query disqualifier: one spread both large in absolute terms
    * AND dwarfing its own min is an interference burst, not GC (measured max
    * pause 57 ms on this workload) — it flips the whole run to contended
    * even when only one query was hit (the round-6 failure mode).
    */
  private[graft] def extremeWitness(minT: Double, spread: Double): Boolean =
    spread > 0.3 && spread > 3 * minT

  /** MAINTENANCE-scaled witnesses (VERDICT r16 wrong #1: BENCH_r16 shipped
    * a maintenance phase with 3.98/7.71 s spreads on 0.5-3.5 s entries as
    * "clean" because maintenance results were excluded from every witness,
    * and the phantom 5.36×/2.64× movers took a judge bench re-run to
    * refute). Maintenance reps do real filesystem writes, so their
    * idle-box noise floor is higher than the scan queries' (~0.1-0.3 s of
    * page-cache/sync variance was measured across clean rounds) — the
    * scan thresholds would false-positive every round. But their mins sit
    * at 0.5-3.5 s, where a spread comparable to the min is NEVER GC or
    * write-cache variance: the witness flags spread > max(0.5 s,
    * 0.75×min), and the extreme (run-disqualifying) form needs the spread
    * to exceed BOTH 0.5 s and the min itself.
    */
  private[graft] def maintNoisyWitness(minT: Double, spread: Double): Boolean =
    spread > math.max(0.5, 0.75 * minT)

  private[graft] def maintExtremeWitness(minT: Double, spread: Double): Boolean =
    spread > 0.5 && spread > minT

  /** Maintenance-phase contention verdict: a PATTERN of noisy maintenance
    * entries, one extreme burst, or a mid-run canary drift — the canary is
    * RE-MEASURED between the scan and maintenance phases, so a tenant
    * arriving mid-attempt (r16's contaminated record: clean scan phase,
    * garbage maintenance phase, loadavg 3.8 at start) disqualifies the
    * maintenance phase on its own evidence even when every per-entry
    * spread squeaks under the thresholds.
    */
  private[graft] def maintContendedRun(canaryScan: Double, canaryMaint: Double,
                                       maintResults: Seq[QRes]): Boolean = {
    val noisyCount = maintResults.count(r => maintNoisyWitness(r.minT, r.spread))
    val canaryDrift = canaryScan > 0 && canaryMaint > 0 &&
      canaryMaint > math.max(1.5 * canaryScan, canaryScan + 0.1)
    noisyCount >= 2 || canaryDrift ||
      maintResults.exists(r => maintExtremeWitness(r.minT, r.spread))
  }

  /** Contention self-diagnosis over one attempt. Three independent
    * witnesses:
    *  (a) `boxBusy`: this attempt's idle wait NEVER OBSERVED an idle box —
    *      the wait's outcome, not a loadavg snapshot, is the witness,
    *      because a raw attempt-start sample cannot be attributed (it is
    *      dominated by the previous attempt's own 32-thread measurement
    *      residue, so retries would self-poison), while a one-shot
    *      pre-bench snapshot goes stale in BOTH directions (a tenant
    *      leaving after start burns every retry; one arriving later is
    *      invisible). Observed-idle immediately before measuring means
    *      everything — ours and theirs — had drained;
    *  (b) warm-rep spreads far beyond the measured noise floor on MORE
    *      than one query — one outlier can be a stray GC, a pattern is
    *      another tenant;
    *  (c) ONE query whose spread is both large and dwarfs its own min
    *      (extremeWitness) — round 6's actual failure mode.
    * A steady co-tenant that slows every query uniformly WITHOUT spread
    * is detectable only by (a)'s failed idle wait — loadavg sampled
    * mid-run cannot separate tenant load from our own.
    */
  private[graft] def contendedRun(boxBusy: Boolean,
                                  results: Seq[QRes]): Boolean = {
    val noisyCount = results.count(r => noisyWitness(r.minT, r.spread))
    boxBusy || noisyCount >= 2 ||
      results.exists(r => extremeWitness(r.minT, r.spread))
  }

  /** Bounded wait for an idle box: poll `load` until it drops below
    * `threshold` or `maxWaitSec` elapses. Returns whether idle was
    * reached — a timeout still proceeds (the run self-detects contention),
    * it just doesn't wait forever on a permanently-busy machine.
    */
  private[graft] def waitForIdle(load: () => Double, threshold: Double,
                                 maxWaitSec: Int, sleepMs: Long = 10000L,
                                 log: String => Unit = System.err.println): Boolean = {
    var waitedMs = 0L
    var l = load()
    while (l >= threshold) {
      if (waitedMs >= maxWaitSec * 1000L) {
        log(f"[bench] loadavg still $l%.2f after ${waitedMs / 1000}s — " +
          "running anyway (the record self-detects contention)")
        return false
      }
      log(f"[bench] box busy (loadavg $l%.2f >= $threshold%.1f) — waiting " +
        f"for idle (${waitedMs / 1000}/${maxWaitSec}s)")
      Thread.sleep(sleepMs)
      waitedMs += sleepMs
      l = load()
    }
    true
  }

  /** The standing box-floor canary (VERDICT r11 "What's wrong" #2): a
    * plan-constant synthetic job — a partitioned `range` sum, no I/O, no
    * data dependence, a plan no engine change alters — timed fresh each
    * attempt and recorded as `canary_sec`. Cross-round comparisons divide
    * per-query deltas by the canary ratio to separate machine/JVM floor
    * drift (the r10→r11 confounder: every small-absolute query "moved"
    * +20-60 ms including under a pre-change binary) from real plan
    * regressions; PLANS.md states round-over-round deltas
    * canary-normalized.
    */
  private[graft] def measureCanary(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      // double arithmetic: a long product-sum overflows under ANSI mode
      spark.range(0L, 64L << 20, 1L, 32)
        .selectExpr("sum(cast(id as double) * 2654435761.0) as s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // codegen/JIT warm — the canary tracks the floor, not startup
    Seq.fill(3)(once()).min
  }

  /** The JSON record. `noCleanRun` (set when every attempt was
    * dirty) splices `"no_clean_run":true` plus the attempt count into the
    * SAME object, so a consumer that archives the JSON unconditionally
    * still carries the disqualification.
    *
    * Two renderings of the same attempt:
    *  - `withRepTimes = false` (COMPACT): everything a round-over-round
    *    comparison needs — totals, per-query mins, spreads, contention
    *    verdict — but NO rep_times array. This is the record the driver
    *    parses, and it is emitted as the LAST stdout line: the driver's
    *    tail capture is bounded (2000 chars observed on BENCH_r09, whose
    *    full record's HEAD was truncated mid-object → `parsed: null`), so
    *    the parseable line must be last and short. BenchSpec pins a
    *    conservative length bound on this rendering.
    *  - `withRepTimes = true` (DETAIL): adds the full warm-rep series per
    *    query; printed BEFORE the compact line and also written whole to a
    *    sidecar file, so per-rep forensics survive even when the stdout
    *    tail clips it.
    */
  /** Canary-normalized round-over-round ratios (VERDICT r12 #4): for each
    * query in both rounds, (q_now/q_prev) / (canary_now/canary_prev) —
    * PLANS.md's prescribed formula, computed here so round-over-round
    * reads stop being a manual exercise. Reads the highest-numbered
    * BENCH_r*.json archive in the working directory NOT NEWER than the
    * last JUDGED round (VERDICT.md's "round N" header — the only local
    * fact that distinguishes the previous round's record from the
    * CURRENT round's own archive, which exists by judge-re-run time and
    * would otherwise make every ratio ≈1 and mask real movement; ADVICE
    * r14). SPARK_GRAFT_BENCH_PREV names an explicit archive instead.
    * Absent/unparseable archives (or a prior record with no canary)
    * yield None and the fields are omitted.
    */
  /** Parsed `parsed` object of a driver bench archive, or JNothing. */
  private def parsedOf(f: java.io.File): org.json4s.JValue = scala.util.Try {
    org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")) \ "parsed"
  }.getOrElse(org.json4s.JNothing)

  /** Every archived round's canary floor, round → canary_sec — the drift
    * ledger (VERDICT r15 item 4): three straight rounds were adjudicated
    * against floor drift by PLANS.md archaeology; with the history in the
    * record itself the attribution is one lookup. All parseable archives
    * in the working directory, no judged-round cutoff (a current-round
    * archive present at judge-re-run time is just one more true entry).
    */
  private[graft] def canaryHistory(dir: java.io.File = new java.io.File(".")):
      Seq[(Int, Double)] = scala.util.Try {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val re = """BENCH_r(\d+)\.json""".r
    Option(dir.listFiles()).toSeq.flatten
      .flatMap(f => f.getName match {
        case re(n) => (parsedOf(f) \ "canary_sec").extractOpt[Double]
          .filter(_ > 0.0).map(c => (n.toInt, c))
        case _ => None
      }).sortBy(_._1)
  }.getOrElse(Seq.empty)

  private[graft] def normalizedVsPrev(results: Seq[QRes], canarySec: Double,
      dir: java.io.File = new java.io.File(".")):
      Option[(String, Double, Map[String, Double])] = scala.util.Try {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val re = """BENCH_r(\d+)\.json""".r
    // the newest round VERDICT.md has judged: archives beyond it are this
    // round's own record (no VERDICT → round 1 → nothing to exclude)
    val judged: Option[Int] = scala.util.Try {
      val src = scala.io.Source.fromFile(new java.io.File(dir, "VERDICT.md"))
      try """(?i)VERDICT\s*[—–-]+\s*round\s+(\d+)""".r
        .findFirstMatchIn(src.mkString).map(_.group(1).toInt)
      finally src.close()
    }.toOption.flatten
    val explicit = sys.env.get("SPARK_GRAFT_BENCH_PREV")
      .map(n => new java.io.File(n)).filter(_.isFile).map(f => (0, f))
    // newest CLEAN archive first (contended=false, noisy=[]): normalizing
    // against a contended record reads as movement what was the prior
    // box's noise — r15's "2.71× q_vwap vs a 2.85×-contended r14" is
    // exactly the misread (VERDICT r15 item 4). The newest archive stays
    // the fallback when no clean one exists.
    val candidates = Option(dir.listFiles()).toSeq.flatten
      .flatMap(f => f.getName match {
        case re(n) if judged.forall(n.toInt <= _) => Some((n.toInt, f))
        case _ => None
      }).sortBy(-_._1)
    def isClean(p: org.json4s.JValue): Boolean =
      (p \ "contended").extractOpt[Boolean].contains(false) &&
        (p \ "noisy").extractOpt[Seq[String]].exists(_.isEmpty)
    // parse each candidate ONCE (review r16): the clean scan and the
    // chosen record's field reads serve from the same parse
    val parsedBy = scala.collection.mutable.HashMap.empty[String, org.json4s.JValue]
    def parsedOnce(f: java.io.File): org.json4s.JValue =
      parsedBy.getOrElseUpdate(f.getName, parsedOf(f))
    val prev = explicit.orElse(
      candidates.find(c => isClean(parsedOnce(c._2)))
        .orElse(candidates.headOption))
    prev.flatMap { case (_, f) =>
      val parsed = parsedOnce(f)
      val prevCanary = (parsed \ "canary_sec").extractOpt[Double].getOrElse(-1.0)
      val prevQ = (parsed \ "queries").extractOpt[Map[String, Double]]
        .getOrElse(Map.empty)
      if (prevCanary <= 0.0 || canarySec <= 0.0 || prevQ.isEmpty) None
      else {
        val cr = canarySec / prevCanary
        val m = results.filter(r => !r.failed && prevQ.get(r.name).exists(_ > 0))
          .map(r => r.name -> (r.minT / prevQ(r.name)) / cr).toMap
        Some((f.getName, cr, m))
      }
    }
  }.toOption.flatten

  private[graft] def renderJson(results: Seq[QRes], reps: Int, loadSec: Double,
                                startLoad: Seq[Double], endLoad: Seq[Double],
                                contended: Boolean, noisy: Seq[String],
                                sfDir: String, attempt: Int,
                                noCleanRun: Option[Int],
                                withRepTimes: Boolean = false,
                                canarySec: Double = -1.0,
                                normPrev: Option[(String, Double,
                                  Map[String, Double])] = None,
                                canaryHist: Seq[(Int, Double)] = Seq.empty,
                                canaryMaintSec: Double = -1.0): String = {
    def jmap(f: QRes => String) = results.map(f).mkString("{", ",", "}")
    val qs = jmap(r => "\"" + r.name + "\":" + f"${r.minT}%.3f")
    val spread = jmap(r => "\"" + r.name + "\":" + f"${r.spread}%.3f")
    val repsJson =
      if (!withRepTimes) ""
      else ",\"rep_times\":" + jmap(r =>
        "\"" + r.name + "\":" + r.warm.map(w => f"$w%.3f").mkString("[", ",", "]"))
    val failedList = results.filter(_.failed).map("\"" + _.name + "\"")
      .mkString("[", ",", "]")
    // the headline total covers SCAN queries only: maintenance ops'
    // filesystem-write variance is excluded from the contention witnesses,
    // so letting their times into `value` would leak exactly that variance
    // into "clean" totals — and break round-over-round comparison against
    // records from before maintenance entries existed. Their per-query
    // times stay in `queries`; `maint_sec` carries their own total.
    val total = results.filterNot(_.maint).map(_.minT).sum
    val coldTotal = results.filterNot(_.maint).map(_.cold).sum
    val maintTotal = results.filter(_.maint).map(_.minT).sum
    val loadJson = (startLoad ++ endLoad).map(v => f"$v%.2f")
      .mkString("[", ",", "]")
    val marker = noCleanRun
      .map(a => s""","no_clean_run":true,"attempts":$a""").getOrElse("")
    // queries running MORE warm reps than the session default (the as-of
    // trio + q_minhash_lsh run 2x) record their actual count — without
    // this the global "reps" field silently misstates their sample size
    // round-over-round. Keyed on the INTENDED nreps, not warm.length: a
    // cold-run failure truncates warm to one sentinel entry, which must
    // read as a failure (the `failed` list), never as a 1-rep sample.
    val extraReps = results.filter(r => !r.failed && r.nreps != reps)
      .map(r => "\"" + r.name + "\":" + r.warm.length)
    val extraJson =
      if (extraReps.isEmpty) "" else extraReps.mkString(""","warm_reps":{""", ",", "}")
    // normalized round-over-round ratios: the COMPACT line (the driver's
    // bounded tail capture) carries only the out-of-band movers
    // (|ratio-1| > 10%), capped at the 8 LARGEST displacements — a
    // floor-shifted round can flag every query, and an uncapped list
    // would push the record past the 2000-char tail; the detail line +
    // sidecar carry the full map for forensics
    val normJson = normPrev.map { case (prevName, cr, m) =>
      val kept =
        if (withRepTimes) m.toSeq
        else m.toSeq.filter(e => math.abs(e._2 - 1.0) > 0.10)
          .sortBy(e => -math.abs(e._2 - 1.0)).take(8)
      val entries = kept.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
        .mkString("{", ",", "}")
      s""","prev_round":"$prevName","canary_ratio":${f"$cr%.2f"},"normalized_vs_prev":$entries"""
    }.getOrElse("")
    // the drift ledger: round → canary floor for every parseable archive.
    // The compact line carries the newest 8 (bounded tail capture, same
    // cap reasoning as the movers list); the detail line carries them all.
    val histJson =
      if (canaryHist.isEmpty) ""
      else ""","canary_history":""" +
        (if (withRepTimes) canaryHist else canaryHist.takeRight(8))
          .map { case (r, c) => "\"r" + r + "\":" + f"$c%.3f" }
          .mkString("{", ",", "}")
    // the maintenance-phase canary snapshot (taken between the two
    // measurement phases) — omitted when the phase never ran
    val maintCanaryJson =
      if (canaryMaintSec < 0) ""
      else f""","canary_maint_sec":$canaryMaintSec%.3f"""
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"spread":$spread$repsJson,"failed":$failedList,"reps":$reps$extraJson,"attempt":$attempt,"load_sec":$loadSec%.3f,"canary_sec":$canarySec%.3f$maintCanaryJson$histJson,"cold_sec":$coldTotal%.3f,"maint_sec":$maintTotal%.3f$normJson,"loadavg_start_end":$loadJson,"contended":$contended,"noisy":${noisy.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir"$marker}"""
  }

  /** Emit one attempt's record: detail line first (full rep_times, also
    * persisted whole to the sidecar), COMPACT line last — the only ordering
    * under which a bounded tail capture of stdout is guaranteed to contain
    * one complete, parseable JSON object.
    */
  private def emitRecord(results: Seq[QRes], reps: Int, loadSec: Double,
                         startLoad: Seq[Double], endLoad: Seq[Double],
                         contended: Boolean, noisy: Seq[String],
                         sfDir: String, attempt: Int,
                         noCleanRun: Option[Int], canarySec: Double,
                         canaryMaintSec: Double = -1.0): Unit = {
    val normPrev = normalizedVsPrev(results, canarySec)
    val hist = canaryHistory()
    val detail = renderJson(results, reps, loadSec, startLoad, endLoad,
      contended, noisy, sfDir, attempt, noCleanRun, withRepTimes = true,
      canarySec = canarySec, normPrev = normPrev, canaryHist = hist,
      canaryMaintSec = canaryMaintSec)
    val compact = renderJson(results, reps, loadSec, startLoad, endLoad,
      contended, noisy, sfDir, attempt, noCleanRun, withRepTimes = false,
      canarySec = canarySec, normPrev = normPrev, canaryHist = hist,
      canaryMaintSec = canaryMaintSec)
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "bench_detail.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(sidecar),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed ($sidecar): ${e.getMessage}")
    }
    println(detail)
    println(compact)
  }

  /** One measurement attempt over the headline set. N runs per query
    * (default 7, 6 warm), min of the warm runs reported: run 1 pays
    * one-time codegen compilation (~0.5-1 s per distinct plan), which the
    * reference's published numbers exclude (they are post-load,
    * repeat-measured — BASELINE.md row 9 quotes the "repeat" time).
    * cold_sec keeps the first-run total visible (attempts after the first
    * are warm throughout — their "cold" is informational only); "spread"
    * (max-min over warm runs) exposes the per-query noise floor, and a
    * query that throws is recorded in "failed". Reps run CONSECUTIVELY per
    * query on purpose: an interleaved round-robin protocol was measured
    * 70% slower end-to-end (5.42 vs 3.21 s back-to-back) — consecutive
    * repeats keep each plan's codegen/JIT hot, which also matches the
    * reference's published repeat-measurement methodology.
    */
  /** The as-of trio gets DOUBLE reps: round 10's record moved q_asof_exec
    * +57% with a 0.273 s spread over 6 warm reps — too few samples to
    * separate a JIT/warm-up burst from a real regression on a ~0.2 s
    * query whose source had only driver-side plan-construction changes.
    * More reps tighten the min estimate where the round-over-round claim
    * ("merge exec beats union+window") is actually adjudicated.
    */
  /** q_minhash_lsh joined in r12: BENCH_r11 flagged it `noisy` (0.429 s
    * spread on a 0.692 s min over 6 reps) with a correct plan — the
    * slowest headline query needs the tightest min estimate, not the
    * loosest (VERDICT r11 "What's wrong" #1).
    */
  /** q_dedup_ingest joined in r14: BENCH_r13's widest spread (1.008 s on
    * a 1.354 s min) — per-batch job-launch floor variance on the slowest
    * maintenance entry needs the larger sample, and the corpus now lands
    * in SETUP so every measured rep (the cold one included) is the
    * steady-state re-crawl batch, not stream bootstrap.
    */
  private val extraRepQueries =
    Set("q_asof", "q_asof_exec", "q_asof_bucketed", "q_minhash_lsh",
      "q_dedup_ingest", "q_emb_ingest", "q_stream_ingest")

  private def timed(name: String, run: () => Unit, isMaint: Boolean,
                    nreps: Int): QRes = {
    def once(): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { run(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val (cold, coldOk) = once()
    // a query broken on its cold run stays broken — don't burn reps on it
    val warm = if (coldOk) Seq.fill(nreps - 1)(once()) else Seq((cold, false))
    val failed = !coldOk || warm.exists(!_._2)
    val warmTimes = warm.map(_._1)
    QRes(name, warmTimes.min, warmTimes.max - warmTimes.min, cold, failed,
      warmTimes, isMaint, nreps)
  }

  private def measureScans(spark: SparkSession, sfDir: String,
                           reps: Int): Seq[QRes] =
    headline.filter(SparkEntry.queries.contains).map { name =>
      val fn = SparkEntry.queries(name)
      timed(name,
        () => fn(spark, sfDir).write.format("noop").mode("overwrite").save(),
        isMaint = false,
        nreps = if (extraRepQueries(name)) reps * 2 else reps)
    }

  /** Maintenance ops: each rep is one full append+fold cycle — new data
    * each time (the op's closure advances its own ts offset), so a rep
    * measures steady-state incremental maintenance, never a warmed no-op.
    * Measured as a SEPARATE phase after the scans, with its own canary
    * snapshot in between (maintContendedRun).
    */
  private def measureMaint(reps: Int,
                           maint: Seq[(String, () => Unit)]): Seq[QRes] =
    maint.map { case (name, op) =>
      timed(name, op, isMaint = true,
        nreps = if (extraRepQueries(name)) reps * 2 else reps) }

  def main(args: Array[String]): Unit = {
    // zero retention grace for the maintenance headline entries: eager
    // reclaim keeps q_compact_incr's per-rep filesystem work comparable
    // with pre-retention rounds (deferred reclaim would shift deletes
    // into later reps' entry phase — same total work, noisier attribution)
    sys.props.getOrElseUpdate("graft.retire.grace.ms", "0")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.benchCores
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(_.toIntOption).getOrElse(7).max(2)
    val attempts = sys.env.get("SPARK_GRAFT_BENCH_ATTEMPTS")
      .flatMap(_.toIntOption).getOrElse(3).max(1)
    // bounded so the WORST case (a persistently busy box: full wait before
    // the load phase and before every retry, all attempts dirty) adds at
    // most ~(attempts+1)×3 min of waiting on top of ~3 one-minute
    // measurement passes — a harness with a coarse timeout still gets its
    // record (self-disqualified beats absent)
    val idleWaitSec = sys.env.get("SPARK_GRAFT_BENCH_IDLE_WAIT")
      .flatMap(_.toIntOption).getOrElse(180).max(0)
    val idleLoad = sys.env.get("SPARK_GRAFT_BENCH_IDLE_LOAD")
      .flatMap(_.toDoubleOption).getOrElse(1.0)
    // witness (a)'s evidence is each attempt's idle-wait OUTCOME (see
    // contendedRun). The strict pre-bench wait runs before the load phase
    // so attempt 1 measures a box that was observed idle before WE did
    // any work; retries re-wait with a RELAXED threshold (cpus/4 — the
    // busy-box bar) so our own just-finished attempt's decaying loadavg
    // residue doesn't stall or falsely flag them.
    val idleReachedPre = waitForIdle(() => loadavg().head, idleLoad, idleWaitSec)
    val spark = Session(cpus, 32)
    spark.sparkContext.setLogLevel("ERROR")

    // Load phase — the reference is an IN-MEMORY columnar store whose
    // published numbers (BASELINE.md) are measured after `TABLE_load()`
    // (user_guide.html:1630: load itself takes 15 s and is not part of any
    // query time). The Spark equivalent of that load is caching the
    // columnar tables; Spark's CacheManager then serves every identical
    // `spark.read.parquet(path)` plan from the InMemoryRelation, so the
    // timed queries below scan memory, not parquet. Reported separately
    // as load_sec. Runs ONCE — the contention retry loop below re-measures
    // only; a dirty attempt doesn't re-pay the load.
    val tables = Seq("lineitem", "orders", "customer", "part",
      "events", "documents", "embeddings")
    val tLoad = System.nanoTime()
    tables.foreach { t =>
      graft.io.Tables.read(spark, sfDir, t)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
    }
    // pos numbering happens at load in the reference (imcs.c:4177-4412);
    // materialize the events series here for the same reason
    SparkEntry.warmSeries(spark, sfDir)
    val loadSec = (System.nanoTime() - tLoad) / 1e9

    // Warm the JVM + codegen so q1 doesn't absorb startup cost.
    SparkEntry.queries("q1_agg")(spark, sfDir).write.format("noop")
      .mode("overwrite").save()

    // q_compact_incr: the r9 maintenance claim, timed round-over-round —
    // one APPEND+INCREMENTAL-COMPACT cycle per rep over a load-layout
    // table staged fresh per bench run. Each rep appends the same-size
    // batch (the top 5% of events, ts-shifted past the stored tail so the
    // in-order guard accepts it) and folds ONLY that batch; cold files
    // carry over by rename, so a healthy rep's wall time is ∝ the batch —
    // a rep that starts scaling with the growing table is exactly the
    // regression this entry exists to catch.
    // FIXED staging names (not PID-keyed): a PID-keyed name never repeats,
    // so a killed run's staging dir would never be reclaimed — with fixed
    // names the next run's entry cleanup reclaims any leftover, and the
    // end-of-run cleanup after the attempt loop removes this run's own
    // staging eagerly.
    //
    // RUN-SCOPED lease (ADVICE r11 #1): the previous design only held a
    // lease while a maintenance OP was in flight, so a second bench run's
    // entry reclaim arriving BETWEEN reps saw no lease and silently
    // deleted this run's maintenance tables mid-measurement. Now the run
    // holds the writer lease on BOTH staging paths for the entire attempt
    // loop (acquired here, released after the end-of-run cleanup): lease
    // ACQUISITION is the arbitration — a LIVE foreign lease (another
    // bench run mid-measurement; its numbers and ours would both be
    // garbage) refuses loudly, a stale one (killed run) is broken and its
    // staging reclaimed. The per-op leases inside re-enter (same thread).
    val maintPath = s"${System.getProperty("java.io.tmpdir")}/graft_bench_incr"
    val maintDelPath = s"${System.getProperty("java.io.tmpdir")}/graft_bench_del"
    val maintStreamPath = s"${System.getProperty("java.io.tmpdir")}/graft_bench_stream"
    val maintBktTable = "graft_bench_bkt_incr"
    val maintHp = new org.apache.hadoop.fs.Path(maintPath)
    val maintFs = maintHp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val delHp = new org.apache.hadoop.fs.Path(maintDelPath)
    val strHp = new org.apache.hadoop.fs.Path(maintStreamPath)
    val bktLoc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(maintBktTable)))
    val bktFs = bktLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.io.Tables.withWriterLease(maintFs, maintHp, "bench-run") {
    graft.io.Tables.withWriterLease(maintFs, delHp, "bench-run") {
    graft.io.Tables.withWriterLease(maintFs, strHp, "bench-run") {
    graft.io.Tables.withWriterLease(bktFs, bktLoc, "bench-run") {
    // q_dedup_ingest's lazily-built corpus cache — hoisted so the
    // end-of-run cleanup can release the pinned blocks (ADVICE r14)
    var dedupDocsCache: Option[org.apache.spark.sql.DataFrame] = None
    // q_emb_ingest's vector-corpus cache, same lifecycle
    var embVecsCache: Option[org.apache.spark.sql.DataFrame] = None
    val maintOps: Seq[(String, () => Unit)] = {
      import org.apache.spark.sql.functions.{col, concat, concat_ws, lit, max, md5, min}
      val ev = graft.io.Tables.read(spark, sfDir, "events")
      val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
      val (tsMin, tsMax) = (mm.getLong(0), mm.getLong(1))
      val cutNs = tsMax - (tsMax - tsMin) / 20
      val batchSpan = tsMax - cutNs + 1
      val batch = ev.filter(col("ts") >= cutNs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      batch.count()
      // entry reclaim of killed-run leftovers — we hold the run lease, so
      // plain deletes are safe (no second run can be mid-measurement here)
      maintFs.delete(maintHp, true)
      maintFs.delete(delHp, true)
      maintFs.delete(strHp, true)
      bktFs.delete(bktLoc, true)
      graft.io.Tables.load(ev.filter(col("ts") < cutNs), maintPath, Seq(), "ts")
      // q_delete_range's table: base below the cut; each rep appends one
      // batch then retention-deletes exactly its span — the table returns
      // to the base size, so every rep measures the same-shaped delete
      graft.io.Tables.load(ev.filter(col("ts") < cutNs), maintDelPath, Seq(), "ts")
      // q_stream_ingest's table: same base; each rep lands the batch as
      // K micro-batches through the exactly-once commit-log path
      graft.io.Tables.load(ev.filter(col("ts") < cutNs), maintStreamPath,
        Seq(), "ts")
      var repIdx = 0L
      var delRepIdx = 0L
      var streamRepIdx = 0L
      // the bucketed lifecycle twin (r10's appendBucketed/compactBucketed):
      // same base/batch split through the bucketed layout. loadBucketed
      // overwrites any leftover from a killed run (fixed name). Each rep
      // appends one batch through the catalog's bucket spec and folds the
      // hot buckets — the per-round regression canary for the fold path.
      graft.io.Tables.loadBucketed(ev.filter(col("ts") < cutNs), maintBktTable,
        Seq("user_id"), 8, sortCols = Seq("ts"))
      var bktRepIdx = 0L
      Seq(
        "q_compact_incr" -> (() => {
          val shift = repIdx * batchSpan
          repIdx += 1
          graft.io.Tables.append(batch.withColumn("ts", col("ts") + lit(shift)),
            maintPath, "ts", lit(Long.MinValue))
          graft.io.Tables.compactIncremental(spark, maintPath, Seq(), "ts")
          ()
        }),
        "q_compact_bucketed" -> (() => {
          val shift = bktRepIdx * batchSpan
          bktRepIdx += 1
          graft.io.Tables.appendBucketed(
            batch.withColumn("ts", col("ts") + lit(shift)), maintBktTable)
          graft.io.Tables.compactBucketed(spark, maintBktTable)
          ()
        }),
        // one APPEND + RETENTION-DELETE cycle per rep (the r13 O(range)
        // claim, timed round-over-round): the delete's manifest split must
        // carry every base file and rewrite only the batch's — a rep that
        // starts scaling with the base table is the regression this entry
        // catches (ScaleSmoke's deleteRange A/B is the ∝-range proof)
        "q_delete_range" -> (() => {
          val shift = delRepIdx * batchSpan
          delRepIdx += 1
          val lo = cutNs + shift
          graft.io.Tables.append(batch.withColumn("ts", col("ts") + lit(shift)),
            maintDelPath, "ts", lit(Long.MinValue))
          graft.io.Tables.deleteRange(spark, maintDelPath, "ts",
            lit(lo), lit(lo + batchSpan))
          ()
        }),
        // dedup-at-landing (r13; corpus re-composed r14): one micro-batch
        // of 1000 docs through the near-dup-filtered ingest — minhash
        // banding, the bloom-sidecar corpus probe, in-batch components,
        // two exactly-once appends. Setup is LAZY (first invocation — a
        // run that never reaches the entry pays nothing, and the corpus
        // cache is released in the end-of-run cleanup, ADVICE r14) and
        // LANDS the corpus as batch 0 plus one fold of the bucket table,
        // so every WARM rep is the steady-state RE-CRAWL shape (every doc
        // near-dups the retained corpus and drops at the PROBE): banding
        // + corpus probe + drop decision + the empty-batch commits, the
        // common case at scale. The COLD rep carries the one-time setup
        // (landing + fold + warm-ups) — read this entry's min/spread,
        // not its cold figure. The corpus is SYNTHETIC (8 md5 tokens per
        // doc_id): pre-r16 the raw documents slice chain-collided under
        // unverified landing banding into <5 retained representatives
        // (the very over-drop r16's exact-Jaccard verification fixed),
        // and synthetic distinct texts keep the candidate volume
        // deterministic either way; ~all 1000 docs land, so the probe
        // faces a real stored bucket set. Since r16 each warm re-crawl
        // rep deliberately INCLUDES the verification cost (candidate
        // ts-slice fetch + shingle + exact-Jaccard join before the
        // drop) — the honest steady-state price of verified semantics;
        // the all-drop outcome still short-circuits the component
        // machinery. Staging paths are covered transitively by the run
        // lease (a second bench run refuses at maintPath first).
        "q_dedup_ingest" -> {
          val dedupDoc = s"${System.getProperty("java.io.tmpdir")}/graft_bench_dedup_docs"
          val dedupBkt = s"${System.getProperty("java.io.tmpdir")}/graft_bench_dedup_bkts"
          var dedupRep = 1L
          (() => {
            val docs = dedupDocsCache.getOrElse {
              val d = graft.io.Tables.read(spark, sfDir, "documents")
                .limit(1000).select(col("doc_id"),
                  concat_ws(" ", (0 until 8).map(k =>
                    md5(concat(col("doc_id").cast("string"), lit(s"-$k")))): _*)
                    .as("text"))
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              d.count()
              // the bloom sidecars are SIBLINGS of the bucket dir (global
              // file + per-file dir) — a dir-only delete would leak stale
              // (superset/orphan, so correctness-safe, but accumulating)
              // sidecars into the next run's probe
              Seq(dedupDoc, dedupBkt, dedupBkt + ".bloom",
                dedupBkt + ".fblooms").foreach { p =>
                val hp = new org.apache.hadoop.fs.Path(p)
                hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
                  .delete(hp, true)
              }
              // batch 0 lands the corpus OUTSIDE the measurement; the fold
              // installs the clustered layout the probe reads
              graft.streaming.Streams.dedupIngestBatch(
                d.select(col("doc_id").as("id"), col("doc_id").as("ts"),
                  col("text")),
                dedupDoc, dedupBkt, "ts", "bench-dedup", "id", "text",
                5, 8, 2, 0L)
              graft.io.Tables.compactIncremental(spark, dedupBkt,
                Seq("band", "bucket"), "ts")
              // two UNMEASURED re-crawl batches: the pipeline compiles a
              // fresh plan set per batch (new literals each rep), and its
              // JIT warm-down spanned the first measured reps (BENCH_r13's
              // widest spread) — burn it here so measured reps start warm
              for (w <- 1L to 2L)
                graft.streaming.Streams.dedupIngestBatch(
                  d.select((col("doc_id") + lit(w * 1000000L)).as("id"),
                    (col("doc_id") + lit(w * 1000000L)).as("ts"), col("text")),
                  dedupDoc, dedupBkt, "ts", "bench-dedup", "id", "text",
                  5, 8, 2, w)
              dedupRep = 3L
              dedupDocsCache = Some(d)
              d
            }
            val rep = dedupRep
            dedupRep += 1
            val batch = docs.select(
              (col("doc_id") + lit(rep * 1000000L)).as("id"),
              (col("doc_id") + lit(rep * 1000000L)).as("ts"),
              col("text"))
            graft.streaming.Streams.dedupIngestBatch(batch, dedupDoc, dedupBkt,
              "ts", "bench-dedup", "id", "text", 5, 8, 2, rep)
            ()
          })
        },
        // the EMBEDDING landing twin's standing number (r17, mirroring
        // q_dedup_ingest): 1000 synthetic 64-dim vectors (deterministic
        // per doc_id; pairwise cosine far below 0.95, so batch 0 lands
        // every vector) through dedupIngestEmbeddingBatch; each warm rep
        // RE-UPLOADS the identical vectors under shifted ids — the
        // embedding re-crawl steady state, where every candidate drops at
        // the vector-fingerprint tier with ZERO doc-table I/O. Setup is
        // lazy like the text twin's, with the same batch-0 + fold + two
        // warm batches outside measurement.
        "q_emb_ingest" -> {
          val embDoc = s"${System.getProperty("java.io.tmpdir")}/graft_bench_emb_docs"
          val embBkt = s"${System.getProperty("java.io.tmpdir")}/graft_bench_emb_bkts"
          var embRep = 1L
          (() => {
            import org.apache.spark.sql.functions.expr
            val vecs = embVecsCache.getOrElse {
              val d = graft.io.Tables.read(spark, sfDir, "documents")
                .limit(1000).select(col("doc_id"),
                  expr("transform(sequence(0, 63), i -> " +
                    "cast(pmod(hash(doc_id, i), 997) as double) / 997.0 - 0.5)")
                    .as("v"))
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              d.count()
              Seq(embDoc, embBkt, embBkt + ".bloom",
                embBkt + ".fblooms").foreach { p =>
                val hp = new org.apache.hadoop.fs.Path(p)
                hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
                  .delete(hp, true)
              }
              graft.streaming.Streams.dedupIngestEmbeddingBatch(
                d.select(col("doc_id").as("id"), col("doc_id").as("ts"),
                  col("v")),
                embDoc, embBkt, "ts", "bench-emb", "id", "v", 64, 0.95,
                32, 16, 0L)
              graft.io.Tables.compactIncremental(spark, embBkt,
                Seq("band", "bucket"), "ts")
              for (w <- 1L to 2L)
                graft.streaming.Streams.dedupIngestEmbeddingBatch(
                  d.select((col("doc_id") + lit(w * 1000000L)).as("id"),
                    (col("doc_id") + lit(w * 1000000L)).as("ts"), col("v")),
                  embDoc, embBkt, "ts", "bench-emb", "id", "v", 64, 0.95,
                  32, 16, w)
              embRep = 3L
              embVecsCache = Some(d)
              d
            }
            val rep = embRep
            embRep += 1
            graft.streaming.Streams.dedupIngestEmbeddingBatch(
              vecs.select((col("doc_id") + lit(rep * 1000000L)).as("id"),
                (col("doc_id") + lit(rep * 1000000L)).as("ts"), col("v")),
              embDoc, embBkt, "ts", "bench-emb", "id", "v", 64, 0.95,
              32, 16, rep)
            ()
          })
        },
        // the batch landed as 4 micro-batches through the exactly-once
        // stream commit-log path (VERDICT r12 #6: the reference's trigger
        // -cost baseline has a standing number, ours didn't) — per-batch
        // metadata overhead = (this / 4) vs (q_compact_incr's append half)
        "q_stream_ingest" -> (() => {
          val shift = streamRepIdx * batchSpan
          streamRepIdx += 1
          val k = 4
          val step = (batchSpan + k - 1) / k
          for (j <- 0 until k) {
            val lo = cutNs + j * step
            val sub = batch.filter(col("ts") >= lo && col("ts") < (lo + step))
              .withColumn("ts", col("ts") + lit(shift))
            graft.io.Tables.appendStreamBatch(sub, maintStreamPath, "ts",
              "bench-stream", streamRepIdx * k + j)
          }
          ()
        }))
    }

    // The attempt loop: wait-for-idle, measure, classify; retry dirty
    // attempts, short-circuit on clean records and on failed queries.
    var attempt = 1
    var emitted = false
    var lastDirty: Option[(Seq[QRes], Seq[Double], Seq[Double], Boolean,
      Seq[String], Int, Double, Double)] = None
    while (attempt <= attempts && !emitted) {
      // attempt 1 rides the strict pre-load wait; retries re-check with
      // the busy-box threshold (our own residue decays under it fast)
      val idleReached =
        if (attempt == 1) idleReachedPre
        else waitForIdle(() => loadavg().head,
          math.max(idleLoad, cpus / 4.0), idleWaitSec)
      val startLoad = loadavg()
      // TWO measurement phases, each headed by its own canary snapshot
      // (VERDICT r16 wrong #1): the scan phase and the maintenance phase
      // are classified INDEPENDENTLY — a tenant arriving after the scans
      // finished used to contaminate the maintenance mins while the
      // record still read "clean"
      val canary = measureCanary(spark)
      val scanResults = measureScans(spark, sfDir, reps)
      val canaryMaint = measureCanary(spark)
      val maintResults = measureMaint(reps, maintOps)
      val results = scanResults ++ maintResults
      val endLoad = loadavg()
      // scan witnesses (the calibrated read-only thresholds) on the scan
      // phase; maintenance-scaled witnesses + the mid-run canary on the
      // maintenance phase — either phase dirty disqualifies the attempt
      val noisyScan = scanResults.filter(r => noisyWitness(r.minT, r.spread))
      val noisyMaint = maintResults
        .filter(r => maintNoisyWitness(r.minT, r.spread))
      val noisy = (noisyScan ++ noisyMaint).map(_.name)
      val contended = contendedRun(boxBusy = !idleReached, scanResults) ||
        maintContendedRun(canary, canaryMaint, maintResults)
      val anyFailed = results.exists(_.failed)
      if (noisy.nonEmpty) System.err.println(
        s"[bench] WARNING: noisy queries (scan: warm spread > 0.3 s " +
          s"absolute or > 3x min; maintenance: spread > max(0.5 s, " +
          s"0.75x min)) — their min times carry an asterisk: " +
          noisy.mkString(", "))
      if (anyFailed || (!contended && noisy.isEmpty)) {
        // clean — archive it; or broken queries — retrying cannot fix code
        emitRecord(results, reps, loadSec, startLoad, endLoad,
          contended, noisy, sfDir, attempt, noCleanRun = None, canary,
          canaryMaint)
        emitted = true
      } else {
        System.err.println(
          s"[bench] attempt $attempt/$attempts dirty (contended=$contended, " +
            s"noisy=[${noisy.mkString(", ")}]) — " +
            (if (attempt < attempts) "retrying" else "no clean run"))
        lastDirty = Some((results, startLoad, endLoad, contended, noisy,
          attempt, canary, canaryMaint))
        attempt += 1
      }
    }
    // every attempt was dirty: emit the LAST record, self-disqualified in
    // the JSON itself — never a bare contended record that reads as a
    // phantom regression
    if (!emitted) {
      System.err.println(
        s"[bench] WARNING: no clean run in $attempts attempts — the record " +
          "carries no_clean_run=true; do not read its totals as a regression")
      lastDirty.foreach { case (results, startLoad, endLoad, contended, noisy,
                                att, canary, canaryMaint) =>
        emitRecord(results, reps, loadSec, startLoad, endLoad,
          contended, noisy, sfDir, att, noCleanRun = Some(attempts), canary,
          canaryMaint)
      }
    }
    // reclaim this run's maintenance staging eagerly (the fixed names above
    // mean a kill before this point is reclaimed by the NEXT run's entry
    // cleanup instead); best-effort — a cleanup failure must never turn an
    // emitted record into a non-zero exit
    dedupDocsCache.foreach(d => scala.util.Try(d.unpersist()))
    embVecsCache.foreach(d => scala.util.Try(d.unpersist()))
    try {
      Seq(maintPath, maintDelPath, maintStreamPath,
        s"${System.getProperty("java.io.tmpdir")}/graft_bench_dedup_docs",
        s"${System.getProperty("java.io.tmpdir")}/graft_bench_dedup_bkts",
        s"${System.getProperty("java.io.tmpdir")}/graft_bench_dedup_bkts.bloom",
        s"${System.getProperty("java.io.tmpdir")}/graft_bench_dedup_bkts.fblooms",
        s"${System.getProperty("java.io.tmpdir")}/graft_bench_emb_docs",
        s"${System.getProperty("java.io.tmpdir")}/graft_bench_emb_bkts",
        s"${System.getProperty("java.io.tmpdir")}/graft_bench_emb_bkts.bloom",
        s"${System.getProperty("java.io.tmpdir")}/graft_bench_emb_bkts.fblooms").foreach { mp0 =>
        val mp = new org.apache.hadoop.fs.Path(mp0)
        mp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(mp, true)
      }
      val loc = scala.util.Try(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(maintBktTable)).location)
      spark.sql(s"DROP TABLE IF EXISTS `$maintBktTable`")
      loc.foreach { u =>
        val p = new org.apache.hadoop.fs.Path(u)
        val pfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (pfs.exists(p)) pfs.delete(p, true)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] staging cleanup failed: ${e.getMessage}")
    }
    } // bench-run lease (bucketed staging)
    } // bench-run lease (stream staging)
    } // bench-run lease (delete staging)
    } // bench-run lease (clustered staging)
    spark.stop()
  }
}
