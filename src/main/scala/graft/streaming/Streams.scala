package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.{DataType, StructType}

/** Structured Streaming variants of the batch operators (SURVEY.md §2.9).
  *
  * The reference has no streaming engine; its streaming story is append-only
  * ingestion in timestamp order via insert triggers (imcs.c:4617-4740) plus
  * length-preserving incremental operators. The Spark-native equivalent is
  * Structured Streaming: the SAME aggregation expressions as the batch path
  * run under `readStream`, with a watermark bounding state. Batch operators
  * stay the single source of semantics — the specs assert stream == batch
  * on the same input (Trigger.AvailableNow = "process everything now").
  *
  * At 100 TB/day this topology is the ingest pipeline: file-source streaming
  * reads land batches incrementally, the tumbling aggregation maintains one
  * row of state per (key, window) bounded by the watermark, and the sink is
  * an append of finalized windows.
  */
object Streams {

  /** int64-ns ts → µs event-time timestamp. INTEGER division: `/` on
    * longs is true (double) division in Spark, and ts ~1.7e18 exceeds the
    * double mantissa — a 1 µs rounding slip can move an event across a
    * window/session boundary.
    */
  private def etsCol = timestamp_micros(expr("ts div 1000"))

  /** Tumbling event-time aggregation over a parquet directory as a stream —
    * the streaming twin of SparkEntry's q_tumbling (grid agg over time).
    * `ts` is int64 epoch nanoseconds (TESTDATA events encoding).
    *
    * Returns the streaming DataFrame; run with [[runAvailableNow]].
    */
  def tumblingAgg(spark: SparkSession, path: String, schema: StructType,
                  bucketSeconds: Long = 3600): DataFrame = {
    streamSource(spark, path, schema)
      .groupBy(col("event_type"), window(col("ets"), s"$bucketSeconds seconds"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .select(col("event_type"),
        col("window.start").as("bucket_start"),
        col("n"), col("sv"))
  }

  /** The file streaming sources read int64-ns ts columns; a TIMESTAMP(NANOS)
    * parquet column reads as that long only under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, a setting of the caller's
    * session (set at build by [[graft.Session]]) that no operator here
    * changes.
    */
  private def requireNanosAsLong(spark: SparkSession): Unit =
    if (!spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false").toBoolean)
      throw new IllegalStateException(
        "streaming sources need spark.sql.legacy.parquet.nanosAsLong=true " +
          "on the session (graft.Session sets it at build)")

  /** Watermarked event-time stream over a parquet directory — the one
    * source block every streaming operator here shares (ns ts → µs event
    * time, 1 h watermark).
    */
  private def streamSource(spark: SparkSession, path: String,
                           schema: StructType): DataFrame = {
    requireNanosAsLong(spark)
    spark.readStream.schema(schema).parquet(path)
      .withColumn("ets", etsCol)
      .withWatermark("ets", "1 hour")
  }

  /** One windowed-sketch aggregation shape for all twelve public
    * variants: group by (event_type, `win`), fold ONE mergeable sketch
    * per group (KB-scale state regardless of event volume — the property
    * that makes stream-time cardinality/percentiles viable at 100 TB/day
    * ingest), emit the window/session start + the estimate.
    */
  private def winAgg(withEts: DataFrame, win: Column, startField: String,
                     outStart: String, agg: (Column, String)): DataFrame =
    withEts.groupBy(col("event_type"), win)
      .agg(agg._1.as(agg._2))
      .select(col("event_type"), col(startField).as(outStart), col(agg._2))

  private def hllEst(keyCol: String, lgK: Int): (Column, String) =
    (hll_sketch_estimate(hll_sketch_agg(col(keyCol), lit(lgK))), "approx_users")

  private def kllQuantile(valueCol: String, q: Double): (Column, String) = {
    require(q >= 0.0 && q <= 1.0,
      s"quantile rank must be in [0, 1], got $q")
    (expr(s"kll_sketch_get_quantile_double(kll_sketch_agg_double(`$valueCol`), $q)"),
      "approx_q")
  }

  private def tumbling(sec: Long): Column =
    window(col("ets"), s"$sec seconds")
  private def sliding(winSec: Long, slideSec: Long): Column = {
    require(slideSec > 0,
      s"slideSeconds must be positive, got $slideSec — a zero slide would " +
        "silently degrade to tumbling windows")
    window(col("ets"), s"$winSec seconds", s"$slideSec seconds")
  }
  private def session(gapSec: Long): Column =
    session_window(col("ets"), s"$gapSec seconds")

  /** Windowed approximate-distinct at stream time — unique users per
    * event-time bucket via the same mergeable HLL sketch the batch rollup
    * uses ([[graft.agg.Aggs.sketchRollup]]): per-window state is ONE
    * sketch (KB), not the user set. Watermark bounds how long a window's
    * sketch stays open.
    */
  def tumblingApproxDistinct(spark: SparkSession, path: String, schema: StructType,
                             keyCol: String, bucketSeconds: Long = 3600,
                             lgK: Int = 12): DataFrame =
    winAgg(streamSource(spark, path, schema), tumbling(bucketSeconds),
      "window.start", "bucket_start", hllEst(keyCol, lgK))

  /** Batch twin of [[tumblingApproxDistinct]] for stream==batch asserts —
    * the SAME aggregation applied to a batch frame, so the spec compares
    * one definition against itself across execution modes.
    */
  def tumblingApproxDistinctBatch(df: DataFrame, keyCol: String,
                                  bucketSeconds: Long = 3600,
                                  lgK: Int = 12): DataFrame =
    winAgg(df.withColumn("ets", etsCol), tumbling(bucketSeconds),
      "window.start", "bucket_start", hllEst(keyCol, lgK))

  /** Sliding-window approximate-distinct — "uniques in the last hour,
    * updated every `slideSeconds`", the live-dashboard shape: each event
    * folds into window/slide overlapping windows, each window still one
    * KB-scale sketch. Watermark bounds the number of open windows.
    */
  def slidingApproxDistinct(spark: SparkSession, path: String, schema: StructType,
                            keyCol: String, windowSeconds: Long,
                            slideSeconds: Long, lgK: Int = 12): DataFrame =
    winAgg(streamSource(spark, path, schema), sliding(windowSeconds, slideSeconds),
      "window.start", "bucket_start", hllEst(keyCol, lgK))

  /** Batch twin of [[slidingApproxDistinct]]. */
  def slidingApproxDistinctBatch(df: DataFrame, keyCol: String,
                                 windowSeconds: Long, slideSeconds: Long,
                                 lgK: Int = 12): DataFrame =
    winAgg(df.withColumn("ets", etsCol), sliding(windowSeconds, slideSeconds),
      "window.start", "bucket_start", hllEst(keyCol, lgK))

  /** Session-window approximate-distinct — uniques per activity burst
    * (gap-separated session, the reference has no analog): one HLL sketch
    * per open session, sessions close `gapSeconds` after the last event
    * (watermark-bounded). Output keys on the session START.
    */
  def sessionApproxDistinct(spark: SparkSession, path: String, schema: StructType,
                            keyCol: String, gapSeconds: Long,
                            lgK: Int = 12): DataFrame =
    winAgg(streamSource(spark, path, schema), session(gapSeconds),
      "session_window.start", "session_start", hllEst(keyCol, lgK))

  /** Batch twin of [[sessionApproxDistinct]]. */
  def sessionApproxDistinctBatch(df: DataFrame, keyCol: String,
                                 gapSeconds: Long, lgK: Int = 12): DataFrame =
    winAgg(df.withColumn("ets", etsCol), session(gapSeconds),
      "session_window.start", "session_start", hllEst(keyCol, lgK))

  /** Windowed approximate percentile at stream time — the KLL twin of
    * [[tumblingApproxDistinct]]: per-window state is one quantile sketch
    * (not the value multiset), so a p99-latency-per-window stream costs
    * KB of state per open window regardless of event volume.
    */
  def tumblingApproxQuantile(spark: SparkSession, path: String, schema: StructType,
                             valueCol: String, q: Double,
                             bucketSeconds: Long = 3600): DataFrame =
    winAgg(streamSource(spark, path, schema), tumbling(bucketSeconds),
      "window.start", "bucket_start", kllQuantile(valueCol, q))

  /** Batch twin of [[tumblingApproxQuantile]]. */
  def tumblingApproxQuantileBatch(df: DataFrame, valueCol: String, q: Double,
                                  bucketSeconds: Long = 3600): DataFrame =
    winAgg(df.withColumn("ets", etsCol), tumbling(bucketSeconds),
      "window.start", "bucket_start", kllQuantile(valueCol, q))

  /** Sliding-window approximate percentile — "p99 over the last hour,
    * updated every `slideSeconds`": the KLL twin of
    * [[slidingApproxDistinct]], KB of state per open window.
    */
  def slidingApproxQuantile(spark: SparkSession, path: String, schema: StructType,
                            valueCol: String, q: Double, windowSeconds: Long,
                            slideSeconds: Long): DataFrame =
    winAgg(streamSource(spark, path, schema), sliding(windowSeconds, slideSeconds),
      "window.start", "bucket_start", kllQuantile(valueCol, q))

  /** Batch twin of [[slidingApproxQuantile]]. */
  def slidingApproxQuantileBatch(df: DataFrame, valueCol: String, q: Double,
                                 windowSeconds: Long,
                                 slideSeconds: Long): DataFrame =
    winAgg(df.withColumn("ets", etsCol), sliding(windowSeconds, slideSeconds),
      "window.start", "bucket_start", kllQuantile(valueCol, q))

  /** Session-window approximate percentile — p99 per activity burst:
    * the KLL twin of [[sessionApproxDistinct]], one quantile sketch per
    * open session.
    */
  def sessionApproxQuantile(spark: SparkSession, path: String, schema: StructType,
                            valueCol: String, q: Double,
                            gapSeconds: Long): DataFrame =
    winAgg(streamSource(spark, path, schema), session(gapSeconds),
      "session_window.start", "session_start", kllQuantile(valueCol, q))

  /** Batch twin of [[sessionApproxQuantile]]. */
  def sessionApproxQuantileBatch(df: DataFrame, valueCol: String, q: Double,
                                 gapSeconds: Long): DataFrame =
    winAgg(df.withColumn("ets", etsCol), session(gapSeconds),
      "session_window.start", "session_start", kllQuantile(valueCol, q))

  /** Sliding event-time aggregation — the streaming twin of the reference's
    * length-preserving moving aggregates (§2.5 re-expressed on event time):
    * each event contributes to window/slide overlapping windows, state
    * bounded by the watermark.
    */
  def slidingAgg(spark: SparkSession, path: String, schema: StructType,
                 windowSeconds: Long, slideSeconds: Long): DataFrame = {
    streamSource(spark, path, schema)
      .groupBy(col("event_type"), sliding(windowSeconds, slideSeconds))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .select(col("event_type"),
        col("window.start").as("bucket_start"),
        col("n"), col("sv"))
  }

  /** Gap-based session windows on event time — the streaming form of
    * sessionization (q_sessionize's shape): `session_window` merges events
    * whose gap is under `gapSeconds`, state per open session bounded by
    * the watermark. The same expression runs identically in batch mode,
    * which is what the spec asserts (stream == batch on one input).
    */
  def sessionAgg(spark: SparkSession, path: String, schema: StructType,
                 gapSeconds: Long): DataFrame =
    sessionExpr(streamSource(spark, path, schema), gapSeconds)

  /** Batch twin of [[sessionAgg]] for equivalence testing — the SAME
    * aggregation body via [[sessionExpr]], so the stream==batch spec
    * asserts a structural identity, not two parallel copies.
    */
  def sessionAggBatch(df: DataFrame, gapSeconds: Long): DataFrame =
    sessionExpr(df.withColumn("ets", etsCol), gapSeconds)

  private def sessionExpr(withEts: DataFrame, gapSeconds: Long): DataFrame =
    withEts
      .groupBy(col("user_id"), session_window(col("ets"), s"$gapSeconds seconds"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n"), col("sv"))

  /** Streaming exact dedup at ingest: fingerprint the normalized text and
    * drop duplicate fingerprints across the whole stream — the
    * streaming form of Dedup.exactDedup, state one 8-byte key per
    * distinct document. With an event-time column, production pipelines
    * bound that state via [[dedupStreamWithinWatermark]]; the documents
    * table has no timestamp, so this variant keeps global state (the
    * reference's in-memory store makes the same tradeoff).
    */
  def dedupStream(spark: SparkSession, path: String, schema: StructType,
                  textCol: String): DataFrame =
    spark.readStream.schema(schema).parquet(path)
      .withColumn("fp", graft.text.TextOps.fingerprint(col(textCol)))
      .dropDuplicates("fp")

  /** Watermark-bounded streaming dedup — the production form for an
    * unbounded ingest: duplicates arriving within `delay` of the
    * watermark are dropped, and fingerprint state older than the
    * watermark is EVICTED, so state is O(docs per delay window) instead
    * of O(all docs ever). The trade is explicit: a duplicate arriving
    * later than `delay` after its original is treated as new — the
    * standard watermark contract, and the reason the unbounded
    * [[dedupStream]] variant still exists for bounded backfills.
    *
    * `tsCol` is an int64-ns event-time column (TESTDATA events encoding).
    */
  def dedupStreamWithinWatermark(spark: SparkSession, path: String,
                                 schema: StructType, textCol: String,
                                 tsCol: String, delay: String = "1 hour"): DataFrame = {
    requireNanosAsLong(spark)
    spark.readStream.schema(schema).parquet(path)
      .withColumn("fp", graft.text.TextOps.fingerprint(col(textCol)))
      .withColumn("ets", timestamp_micros(expr(s"`$tsCol` div 1000")))
      .withWatermark("ets", delay)
      .dropDuplicatesWithinWatermark("fp")
  }

  /** Watermarked stream-stream interval join — the streaming twin of
    * [[graft.join.Align.rangeJoin]]'s q_range_join shape: purchases on one
    * stream match signups on the other when they fall inside
    * [signup ts, signup ts + windowSeconds] for the same user. A
    * stream-stream inner join with a time-range condition is the canonical
    * Structured Streaming topology for event correlation at ingest scale:
    * BOTH sides' buffered state is bounded by watermark + range span, and
    * matches emit in Append mode as soon as both rows have arrived.
    */
  def intervalJoinStream(spark: SparkSession, path: String, schema: StructType,
                         windowSeconds: Long, delay: String = "1 hour"): DataFrame = {
    requireNanosAsLong(spark)
    def src = spark.readStream.schema(schema).parquet(path).withColumn("ets", etsCol)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ets").as("p_ets"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ets", delay)
    val signups = src.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ets").as("s_ets"),
        col("event_id").as("signup_id"))
      .withWatermark("s_ets", delay)
    purchases.join(signups,
      col("p_user") === col("s_user") &&
        col("p_ets") >= col("s_ets") &&
        col("p_ets") <= col("s_ets") + expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(col("signup_id"), col("purchase_id"))
  }

  /** Drain a streaming aggregation with Trigger.AvailableNow into an
    * in-memory table and return it as a batch DataFrame. Complete mode so
    * the final (still-open) windows are emitted too — the batch comparison
    * covers the whole input, not only watermark-closed windows.
    */
  def runAvailableNow(df: DataFrame, queryName: String,
                      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(queryName)
  }

  /** Drain a streaming aggregation with Trigger.AvailableNow through a
    * REAL sink: foreachBatch writing parquet. Unlike the memory sink the
    * specs use, this exercises the full production commit path — offset
    * tracking, checkpointing, batch-id delivery, and an on-disk artifact
    * a downstream (or an external oracle) can read back. Complete-mode
    * aggregations re-emit the whole result every micro-batch, so each
    * batch OVERWRITES the target atomically-per-batch; the final batch
    * leaves the complete result on disk. At 100 TB/day this exact
    * topology is the ingest pipeline's landing step (append mode +
    * partitioned target instead of overwrite).
    */
  def runToParquet(df: DataFrame, outDir: String, checkpoint: String,
                   mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val spark = df.sparkSession
    // the per-batch write mode must FOLLOW the output mode: Complete
    // re-emits the whole result (overwrite leaves the final state), but
    // Append delivers only each batch's new rows — overwriting there
    // would silently keep just the LAST micro-batch
    val writeMode = if (mode == OutputMode.Complete()) "overwrite" else "append"
    // Append mode accumulates batches into outDir, so a FRESH checkpoint
    // (no offsets yet — batch numbering restarts at 0) pointed at a STALE
    // outDir from a previous run would silently re-append every row on
    // top of the old artifact. Refuse loudly: a restart of the SAME run
    // (checkpoint has offsets) may of course keep appending.
    if (writeMode == "append") {
      val hc = spark.sparkContext.hadoopConfiguration
      val ckOffsets = new org.apache.hadoop.fs.Path(checkpoint, "offsets")
      val out = new org.apache.hadoop.fs.Path(outDir)
      val freshCheckpoint = !ckOffsets.getFileSystem(hc).exists(ckOffsets)
      val staleOut = {
        val fs = out.getFileSystem(hc)
        fs.exists(out) && fs.listStatus(out).nonEmpty
      }
      if (freshCheckpoint && staleOut) throw new IllegalStateException(
        s"runToParquet(Append): checkpoint '$checkpoint' is fresh but output " +
          s"'$outDir' already has content from a previous run — appending " +
          "would silently duplicate it. Use a fresh outDir (or the previous " +
          "run's checkpoint to continue it).")
    }
    val q = df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        batch.write.mode(writeMode).parquet(outDir)
        ()
      }
      .start()
    q.awaitTermination()
    // zero micro-batches (empty source, or a restart with nothing new and
    // nothing previously written) leaves no target dir — an empty frame
    // of the query's schema, not a path-not-found crash
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(outPath))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
    else spark.read.parquet(outDir)
  }

  /** Bounded lease-contention retry for streaming foreachBatch bodies.
    * The writer lease FAILS LOUDLY on contention rather than queueing
    * (Tables.withWriterLease) — correct for one-shot lifecycle calls,
    * but inside a live stream a collision with a maintenance op (a fold
    * or bloom rebuild run "while the stream is live", USER_GUIDE) would
    * otherwise terminate the whole streaming query over a transient
    * conflict (ADVICE r15 #3). Every ingest batch body is
    * replay-idempotent (the exactly-once commit log skips the parts
    * that already landed), so re-running the WHOLE body after a backoff
    * is safe; leases that stay contended past the budget still fail the
    * query — an operator signal, with restart-as-replay the documented
    * recovery. Tunables: graft.lease.retry.max (default 8 attempts),
    * graft.lease.retry.backoff.ms (base, default 250 — doubled per
    * attempt, capped at 10 s).
    */
  private def retryingLease[T](what: String)(body: => T): T = {
    val max = sys.props.get("graft.lease.retry.max")
      .flatMap(_.toIntOption).getOrElse(8)
    val base = sys.props.get("graft.lease.retry.backoff.ms")
      .flatMap(_.toLongOption).getOrElse(250L)
    var attempt = 0
    while (true) {
      try return body
      catch {
        // keyed on the TYPE, not message substrings: every contention
        // outcome of withWriterLease (held, race lost, took-over
        // mid-confirm, break race lost, taken mid-break) throws
        // LeaseContentionException — a substring match missed the
        // break-race variants and let a transient conflict kill the
        // streaming query (review r15)
        case _: graft.io.LeaseContentionException if attempt < max =>
          attempt += 1
          val sleep = math.min(base << math.min(attempt - 1, 6), 10000L)
          System.err.println(s"[graft-ingest] $what: lease contention " +
            s"(attempt $attempt/$max), retrying in ${sleep}ms")
          Thread.sleep(sleep)
      }
    }
    sys.error("unreachable")
  }

  /** Continuous ingest INTO a managed clustered layout — the reference's
    * insert-trigger path (imcs.c:4617-4740) as Structured Streaming: each
    * micro-batch lands through [[graft.io.Tables.appendStreamBatch]],
    * which holds the writer lease, enforces the ordered-ingest contract,
    * extends the ts manifest (bootstrapping it on the first batch), and
    * commits the batch id so a checkpoint-recovery replay is skipped —
    * exactly-once into the table, with the same lifecycle guarantees a
    * batch [[graft.io.Tables.append]] makes. The ordered-ingest contract
    * is PER-BATCH: each micro-batch's min(ts) must be ≥ the stored tail
    * (violations fail the query loudly, the reference's trigger
    * semantics); WITHIN a batch rows may arrive unordered — the append
    * clusters them by ts at write, so file-level pruning stays tight. The checkpoint location is
    * the stream's commit-log identity; reuse it to continue a run, use a
    * fresh one (against a fresh table) to start over.
    *
    * At 100 TB/day this is the landing topology: file/queue source →
    * (optional transforms) → ingestAppend; downstream readers range-scan
    * the manifest-governed table while compactIncremental folds batches
    * under the same lease.
    */
  def ingestAppend(df: DataFrame, path: String, ts: String, checkpoint: String,
                   trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        retryingLease("ingestAppend") {
          graft.io.Tables.appendStreamBatch(batch.toDF(), path, ts,
            streamId = checkpoint, batchId = batchId)
        }
        ()
      }
      .start()

  /** [[ingestAppend]] plus the reference's streaming-RETENTION pattern
    * (user_guide.html's rolling-window head deletion): after every
    * `every`-th committed batch, rows older than `retainNs` behind the
    * stored tail are dropped through [[graft.io.Tables.deleteRangeNs]].
    * With the r13 manifest split the delete is O(EXPIRING FILES) — the
    * in-window files carry untouched, so a rolling window costs metadata
    * plus exactly the expiring head, never a table rewrite; runs inside
    * the same single-writer regime as the ingest (the foreachBatch body
    * is sequential; deleteRange re-enters nothing and takes the lease
    * between batches). The cut comes from the MANIFEST's file stats
    * (metadata-only, zero data bytes); a stat-less layout skips
    * retention that round rather than scan — the next fold restores
    * stats. Retention is idempotent across checkpoint replays (a
    * replayed delete finds nothing in range).
    */
  def ingestAppendRetained(df: DataFrame, path: String, ts: String,
                           checkpoint: String, retainNs: Long,
                           every: Int = 1,
                           trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        retryingLease("ingestAppendRetained") {
          graft.io.Tables.appendStreamBatch(batch.toDF(), path, ts,
            streamId = checkpoint, batchId = batchId)
          // the beat keys on the BATCH ID alone, never on whether THIS
          // call applied the append: a lease-contention retry (and a
          // checkpoint replay) re-enters with the append already
          // committed, and gating on "applied" would silently skip the
          // retention the retry exists to re-attempt (review r15 — the
          // dedup twins already key this way). Idempotent: a re-cut
          // range is empty.
          if (batchId % math.max(1, every) == 0)
            retentionCut(spark, path, retainNs).foreach(cut =>
              graft.io.Tables.deleteRangeNs(spark, path, ts,
                Long.MinValue, cut - 1)) // retain [cut, mx]: delete ≤ cut-1
        }
        ()
      }
      .start()

  /** The retention cut for `path` — max stored ts − retainNs, from
    * MANIFEST metadata alone — or None when nothing can have expired: no
    * manifest, stat-less files (the next fold restores stats), or an
    * overflowing subtraction. EXACT, not wrapping: mx − retainNs on a
    * pre-1970 table with a huge retainNs ("never expire") would wrap
    * POSITIVE and delete the whole table including the tail — overflow
    * means nothing can have expired, so retention skips (second r13
    * review pass, finding #3). Shared by [[ingestAppendRetained]] and
    * [[dedupRetentionBeat]] so the guards can never diverge.
    */
  private def retentionCut(spark: SparkSession, path: String,
                           retainNs: Long): Option[Long] =
    for {
      m <- graft.io.Tables.manifest(spark, path)
      if m.files.nonEmpty &&
        m.files.forall(e => e.minNs.isDefined && e.maxNs.isDefined)
      mx = m.files.flatMap(_.maxNs).max
      mn = m.files.flatMap(_.minNs).min
      cut <- scala.util.Try(Math.subtractExact(mx, retainNs)).toOption
      if mn < cut // something has actually expired
    } yield cut

  /** NEAR-DUP-FILTERED streaming ingest — dedup at LANDING, the shape a
    * training-data pipeline actually runs (drop near-duplicates as data
    * arrives, not in a later full-corpus pass): each micro-batch drops
    * documents whose MinHash LSH band buckets collide with any
    * previously-RETAINED document, resolves in-batch collisions by
    * connected components (keep the min id per cluster — deterministic),
    * then lands the survivors into `docPath` and their (id, band, bucket)
    * rows into `bucketPath`, both through the exactly-once commit-log
    * append. Semantics are retained-representative dedup (CCNet-style
    * keep-one): dropped docs contribute NO buckets, so a doc colliding
    * only with a dropped doc is judged against the retained
    * representative's buckets instead — every cluster keeps exactly one.
    *
    * Scale shape: the per-batch corpus check is the SUBLINEAR probe of
    * [[probeStoredBuckets]] — the batch's O(batch × bands) bucket set
    * broadcasts against a column-pruned, In-pushdown-filtered scan of the
    * bucket table with ZERO corpus-side Exchange; no corpus text is
    * re-read, no signatures recomputed. The bucket table grows with the
    * RETAINED corpus and folds like any managed table
    * (`Tables.compactIncremental(bucketPath, Seq("band","bucket"), ts)`
    * — each fold emits files range-clustered by (band, bucket) over that
    * fold's ts span, which is exactly what makes the probe's In filter
    * prune row groups AND keeps folded files ts-disjoint so the
    * retention beat carries them). `retainNs` bounds the table: every
    * `every`-th batch head-deletes the expired window from BOTH tables
    * ([[dedupRetentionBeat]]) so expired documents stop suppressing new
    * near-duplicates.
    *
    * Crash consistency: survivors are a pure function of the batch and
    * the PRE-batch bucket-table state. The doc append commits first; a
    * crash between the two appends replays the batch, recomputes the SAME
    * survivor set (the bucket table is unchanged), skips the committed
    * doc append, and applies the bucket append — exactly-once for both
    * tables whatever the interleave.
    */
  /** Does the bucket table's live generation carry the content-fingerprint
    * column (the verified landing paths' tier-1 shortcut)? Derived from
    * the memoized head schema ([[graft.io.Tables.headSchema]]) — shared by
    * the text and embedding twins (both carry `fp`). An unreadable head
    * footer THROWS, failing the batch before it writes: answering "no fp"
    * would append 4-column bucket rows into a 5-column table.
    */
  private[graft] def bucketHeadHasFp(spark: SparkSession, bucketPath: String,
                                     liveHead: Option[String]): Boolean =
    liveHead.exists(n => graft.io.Tables.headSchema(spark,
      new org.apache.hadoop.fs.Path(bucketPath), n).fieldNames.contains("fp"))

  /** Whether a dedup ingest batch should WRITE the fp column: the
    * `graft.dedup.fp.enabled` prop governs only table CREATION — an
    * existing table always keeps ITS OWN layout (ADVICE r16 medium:
    * flipping the prop off over a table created WITH fp would append
    * 4-column files into a 5-column table, tearing the probe's schema).
    */
  private def shouldWriteFp(liveHead: Option[String], hasFp: Boolean): Boolean =
    if (liveHead.isEmpty)
      sys.props.get("graft.dedup.fp.enabled").forall(_ != "false")
    else hasFp

  /** A collected ts VALUE as epoch-ns, for the candidate-window bounds of
    * the verified landing-dedup fetch — the dedup tables' ts column is
    * long epoch-ns by the engine convention, but the ingest accepts
    * TIMESTAMP/NTZ columns too (same contract as ingestAppendRetained).
    * None for shapes with no exact ns reading — the caller then skips
    * the slice and reads the full snapshot (degraded, never wrong).
    */
  private def tsValueNs(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l.longValue)
    case t: java.sql.Timestamp =>
      Some(Math.floorDiv(t.getTime, 1000L) * 1000000000L + t.getNanos)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000000L + i.getNano)
    case ld: java.time.LocalDateTime =>
      val i = ld.toInstant(java.time.ZoneOffset.UTC)
      Some(i.getEpochSecond * 1000000000L + i.getNano)
    case _ => None
  }

  /** The stored-corpus PROBE shared by both landing-dedup variants — the
    * one per-batch operation whose cost must NOT grow with the retained
    * corpus (VERDICT r13's single scale-killer: the old shape scanned AND
    * shuffled the whole bucket table every micro-batch, because a
    * left_semi with the corpus on the right cannot broadcast). Three
    * mechanisms, composing:
    *
    *  1. BROADCAST FLIP — the batch's distinct (band, bucket) set (O(batch
    *     × bands) two-int rows, megabytes at any sane batch size) is the
    *     BROADCAST side; the corpus streams through a BroadcastHashJoin
    *     LeftSemi with ZERO Exchange — no shuffle of the stored table,
    *     ever. The emitted hit set is tiny (collisions only), so the
    *     join back to the batch broadcasts too.
    *  2. BLOOM SIDECAR + VERIFIED POSITIVES — the batch's distinct
    *     bucket values are checked against [[DedupBloom]]'s sidecar on
    *     the driver (microseconds per value, cached per sidecar
    *     version). The common case — a batch colliding with nothing —
    *     probes with ZERO scan (measured flat, 0.26→0.25 s across a
    *     ×1→×100 corpus, vs the r13 shape's 0.43→4.70 s). Bloom positives
    *     (real hits + a ~1% false-positive tail) become ONE In filter on
    *     the verify scan — Spark evaluates it as hash-set membership in
    *     codegen (InSet) and OFFERS it to the parquet source (it shows
    *     in PushedFilters); what parquet-mr actually receives depends on
    *     spark.sql.parquet.pushdown.inFilterThreshold (default 10): at
    *     or under the threshold an or()-chain of eq — which is LEFT-DEEP
    *     and overflows the task stack beyond ~1.5k values (measured:
    *     1024 fine, 1536 StackOverflowError; why Spark's default is 10)
    *     — and above it a min/max range predicate, harmless but useless
    *     for uniform 64-bit keys (row-group stats eliminate nothing;
    *     also measured — chunked pushed-In scans came out 5× SLOWER
    *     than the plain scan). The probe therefore GUARDS the or-chain
    *     zone: a positive set that is both >1024 values and ≤ the
    *     session's threshold (an operator raised the knob) skips the In
    *     and scans plainly instead of risking a task StackOverflowError
    *     (ADVICE r15 #2). Membership is decided by the real join, so
    *     bloom false positives cost I/O, never semantics; a positives
    *     flood past [[ProbeIsinCap]] (8192 — a saturated sidecar, or
    *     a genuinely all-colliding batch) likewise drops the
    *     filter and scans plainly, still shuffle-free via (1). The bloom
    *     is what the reference's B-tree point lookups (btree.c:479-589)
    *     map to in a lakehouse layout.
    *  3. COLUMN PRUNING — the probe reads exactly the columns its caller
    *     asks for: (band, bucket) for the legacy drop-on-collision mode,
    *     (band, bucket, id, ts[, fp]) for the verified landing paths
    *     (the stored id/ts make the hits the candidate pairs; fp feeds
    *     the zero-I/O exact-duplicate tier) — never the table's full
    *     width.
    *
    * Returns the stored rows (selected to `cols`) whose (band, bucket)
    * collides with the batch — tiny by construction. The stored side
    * keeps the file layout's partitioning (per-call reads never
    * re-split), so the scan carries no Exchange into the probe.
    */
  private[graft] def probeStoredBuckets(spark: SparkSession, bucketPath: String,
                                        bb: DataFrame,
                                        cols: Seq[String]): DataFrame = {
    val vals = bb.select(col("bucket")).distinct()
      .limit(probeCollectCap + 1).collect().map(_.getLong(0))
    probeStored(spark, bucketPath, bb.select(col("band"), col("bucket")),
      cols.map(col), Some(vals).filter(_.length <= probeCollectCap), "left_semi")
      // nothing can collide: the batch's own columns, empty, stand in
      .getOrElse(bb.select(cols.map(col): _*).limit(0))
  }

  /** The most bloom-positive bucket values a probe pushes into the
    * stored scan as an `In` filter; past it the probe scans plainly.
    */
  private val ProbeIsinCap = 8192

  /** The cap on the batch's bucket rows a probe collects to the driver
    * (`graft.dedup.probe.collect.max`, default 1e6). Past it the probe
    * skips the sidecar check and scans plainly.
    */
  private def probeCollectCap: Int = sys.props.get("graft.dedup.probe.collect.max")
    .flatMap(_.toIntOption).getOrElse(1000000)

  /** [[probeStoredBuckets]] over the batch's distinct bucket values
    * already on the driver (`vals`, None past [[probeCollectCap]]): the
    * stored rows, projected to `cols` (which keep `band` and `bucket`),
    * joined `how` to the broadcast batch side `side` on (band, bucket).
    * An inner join lets a caller take the colliding batch rows from the
    * same broadcast; duplicate keys on a semi-join side change nothing,
    * so the side needs no distinct (and its shuffle). None when nothing
    * can collide — no bucket values, a bloom that clears them all, or
    * file pruning that keeps no file — so the caller runs no job at all.
    */
  private def probeStored(spark: SparkSession, bucketPath: String, side: DataFrame,
                          cols: Seq[Column], vals: Option[Array[Long]],
                          how: String): Option[DataFrame] = {
    def probed(stored: DataFrame): DataFrame =
      stored.join(broadcast(side), Seq("band", "bucket"), how)
    // the live view is resolved ONCE (one manifest + listing read) and
    // every stored-side frame below is built from it by Tables.liveFrame:
    // statuses from that listing, schema from the memoized head footer —
    // no listing and no schema-inference job per micro-batch
    val live = graft.io.Tables.governedLive(spark, bucketPath).filter(_.files.nonEmpty)
    def readFiles(names: Seq[String]): DataFrame = (live match {
      case Some(l) => graft.io.Tables.liveFrame(spark, l, names)
      case None => graft.io.Tables.snapshot(spark, bucketPath)
    }).select(cols: _*)
    lazy val stored0 = readFiles(live.map(_.names).getOrElse(Nil))
    // a bucket-less batch (empty, or all docs too short to shingle)
    // can collide with nothing — skip the scan outright
    if (vals.exists(_.isEmpty)) return None
    // the sidecar check: definite-miss values drop on the driver; what
    // remains (real hits + the fp tail) is the verify scan's filter set.
    // No sidecar (or a collect flood past the cap) → candidates =
    // None → the always-correct full-scan fallback.
    val candidates: Option[Array[Long]] = vals.flatMap(v =>
      DedupBloom.load(spark, bucketPath).map(bf => v.filter(bf.mightContainLong)))
    // the or-chain hazard zone (see the doc block): parquet-mr receives
    // an In ≤ the session threshold as a left-deep or()-chain of eq,
    // which stack-overflows tasks beyond ~1.5k values. Safe by default
    // (threshold 10 → only 10-value chains); an operator who RAISES the
    // common tuning knob must not turn the probe into a crash, so the
    // zone falls back to the plain scan.
    def orChainHazard(n: Int): Boolean = {
      val pushThresh = scala.util.Try(spark.conf.get(
        "spark.sql.parquet.pushdown.inFilterThreshold").toInt).getOrElse(10)
      n > 1024 && n <= pushThresh
    }
    // FILE PRUNING for the positive path (the remaining O(corpus) edge,
    // VERDICT r14 missing #1): a known verify set — the bloom positives,
    // or the raw batch values when the global sidecar is absent but small
    // enough — consults the per-file indexes ([[FileBlooms]]: footer
    // bucket min/max ranges first — O(files × log k) driver arithmetic,
    // flat at 100 TB file counts — then bloom sidecars, budgeted) and
    // the verify scan reads ONLY the files that might hold a positive.
    // The common fp-tail batch (a handful of positives) reads a handful
    // of files; a re-crawl batch reads ~the files of the window it
    // re-crawls, not the whole retained corpus. Pruning can only
    // over-keep (footer ranges bound the real values; per-file blooms
    // have no false negatives; un-indexed files are always kept), so the
    // probe's answer is scan-identical.
    val verifySet: Option[Array[Long]] = candidates.orElse(vals)
    // LAZY: the bloom-cleared branch below returns None without
    // resolving a stored-side scan
    lazy val stored = (verifySet.filter(_.nonEmpty), live) match {
      case (Some(pos), Some(l)) =>
        FileBlooms.pruneKnown(spark, bucketPath, pos, l.names) match {
          case Some(keep) if keep.isEmpty => None
          case Some(keep) => Some(readFiles(keep))
          case None => Some(stored0)
        }
      case _ => Some(stored0)
    }
    candidates match {
      case Some(pos) if pos.isEmpty =>
        // bloom-cleared: the common no-collision batch reads NOTHING
        None
      case Some(pos) if pos.length <= ProbeIsinCap &&
          pos.length * 2 <= vals.get.length && !orChainHazard(pos.length) =>
        // SELECTIVE positives: the InSet thins what flows into the join.
        // When most of the batch is positive (a re-crawl batch: every
        // doc collides), the filter eliminates ~nothing and only adds
        // per-batch analysis + codegen of a thousands-literal predicate
        // — the plain scan+join is cheaper (measured on the bench's
        // re-crawl entry), so large positive fractions skip it.
        stored.map(s => probed(s.filter(col("bucket").isin(pos.map(Long.box): _*))))
      case _ => stored.map(probed)
    }
  }

  /** The shared retention beat for the landing-dedup twins: ONE cut from
    * the DOC table's manifest (max stored ts − retainNs — metadata only,
    * the same guards as [[ingestAppendRetained]]), head-deleted from BOTH
    * tables so the probe's suppression set tracks the retained corpus —
    * an expired document stops suppressing new near-duplicates of itself
    * (the reference's head-deletion semantics, btree.c:747-899, applied
    * to the dedup state too; without this the bucket table grows forever
    * and long-expired docs keep winning their clusters). Bucket rows
    * carry the doc's ts, so one cut aligns both windows.
    *
    * Order: BUCKETS first, then DOCS — a crash between the two deletes
    * must never leave the probe suppressing against documents the doc
    * table no longer serves; the transient converse (expired docs briefly
    * still present while their buckets are gone) only admits a near-dup
    * the very next cut removes the original of, and the next beat (or the
    * replay) converges. Both deletes are O(expiring files) via the
    * manifest split and idempotent across replays (an empty range is a
    * pure no-op).
    */
  private def dedupRetentionBeat(spark: SparkSession, docPath: String,
                                 bucketPath: String, ts: String,
                                 retainNs: Long): Unit =
    retentionCut(spark, docPath, retainNs).foreach { cut =>
      graft.io.Tables.deleteRangeNs(spark, bucketPath, ts, Long.MinValue, cut - 1)
      graft.io.Tables.deleteRangeNs(spark, docPath, ts, Long.MinValue, cut - 1)
      // the deletes just turned the expired window's sidecar bits STALE
      // (blooms cannot delete); the beat is the natural rebuild cadence —
      // one live-table scan, only on beats where something actually
      // expired (`every` thins them). Best-effort: a rebuild failure
      // leaves a correct superset sidecar (degraded probes, never wrong),
      // so it must not fail a batch whose appends+deletes committed.
      scala.util.Try(DedupBloom.rebuild(spark, bucketPath)).failed.foreach(e =>
        System.err.println(s"[dedup-retention] bloom rebuild skipped: ${e.getMessage}"))
      // same cadence for the per-file sidecars: the deletes orphaned the
      // expired files' blooms (reclaimed) and a delete rewrite may have
      // renamed survivors (re-bloomed) — best-effort, like the rebuild
      scala.util.Try(FileBlooms.sync(spark, bucketPath)).failed.foreach(e =>
        System.err.println(s"[dedup-retention] file-bloom sync skipped: ${e.getMessage}"))
    }

  /** Rebuild the landing-dedup bloom sidecar exactly from the live
    * bucket table — the operator's fold-cadence maintenance call: sheds
    * the stale bits retention left behind (expired buckets linger as
    * harmless false positives until a rebuild) and re-sizes a sidecar
    * the table has outgrown. Safe while the stream is live: a reader
    * landing in the swap window falls back to the full-scan probe.
    */
  def rebuildDedupBloom(spark: SparkSession, bucketPath: String): Unit = {
    DedupBloom.rebuild(spark, bucketPath)
    // a fold just before this call renamed the table's files — re-key the
    // per-file sidecars to the new generation in the same maintenance
    // beat. Best-effort like every sync call site: the global rebuild
    // already installed, and a concurrent retention beat deleting a file
    // mid-sync must not read as a failed rebuild (sync's own contract is
    // that a missing file bloom only degrades pruning)
    scala.util.Try(FileBlooms.sync(spark, bucketPath)).failed.foreach(e =>
      System.err.println(s"[dedup-rebuild] file-bloom sync skipped: ${e.getMessage}"))
  }

  /** Re-key the PER-FILE bloom sidecars ([[FileBlooms]]) to the bucket
    * table's live generation: build blooms for files missing one (new
    * appends, a fold's output), reclaim orphans (folded/expired files).
    * The ingest calls this per batch and [[rebuildDedupBloom]] calls it at
    * fold cadence; exposed for operators running maintenance out of band.
    * Idempotent and best-effort by contract — a missing file bloom only
    * degrades the probe's file pruning, never its answer.
    */
  def syncDedupFileBlooms(spark: SparkSession, bucketPath: String): Unit =
    FileBlooms.sync(spark, bucketPath)

  /** The landing-dedup health check as one row — the divergence watch
    * USER_GUIDE's operating recipe had the operator eyeball (VERDICT r14
    * item 5), queryable instead:
    *  - `doc_rows` / `bucket_rows` / `rows_per_doc`: the two tables'
    *    row counts and their ratio. For the text twin the ratio sits at
    *    the configured band count (every retained doc contributes exactly
    *    `bands` bucket rows); the embedding twin sits at ≤ `tables`
    *    (zero-norm vectors bucket nowhere). A drifting ratio means a
    *    crashed beat left the tables' windows misaligned (the next
    *    op converges it) or a foreign writer touched one table.
    *  - `sidecar_present` / `sidecar_version` / `sidecar_bits` /
    *    `sidecar_fpp`: the global bloom sidecar's install counter and its
    *    CURRENT expected false-positive rate given the bits actually set
    *    — the saturation signal. An fpp drifting far above the built 1%
    *    means the table outgrew the sidecar: probes still verify exactly
    *    but pay more verify I/O; run [[rebuildDedupBloom]] to re-size.
    *  - `file_blooms` vs `bucket_files`: per-file sidecar coverage for
    *    the probe's file pruning (un-bloomed files are always read);
    *    [[syncDedupFileBlooms]] closes a gap.
    */
  def dedupStats(spark: SparkSession, docPath: String,
                 bucketPath: String): DataFrame = {
    import spark.implicits._
    // governed tables serve their row count from METADATA (manifest live
    // list + footer row counts, zero Spark jobs — a health check an
    // operator polls must not launch two full-table jobs per call,
    // VERDICT r15 wrong #2); ungoverned paths fall back to the count
    // job. Absent / not-yet-bootstrapped tables read as 0 rows — a
    // health check must not throw on the pipeline's own day-zero state.
    // ONLY day-zero shapes are absorbed (path missing, no data files to
    // infer a schema from — matched by error CONDITION, not a blanket
    // AnalysisException: a dir of foreign non-parquet content must
    // surface, not read as an empty healthy table, ADVICE r15): the
    // engine's deliberate fail-loud errors (foreign manifest corruption,
    // retired-file ambiguity) PROPAGATE — a health check that reads
    // corruption as "empty table" hides the one state it exists to
    // surface (review r15)
    def rows(p: String): Long = {
      val ph = new org.apache.hadoop.fs.Path(p)
      if (!ph.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(ph)) 0L
      else graft.io.Tables.metadataRowCount(spark, p).getOrElse {
        try graft.io.Tables.snapshot(spark, p).count()
        catch {
          // dir exists but holds no readable data yet (the stream bridge
          // creates it with only its commit sidecar before batch 0)
          case e: org.apache.spark.sql.AnalysisException
              if Option(e.getCondition).exists(c =>
                c.contains("UNABLE_TO_INFER_SCHEMA") ||
                  c.contains("PATH_NOT_FOUND")) => 0L
        }
      }
    }
    val docRows = rows(docPath)
    val bucketRows = rows(bucketPath)
    val hp = new org.apache.hadoop.fs.Path(bucketPath)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val liveN = graft.io.Tables.liveFileNames(spark, bucketPath)
    val bucketFiles = liveN.map(_.size).getOrElse(-1)
    val sidecar = DedupBloom.info(spark, bucketPath)
    val fbDir = FileBlooms.bloomDir(hp)
    // coverage counts blooms for LIVE files only — raw dir counts would
    // read "fully covered" off a pile of orphans after an out-of-band
    // fold renamed every file, exactly the state this column exists to
    // surface (review r15)
    val fileBlooms =
      if (scala.util.Try(fs.getFileStatus(fbDir)).toOption.exists(_.isDirectory)) {
        val present = fs.listStatus(fbDir).filter(s => s.isFile &&
          s.getPath.getName.endsWith(".bloom")).map(_.getPath.getName).toSet
        liveN.map(_.count(n => present(n + ".bloom"))).getOrElse(0)
      } else 0
    Seq((docRows, bucketRows,
      if (docRows == 0L) 0.0 else bucketRows.toDouble / docRows,
      bucketFiles, sidecar.isDefined,
      sidecar.map(_._1).getOrElse(-1L), sidecar.map(_._2).getOrElse(-1L),
      sidecar.map(_._3).getOrElse(-1.0), fileBlooms))
      .toDF("doc_rows", "bucket_rows", "rows_per_doc", "bucket_files",
        "sidecar_present", "sidecar_version", "sidecar_bits", "sidecar_fpp",
        "file_blooms")
  }

  /** Near-dup-filtered streaming ingest, VERIFIED (round 16): a band
    * -bucket collision is only a CANDIDATE — like the batch pipelines
    * (minhashLshPairsVerified) and the embedding twin's exact-cosine
    * check, candidates are verified with exact n-gram Jaccard against
    * the colliding RETAINED docs (column-pruned doc-table join over the
    * candidate ids only, work ∝ collisions, never ∝ corpus) and a doc
    * drops only at `minJaccard` or above. The pre-r16 drop-on-raw
    * -collision behavior was banding-aggressive (8 bands × 2 rows
    * s-curves at j≈0.3, and a boilerplate-heavy real corpus
    * chain-collapses to a handful of retained representatives — measured
    * on the sf0.01 documents slice: 4644 collision pairs among 200 docs
    * vs 3 pairs at j≥0.5); pass `minJaccard <= 0` to keep that mode
    * (drop on any collision, zero verify I/O).
    */
  def ingestDedupNearDup(df: DataFrame, docPath: String, bucketPath: String,
                         ts: String, checkpoint: String,
                         id: String, text: String,
                         shingleLen: Int = 5, bands: Int = 8,
                         rowsPerBand: Int = 2,
                         trigger: Trigger = Trigger.AvailableNow(),
                         retainNs: Long = Long.MaxValue, every: Int = 1,
                         minJaccard: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch0: Dataset[Row], batchId: Long) =>
        retryingLease("ingestDedupNearDup") {
          dedupIngestBatch(batch0.toDF(), docPath, bucketPath, ts, checkpoint,
            id, text, shingleLen, bands, rowsPerBand, batchId,
            retainNs = if (batchId % math.max(1, every) == 0) retainNs
                       else Long.MaxValue,
            minJaccard = minJaccard)
        }
        ()
      }
      .start()

  /** One micro-batch of [[ingestDedupNearDup]] — public so crash tests
    * (and batch backfills) can drive the two-table protocol directly.
    * `retainNs` < Long.MaxValue runs the retention beat after the two
    * appends (see [[dedupRetentionBeat]]); `minJaccard` per the stream
    * wrapper's contract (verified at > 0, raw-collision drop at <= 0).
    *
    * Each batch-sized frame is computed ONCE: one normalize pass yields
    * (id, ts, fp, sh), banding passes ts and fp through, and the bucket
    * rows are the banded frame restricted to the survivors — no join
    * re-derives a column the batch already had. The verdict
    * ([[landingVerdict]]) is decided on the driver from at most three
    * collects, so per-batch SQL executions on a bucket table that exists
    * and has its bloom sidecar (a steady-state stream) are:
    *  - a fresh batch: at most 5 — the batch-rows collect, the stored
    *    -candidate collect (none when the bloom clears every bucket), one
    *    collect of the tier-2 verdicts and the verified in-batch pairs
    *    (none when there is neither), the doc write and the bucket write
    *    (a multi-file one adds the file-bloom read-back). LandingVerdictSpec
    *    pins 5 for a batch with both kinds of candidate; StreamIngestSpec
    *    pins 3 for a batch with none;
    *  - an all-drop re-crawl: 2 — the batch-rows and stored-candidate
    *    collects. Every doc is an exact duplicate, so there is no
    *    in-batch pair to verify and nothing is written;
    *  - in-batch clusters form on the driver ([[localLosers]]): no
    *    execution.
    * Every driver collect is bounded by the batch, never by the stored
    * corpus: the batch-rows collect holds the batch's ids plus batch ×
    * bands (id, band, bucket) rows under `graft.dedup.probe.collect.max`;
    * the candidate and verdict collects hold the batch's collisions and
    * its verified pairs under `graft.dedup.verify.collect.max`. Past a
    * cap the same verdict comes from the frame-based path, which collects
    * only drop ids (at most the batch's ids).
    */
  def dedupIngestBatch(batch0: DataFrame, docPath: String, bucketPath: String,
                       ts: String, streamKey: String, id: String, text: String,
                       shingleLen: Int, bands: Int, rowsPerBand: Int,
                       batchId: Long, retainNs: Long = Long.MaxValue,
                       minJaccard: Double = 0.5): Unit = {
    val spark = batch0.sparkSession
    val batch = batch0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE normalize/shingle pass per doc: (id, ts, fp, sh). Banding
    // derives from the shingle sets, both verify paths re-join them, and
    // the banded frame carries ts and fp through to the bucket rows —
    // same construction as bandBuckets (bandBucketsSh ∘ shingleSets), so
    // the banding math is unchanged
    val sh = graft.dedup.Dedup.shingleSetsFp(batch, id, text, shingleLen, Seq(ts))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bb = graft.dedup.Dedup
      .bandBucketsSh(sh, id, bands, rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val caches = scala.collection.mutable.ListBuffer[DataFrame](batch, sh, bb)
    try {
      val (exists, liveHead, hasFp) = bucketLayout(spark, bucketPath)
      // tier 2 is EXACT JACCARD against the colliding stored docs:
      // shingle only those (∝ candidates); the intersect arithmetic is
      // verifyJaccard's, inlined because the two sides come from
      // different frames. minJaccard <= 0 is the legacy
      // banding-aggressive mode: ANY (band, bucket) collision drops the
      // doc, zero verify I/O
      val shB = sh.select(col(id), col("sh"))
      val verdict = landingVerdict(spark, batch, bb, docPath, bucketPath, id, ts,
        exists, hasFp, tier1 = hasFp && minJaccard <= 1.0,
        collisionDrops = minJaccard <= 0, caches)(
        _.select(col(id).as("__oldId"), col(text).as("__otxt"))) {
        (pairs, oldDocs) =>
          val oldSh = graft.dedup.Dedup
            .shingleSets(oldDocs, "__oldId", "__otxt", shingleLen)
            .select(col("__oldId"), col("sh").as("__osh"))
          pairs.join(shB, Seq(id)).join(oldSh, Seq("__oldId"))
            .withColumn("__inter",
              size(array_intersect(col("sh"), col("__osh"))).cast("long"))
            .filter(col("__inter") /
              (size(col("sh")) + size(col("__osh")) - col("__inter"))
              >= minJaccard)
            .select(col(id))
      } { cand =>
        if (minJaccard <= 0) cand
        else graft.dedup.Dedup.verifyJaccard(cand, sh, id, minJaccard)
          .select(col("id1"), col("id2"))
      }
      // an ALL-DROP batch (a re-crawl — the steady state when a crawler
      // revisits its corpus) writes nothing (landSurvivors)
      landSurvivors(spark, batch, verdict, exists && verdict.allDropped, bb,
        shouldWriteFp(liveHead, hasFp), docPath, bucketPath, ts, id,
        streamKey, batchId, retainNs)
    } finally {
      // every persist released on EVERY path — a throw from either append
      // (lease contention, ordered-ingest reject, crash injection) must
      // not pin batch blocks for the session's lifetime. Dependents
      // first: un-caching a parent first would re-plan them.
      caches.reverseIterator.foreach(c => scala.util.Try(c.unpersist()))
    }
  }

  /** Persist `df` and register it for the caller's `finally`. */
  private def cached(caches: scala.collection.mutable.ListBuffer[DataFrame],
                     df: DataFrame): DataFrame =
    if (caches.exists(_ eq df)) df
    else {
      caches += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }

  /** The bucket table's state as the landing twins see it: whether it
    * exists, its live head file (one manifest read; the footer schema
    * memoizes on that IMMUTABLE file — a fold/retention that renames
    * files changes the head name and re-detects), and whether that
    * generation carries the content-fingerprint column. A table with no
    * live files yet is "new" — the prop decides its layout
    * ([[shouldWriteFp]]).
    */
  private def bucketLayout(spark: SparkSession, bucketPath: String)
      : (Boolean, Option[String], Boolean) = {
    val hp = new org.apache.hadoop.fs.Path(bucketPath)
    val exists = hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    val liveHead =
      if (exists)
        graft.io.Tables.liveFileNames(spark, bucketPath).flatMap(_.headOption)
      else None
    (exists, liveHead, bucketHeadHasFp(spark, bucketPath, liveHead))
  }

  /** A driver-local frame of id-typed columns `names` over `rows` — the
    * verdict's id sets and pair sets, typed from the batch's own id column
    * so join keys resolve whatever the id type is.
    */
  private def localIds(batch: DataFrame, id: String, rows: Array[Row],
                       names: String*): DataFrame =
    batch.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(names.map(n => batch.schema(id).copy(name = n))))

  /** At most `cap` + 1 rows of `df`, taken in ONE job: a take over many
    * partitions runs a job for the first and more for the rest. The
    * frames taken here end in batch-sized stages (their scans and joins
    * run before an exchange or over the persisted batch), so reading
    * them in one task costs nothing a second job would not.
    */
  private def capped(df: DataFrame, cap: Int): Array[Row] =
    df.coalesce(1).limit(cap + 1).collect()

  /** A landing batch's verdict, decided on the driver: the survivors (the
    * batch minus `drops`, a broadcast anti-join of a local id frame),
    * whether nothing survives, and the survivors' distinct bucket values
    * for the bloom sidecar (None past the batch-rows cap).
    */
  private final case class Verdict(survivors: DataFrame, allDropped: Boolean,
                                   survivorBuckets: Option[Array[Long]])

  /** The verdict shared by the landing twins: the batch minus the docs
    * that near-duplicate a RETAINED doc, then minus the losers of the
    * in-batch clusters among what is left (min id per connected
    * component survives). `bb` is the batch's banded frame (id, ts, fp,
    * band, bucket — fp is the text or the vector fingerprint); docs with
    * no bucket rows collide with nothing and always survive.
    *
    * Three collects decide it:
    *  1. BATCH ROWS — (id, band, bucket) per banded row plus each batch
    *     row's id. The distinct bucket values feed the probe's sidecar
    *     check ([[probeStored]]), the survivors' ones feed the sidecar
    *     update, the banded rows give the in-batch candidate pairs
    *     ([[localPairs]]), and the ids tell an all-drop batch: every
    *     row's id dropped.
    *  2. STORED CANDIDATES — the probe's hits joined to the broadcast
    *     batch side in one join: the stored id rides along, so the rows
    *     ARE the candidate (batch-id, stored-id) pairs, labeled by tier 1
    *     (FINGERPRINT SHORTCUT, `tier1`: bucket rows written with `fp`
    *     carry the stored doc's fingerprint, so a matching batch
    *     fingerprint is an exact duplicate that drops with ZERO doc-table
    *     I/O — the re-crawl steady state never touches the doc table;
    *     `collisionDrops` labels every collision a drop).
    *  3. VERDICTS — tier 2 and the in-batch pairs in one plan. Tier 2
    *     runs only for candidates tier 1 left undecided: `hits` over
    *     (pairs (id, __oldId), colliding stored docs) → dropped batch ids,
    *     over a doc-table fetch bounded in BOTH dimensions: the
    *     candidates' ts SPAN file-prunes the read to the overlapping
    *     manifest slice (the layout is ts-clustered, never id-clustered,
    *     so an In alone cannot file-prune at 100 TB) and the id set
    *     bounds the verify. `oldSide` projects the slice to (__oldId,
    *     payload…). The in-batch part is `verify` over the candidate
    *     pairs among the docs tier 1 kept, a local frame (an all-exact
    *     re-crawl has none, and a batch with no pair runs no collect 3).
    * The driver then keeps only the in-batch edges whose two ends
    * survived the stored check. That equals pairing the stored check's
    * survivors alone, because a pair and its verify depend on the pair's
    * two docs only; so a doc the stored check drops never bridges two
    * fresh docs into one cluster. The remaining edges cluster on the
    * driver ([[localLosers]]).
    *
    * Past `graft.dedup.probe.collect.max` batch rows, or more candidate
    * pairs than `graft.dedup.verify.collect.max`, the pairs come from
    * [[graft.dedup.Dedup.bandedPairs]] in Spark instead. Past
    * `graft.dedup.verify.collect.max` rows in either of collects 2 and 3
    * (default 20000, ~40 B/row) a frame-based shape decides identically
    * (persisted candidates, span agg, broadcast semi-join fetch,
    * distributed in-batch pairs) and collects only the drop ids — a giant
    * re-crawl must not revert to O(corpus) work or an unbounded collect.
    */
  private def landingVerdict(spark: SparkSession, batch: DataFrame, bb: DataFrame,
                             docPath: String, bucketPath: String, id: String,
                             ts: String, exists: Boolean, hasFp: Boolean,
                             tier1: Boolean, collisionDrops: Boolean,
                             caches: scala.collection.mutable.ListBuffer[DataFrame])(
      oldSide: DataFrame => DataFrame)(
      hits: (DataFrame, DataFrame) => DataFrame)(
      verify: DataFrame => DataFrame): Verdict = {
    def ids(vals: Array[Any], name: String): DataFrame =
      localIds(batch, id, vals.map(v => Row(v)), name)
    // 1. the batch rows: (id, band, bucket) per banded row, and one
    // (id, __doc) row per batch row
    val rowCap = probeCollectCap
    val rows = capped(bb.select(col(id), col("band"), col("bucket"),
        lit(false).as("__doc"))
      .unionByName(batch.select(col(id), lit(null).cast("int").as("band"),
        lit(null).cast("long").as("bucket"), lit(true).as("__doc"))), rowCap)
    val complete = rows.length <= rowCap
    val (docRows, bandRows) = rows.partition(_.getBoolean(3))
    val banded = Some(bandRows).filter(_ => complete)
    // 2. the stored candidates (id, __oldId, __oldTs, __exact)
    val bands = Seq(col("band"), col("bucket"))
    val stored = (if (!exists) None else probeStored(spark, bucketPath,
      bb.select(bands :+ col(id) :+ col("fp").as("__bfp"): _*),
      if (collisionDrops) bands
      else bands ++ Seq(col(id).as("__oldId"), col(ts).as("__oldTs")) ++
        (if (hasFp) Seq(col("fp").as("__oldFp")) else Nil),
      banded.map(_.map(_.getLong(2)).distinct), "inner")).map { joined =>
      val exactCol =
        if (collisionDrops) lit(true)
        else if (tier1) coalesce(col("__oldFp") === col("__bfp"), lit(false))
        else lit(false)
      // a row per colliding band, deduped by the consumer (no shuffle)
      if (collisionDrops) joined.select(col(id),
        lit(null).cast(bb.schema(id).dataType).as("__oldId"),
        lit(null).cast(bb.schema(ts).dataType).as("__oldTs"), exactCol.as("__exact"))
      else joined.select(col(id), col("__oldId"), col("__oldTs"), exactCol.as("__exact"))
    }
    // the in-batch pairs in Spark: the frame path's, and past the caps
    lazy val edges = verify(graft.dedup.Dedup.bandedPairs(bb, id))
    val candCap = sys.props.get("graft.dedup.verify.collect.max")
      .flatMap(_.toIntOption).getOrElse(20000)
    def fetchOld(bounds: Option[(Long, Long)]): DataFrame = oldSide(
      bounds.map { case (lo, hi) =>
        graft.io.Tables.snapshotSliceNs(spark, docPath, lo, hi, ts)
      }.getOrElse(graft.io.Tables.snapshot(spark, docPath)))
    // DRIVER-DECIDED below both caps; None sends the batch to the frame path
    val driverDrops: Option[Array[Any]] = {
      val storedRows = stored.fold(Array.empty[Row])(capped(_, candCap))
      if (storedRows.length > candCap) None
      else {
        val storedCand = storedRows.distinct
        val exactIds = storedCand.filter(_.getBoolean(3)).map(_.get(0)).distinct
        val exactSet = exactIds.toSet
        // pairs still undecided: their batch id survived tier 1
        val restRows = storedCand.filterNot(r => exactSet.contains(r.get(0)))
        // 3. tier 2 over the LOCAL pair set (it was just collected — tier 2
        // never recomputes the probe)
        val tier2 = if (restRows.isEmpty) None else Some {
          val ns = restRows.flatMap(r => tsValueNs(r.get(2)))
          val oldIds = restRows.map(_.get(1)).distinct
          val old0 = fetchOld(
            if (ns.length == restRows.length) Some((ns.min, ns.max)) else None)
          val old =
            if (oldIds.length <= 1000)
              // isin additionally pushes row-group pruning inside the
              // ts-sliced files
              old0.filter(col("__oldId").isin(oldIds: _*))
            else old0.join(broadcast(ids(oldIds, "__oldId")), Seq("__oldId"),
              "left_semi")
          hits(localIds(batch, id, restRows.map(r => Row(r.get(0), r.get(1))),
            id, "__oldId"), old)
        }
        // the in-batch pairs among the docs tier 1 kept, verified in the
        // same collect as tier 2; formed from the batch rows already here
        // (none for an all-exact re-crawl), or in Spark past the caps
        val inBatch = banded.flatMap(localPairs(_, exactSet, candCap)) match {
          case Some(ps) if ps.isEmpty => None
          case Some(ps) => Some(verify(localIds(batch, id, ps, "id1", "id2")))
          case None => Some(edges)
        }
        val verdicts = tier2.map(_.select(col(id), lit(null).cast(batch.schema(id)
          .dataType).as("__id2"), lit(false).as("__edge"))).toSeq ++
          inBatch.map(_.select(col("id1").as(id), col("id2").as("__id2"),
            lit(true).as("__edge")))
        val got = verdicts.reduceOption(_ unionByName _)
          .fold(Array.empty[Row])(capped(_, candCap))
        if (got.length > candCap) None
        else {
          val (edgeRows, hitRows) = got.partition(_.getBoolean(2))
          val storedDrops = exactIds ++ hitRows.map(_.get(0))
          val dropSet = storedDrops.toSet
          val kept = edgeRows.filterNot(r => dropSet(r.get(0)) || dropSet(r.get(1)))
          Some(storedDrops ++ localLosers(kept.map(r => (r.get(0), r.get(1))),
            batch.schema(id).dataType))
        }
      }
    }
    val drops: Array[Any] = driverDrops.getOrElse {
      // OVER-CAP: the frame-based shape, collecting only drop ids
      val storedDrops = stored.fold(Array.empty[Any]) { c =>
        val candDf = cached(caches, c.distinct())
        val exactIds = candDf.filter(col("__exact")).select(col(id)).distinct()
        val rest = candDf.join(exactIds, Seq(id), "left_anti")
        val candOld = rest.select(col("__oldId"), col("__oldTs")).distinct()
        val span = candOld.agg(min(col("__oldTs")), max(col("__oldTs")),
          count(lit(1))).head()
        (if (span.getLong(2) == 0L) exactIds
        else {
          val old = fetchOld(for {
            lo <- tsValueNs(span.get(0)); hi <- tsValueNs(span.get(1))
          } yield (lo, hi)).join(broadcast(candOld.select(col("__oldId"))),
            Seq("__oldId"), "left_semi")
          hits(rest.select(col(id), col("__oldId")), old).unionByName(exactIds)
            .distinct()
        }).collect().map(_.get(0))
      }
      storedDrops ++ graft.dedup.Dedup.connectedComponents(edges
        .join(broadcast(ids(storedDrops, "id1")), Seq("id1"), "left_anti")
        .join(broadcast(ids(storedDrops, "id2")), Seq("id2"), "left_anti"))
        .filter(col("id") =!= col("cluster_id")).select(col("id"))
        .collect().map(_.get(0))
    }
    val dropIds = drops.filter(_ != null).distinct
    val dropSet = dropIds.toSet
    Verdict(
      if (dropIds.isEmpty) batch
      else batch.join(broadcast(ids(dropIds, id)), Seq(id), "left_anti"),
      // all-drop: every row's id dropped (drop ids are distinct batch ids,
      // so past the cap as many of them as rows says the same)
      if (complete) docRows.forall(r => !r.isNullAt(0) && dropSet(r.get(0)))
      else dropIds.length == batch.count(),
      // exactly the bucket rows landSurvivors writes
      banded.map(_.filter(r => dropIds.isEmpty || !r.isNullAt(0) && !dropSet(r.get(0)))
        .map(_.getLong(2)).distinct))
  }

  /** The in-batch cluster losers over `edges`, by union-find on the
    * driver: the smaller root (Spark's order on `idType`) absorbs the
    * larger, so each component's min id survives, as in
    * [[graft.dedup.Dedup.connectedComponents]].
    */
  private def localLosers(edges: Array[(Any, Any)], idType: DataType): Array[Any] = {
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(idType)
    val order = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(idType)
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def root(x: Any): Any = {
      var r = x
      while (parent.contains(r)) r = parent(r)
      var y = x
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (root(a), root(b))
      if (ra != rb) {
        if (order.lt(toCatalyst(ra), toCatalyst(rb))) parent(rb) = ra else parent(ra) = rb
      }
    }
    // only a root that another absorbed has a parent
    parent.keys.toArray
  }

  /** The in-batch candidate pairs among banded rows (id, band, bucket)
    * already on the driver, skipping ids in `skip`: two distinct ids
    * sharing a (band, bucket), once per pair — the pairs of
    * [[graft.dedup.Dedup.bandedPairs]], as (id1, id2) rows in no
    * particular order. None past `cap` pairs.
    */
  private def localPairs(rows: Array[Row], skip: Set[Any], cap: Int): Option[Array[Row]] = {
    val groups = rows.filter(r => !r.isNullAt(0) && !skip(r.get(0)))
      .groupBy(r => (r.getInt(1), r.getLong(2))).values
      .map(_.map(_.get(0)).distinct).filter(_.length > 1).toSeq
    if (groups.map(g => g.length.toLong * (g.length - 1) / 2).sum > cap) None
    else Some(groups.flatMap(_.combinations(2).map(_.toSet)).distinct
      .map { p => Row(p.toSeq: _*) }.toArray)
  }

  /** The landing tail shared by the dedup twins: the survivors' doc rows,
    * then their bucket rows — `bb` (id, ts, fp, band, bucket) restricted
    * to the survivor ids, (id, band, bucket, ts[, fp]) per the table's
    * layout — then the per-file bloom sync and the retention beat.
    *
    * Doc table first, bucket table second: survivors are a pure function
    * of the batch and the PRE-batch bucket table, so a crash between the
    * two appends replays the batch, recomputes the same survivors, skips
    * the committed doc append and applies the bucket append. Distinct
    * stream ids keep the two commit logs separate. An ALL-DROP batch
    * (`freshEmpty`) advances both commit logs WITHOUT staging writes
    * ([[graft.io.Tables.commitEmptyStreamBatch]] — the same exactly-once
    * transition minus the 0-row write job).
    *
    * The sidecar's new bucket values are the verdict's
    * `survivorBuckets`, taken from the batch rows it already collected —
    * no bucket-value job; only a batch past the batch-rows cap collects
    * them from the bucket rows here. They also build the file bloom of a
    * one-file batch, so the tail runs just the two writes. Sidecar
    * BEFORE the bucket append: a crash between the two leaves the bloom
    * a superset of the stored table — the invariant the probe's
    * correctness rests on (see DedupBloom); a replayed batch re-ORs the
    * same bits. ONE writer-lease
    * span covers update AND append (ADVICE r15 high): an un-leased window
    * between them lets a concurrent rebuild snapshot the table WITHOUT
    * this batch's rows and install a bloom missing its bits — after which
    * the append lands anyway and the sidecar is a strict SUBSET of the
    * table (silent false negatives = duplicates admitted forever). The
    * lease is thread-re-entrant, so the nested acquisitions inside
    * DedupBloom.update and appendStreamBatch are no-ops; a rebuild
    * attempted mid-span fails loudly instead.
    */
  private def landSurvivors(spark: SparkSession, batch: DataFrame,
                            verdict: Verdict, freshEmpty: Boolean,
                            bb: DataFrame, writeFp: Boolean, docPath: String,
                            bucketPath: String, ts: String, id: String,
                            streamKey: String, batchId: Long,
                            retainNs: Long): Unit = {
    val hp = new org.apache.hadoop.fs.Path(bucketPath)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val survivors = verdict.survivors
    if (freshEmpty)
      graft.io.Tables.commitEmptyStreamBatch(spark, docPath,
        streamKey + "#docs", batchId)
    else
      graft.io.Tables.appendStreamBatch(survivors, docPath, ts,
        streamKey + "#docs", batchId)
    // bucket rows carry the doc's fingerprint so future batches' exact
    // duplicates drop at the probe with zero doc-table I/O. An EXISTING
    // table always keeps its own layout (shouldWriteFp)
    val bucketRows =
      if (freshEmpty) None
      else Some((if (survivors eq batch) bb
        else bb.join(survivors.select(col(id)), Seq(id), "left_semi"))
        .select(Seq(col(id), col("band"), col("bucket"), col(ts)) ++
          (if (writeFp) Seq(col("fp")) else Nil): _*))
    // the over-cap collect runs OUTSIDE the lease
    val newBucketVals = bucketRows.fold(Array.empty[Long])(rows =>
      verdict.survivorBuckets.getOrElse(
        rows.select(col("bucket")).distinct().collect().map(_.getLong(0))))
    val newFiles = graft.io.Tables.withWriterLease(fs, hp, "dedupIngestBuckets") {
      DedupBloom.update(spark, bucketPath, newBucketVals)
      bucketRows match {
        case Some(rows) => graft.io.Tables.appendStreamBatchFiles(rows, bucketPath,
          ts, streamKey + "#buckets", batchId).getOrElse(Nil)
        case None => graft.io.Tables.commitEmptyStreamBatch(spark, bucketPath,
          streamKey + "#buckets", batchId); Nil
      }
    }
    // per-file blooms for the batch's new file(s) — OUTSIDE the lease (it
    // only reads committed live files) and best-effort: a missing file
    // bloom degrades the probe's file pruning, never its answer. Only a
    // one-file batch's values are known per file
    val known =
      if (newFiles.size == 1) Map(newFiles.head -> newBucketVals) else Map.empty[String, Array[Long]]
    scala.util.Try(FileBlooms.sync(spark, bucketPath, known = known)).failed.foreach(e =>
      System.err.println(s"[dedup-ingest] file-bloom sync skipped: ${e.getMessage}"))
    // retention LAST, after both appends committed: a replayed batch
    // re-runs the beat (idempotent — the re-cut range is empty), and a
    // crash inside either delete recovers through the standard delete
    // recovery at the next op's entry
    if (retainNs != Long.MaxValue)
      dedupRetentionBeat(spark, docPath, bucketPath, ts, retainNs)
  }

  /** The EMBEDDING twin of [[ingestDedupNearDup]]: semantic dedup at
    * landing (SemDeDup at the ingest boundary, arXiv:2303.09540) — each
    * micro-batch drops documents whose embedding is within `minCos`
    * cosine of a previously-RETAINED document. Unlike MinHash banding, a
    * random-hyperplane bucket collision is only a CANDIDATE (RHP buckets
    * are coarse), so the stored-corpus check verifies candidates with
    * the exact cosine against the retained vectors (column-pruned doc
    * -table join over the candidate ids only); in-batch collisions
    * resolve through [[graft.dedup.Dedup.cosinePairsBucketed]] (same
    * verify-after-bucket shape) + connected components, min id per
    * cluster. Same two-table exactly-once protocol and crash consistency
    * as the text variant. Zero-norm embeddings have no direction, bucket
    * nowhere, and always survive.
    *
    * LSH recall: a true near-dup pair missed by ALL `tables` hash tables
    * lands twice — recall at angle θ is 1 − (1 − (1−θ/π)^bits)^tables.
    * The ingest defaults (32 tables × 16 bits → ~0.998 at cos 0.95)
    * deliberately use WIDER buckets than cosinePairsBucketed's batch
    * defaults (32×4): here every bucket row joins against the whole
    * RETAINED corpus, so candidate volume scales with corpus/2^bits per
    * table — 4-bit buckets would make every batch collide with ~1/16 of
    * the corpus per table. Misses are possible by construction (the
    * batch SemDeDup query asserts a recall floor, not equality, for the
    * same reason); lower minCos needs more tables.
    */
  def ingestDedupEmbedding(df: DataFrame, docPath: String, bucketPath: String,
                           ts: String, checkpoint: String,
                           id: String, vec: String, dim: Int,
                           minCos: Double = 0.95,
                           tables: Int = 32, bits: Int = 16,
                           trigger: Trigger = Trigger.AvailableNow(),
                           retainNs: Long = Long.MaxValue, every: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch0: Dataset[Row], batchId: Long) =>
        retryingLease("ingestDedupEmbedding") {
          dedupIngestEmbeddingBatch(batch0.toDF(), docPath, bucketPath, ts,
            checkpoint, id, vec, dim, minCos, tables, bits, batchId,
            retainNs = if (batchId % math.max(1, every) == 0) retainNs
                       else Long.MaxValue)
        }
        ()
      }
      .start()

  /** One micro-batch of [[ingestDedupEmbedding]] — public for crash tests
    * and batch backfills, like [[dedupIngestBatch]] (same single-pass
    * frames and the same landing tail).
    */
  def dedupIngestEmbeddingBatch(batch0: DataFrame, docPath: String,
                                bucketPath: String, ts: String,
                                streamKey: String, id: String, vec: String,
                                dim: Int, minCos: Double, tables: Int,
                                bits: Int, batchId: Long,
                                retainNs: Long = Long.MaxValue): Unit = {
    val spark = batch0.sparkSession
    // the fused norm/verify dots: bit-equal with the HOF form (ArrayDot)
    import graft.sim.Similarity.{dotFused => dot}
    val batch = batch0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withNorm = batch
      .select(col(id), col(ts), col(vec).cast("array<double>").as("__v"))
      .withColumn("__nrm", sqrt(dot(col("__v"), col("__v"))))
      .filter(col("__nrm") > 0)
      // the vector FINGERPRINT (xxhash64 over the cast array) — the
      // embedding analog of the text twin's content fingerprint: an
      // exact re-upload of an identical vector hashes identically, so
      // tier 1 drops it at the probe with ZERO doc-table I/O
      // (cos(v, v) = 1 ≥ any sane minCos). Same accepted 2^-64
      // collision risk as the text fingerprint.
      .withColumn("__vfp", xxhash64(col("__v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE plane-hashing pass per doc: bb (id, ts, fp, band, bucket) serves
    // the stored-corpus candidate join, the in-batch pair join AND the
    // bucket rows — the same reuse the text twin gets from its banded
    // frame. The pass is the FUSED cs_rhp_sig expression (all tables×bits
    // plane dots in one compiled loop, bit-exact with the composed
    // per-table rhpBucket form existing bucket tables persist): the
    // composed form's 32k interpreted HOF lambda steps per row dominated
    // the whole ingest batch at the defaults (32×16×dim 64 — q_emb_ingest
    // measured it ~7× the rest of the batch put together).
    val bb = withNorm.select(col(id), col(ts), col("__vfp").as("fp"),
        posexplode(graft.sim.Similarity.rhpSignatures(col("__v"), dim, bits, tables)))
      .select(col(id), col(ts), col("fp"), col("pos").as("band"),
        col("col").as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val caches = scala.collection.mutable.ListBuffer[DataFrame](batch, withNorm, bb)
    try {
      // exact-cosine verify of a candidate set against `otherVecs`
      // (__oldId, __ov) — RHP buckets alone are not near-dup evidence
      def verified(cand: DataFrame, otherVecs: DataFrame): DataFrame = cand
        .join(withNorm.select(col(id), col("__v"), col("__nrm")), Seq(id))
        .join(otherVecs, Seq("__oldId"))
        .withColumn("__on", sqrt(dot(col("__ov"), col("__ov"))))
        .filter(col("__on") > 0)
        .filter(dot(col("__v"), col("__ov")) / (col("__nrm") * col("__on"))
          >= minCos)
      val (exists, liveHead, hasFp) = bucketLayout(spark, bucketPath)
      // the same verdict as the text twin; tier 1 keys on the VECTOR
      // fingerprint, tier 2 and the in-batch verify are the exact cosine
      val verdict = landingVerdict(spark, batch, bb, docPath, bucketPath, id, ts,
        exists, hasFp, tier1 = hasFp && minCos <= 1.0, collisionDrops = false,
        caches)(
        _.select(col(id).as("__oldId"), col(vec).cast("array<double>").as("__ov")))(
        (pairs, oldVecs) => verified(pairs, oldVecs).select(col(id))) {
        cand =>
          verified(cand.select(col("id1").as(id), col("id2").as("__oldId")),
            withNorm.select(col(id).as("__oldId"), col("__v").as("__ov")))
            .select(col(id).as("id1"), col("__oldId").as("id2"))
      }
      // bucket rows carry the VECTOR fingerprint under the same
      // creation-governed layout contract as the text twin
      landSurvivors(spark, batch, verdict, verdict.allDropped, bb,
        shouldWriteFp(liveHead, hasFp), docPath, bucketPath, ts, id,
        streamKey, batchId, retainNs)
    } finally caches.reverseIterator.foreach(c => scala.util.Try(c.unpersist()))
  }

  /** The bucketed twin of [[ingestAppend]]: micro-batches land through the
    * catalog table's own bucket spec ([[graft.io.Tables
    * .appendStreamBatchBucketed]]), preserving the zero-Exchange join
    * layout; [[graft.io.Tables.compactBucketed]] folds multi-file buckets
    * between (or during) runs. The table must already exist with its spec
    * ([[graft.io.Tables.loadBucketed]]).
    */
  def ingestAppendBucketed(df: DataFrame, table: String, checkpoint: String,
                           trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // foreachBatch hands the body a CLONED session; the relation-cache
    // refresh inside appendStreamBatchBucketed applies to that clone, so
    // the stream OWNER's session must be refreshed too or its
    // spark.table(t) keeps serving the pre-stream file listing (other
    // sessions refresh on their own — standard Spark staleness rules)
    val owner = df.sparkSession
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        retryingLease("ingestAppendBucketed") {
          if (graft.io.Tables.appendStreamBatchBucketed(batch.toDF(), table,
            streamId = checkpoint, batchId = batchId))
            owner.catalog.refreshTable(table)
        }
        ()
      }
      .start()
  }

  /** Streaming as-of join — the streaming form of the reference's
    * workhorse operator (func.c:4591-4662), whose batch form is
    * Align.asofJoin over the AsofMerge merge exec: one tagged
    * stream per key carries rows with `side` 0 (right, value provider) and
    * 1 (left, probe); each left row emits the latest preceding right
    * value, NULL before any right row. State per key is one (value, seen)
    * pair — O(#keys) regardless of stream length.
    *
    * Same ordering contract as [[emaStream]]: rows are sorted by
    * (ts, side, tiebreak) within each micro-batch (right before left at
    * equal ts — the inclusive boundary), and batches must arrive in
    * append order (the reference's own ingest requirement).
    */
  def asofStream(events: Dataset[Row], key: String, ts: String, tiebreak: String,
                 side: String, value: String): DataFrame = {
    import events.sparkSession.implicits._
    val kIdx = events.schema.fieldIndex(key)
    val tIdx = events.schema.fieldIndex(ts)
    val bIdx = events.schema.fieldIndex(tiebreak)
    val sIdx = events.schema.fieldIndex(side)
    val vIdx = events.schema.fieldIndex(value)
    events
      .groupByKey(r => r.getAs[Number](kIdx).longValue())
      .flatMapGroupsWithState[(Double, Boolean), (Long, Long, Long, Option[Double])](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: Long, rows: Iterator[Row], state: GroupState[(Double, Boolean)]) =>
          val sorted = rows.toSeq.sortBy(r =>
            (r.getAs[Number](tIdx).longValue(), r.getAs[Number](sIdx).intValue(),
              r.getAs[Number](bIdx).longValue()))
          var (last, has) = state.getOption.getOrElse((0.0, false))
          val out = sorted.flatMap { r =>
            if (r.getAs[Number](sIdx).intValue() == 0) {
              // NULL right values neither match nor mask (ignoreNulls)
              if (!r.isNullAt(vIdx)) {
                last = r.getAs[Number](vIdx).doubleValue(); has = true
              }
              None
            } else Some((k, r.getAs[Number](tIdx).longValue(),
              r.getAs[Number](bIdx).longValue(),
              if (has) Some(last) else None))
          }
          state.update((last, has))
          out.iterator
      }
      .toDF(key, ts, tiebreak, "asof_value")
  }

  /** Stateful streaming EMA via flatMapGroupsWithState — the streaming form
    * of Moving.ema (cs_window_ema, func.c:1764-1777). State per key is a
    * single double (the last EMA), so state size is O(#keys) regardless of
    * stream length — the mapGroupsWithState analog of the reference's
    * insert-trigger incremental update.
    *
    * Within one micro-batch the group's rows are sorted by (ts, tiebreak)
    * before folding; across batches the watermark-ordered file source
    * delivers batches in append order, matching the reference's requirement
    * that appends arrive in timestamp order (user_guide.html "When data is
    * loaded...").
    */
  def emaStream(events: Dataset[Row], key: String, ts: String, tiebreak: String,
                value: String, n: Int): DataFrame = {
    import events.sparkSession.implicits._
    val p = 2.0 / (n + 1)
    val kIdx = events.schema.fieldIndex(key)
    require(events.schema(kIdx).dataType == org.apache.spark.sql.types.StringType,
      s"emaStream keys on a STRING column; '$key' is " +
        s"${events.schema(kIdx).dataType.sql} — cast it (asofStream is the " +
        "numeric-keyed sibling)")
    val tIdx = events.schema.fieldIndex(ts)
    val bIdx = events.schema.fieldIndex(tiebreak)
    val vIdx = events.schema.fieldIndex(value)
    events
      .groupByKey(r => r.getAs[String](kIdx))
      // state is (last ema, seen): an explicit seen flag, NOT a NaN
      // sentinel — Moving.ema propagates a NaN VALUE to every later row
      // of the key (affine recurrence), and a sentinel would both reseed
      // after a NaN and skip the state update when a batch ENDS on NaN,
      // diverging from the batch twin in the next micro-batch
      .flatMapGroupsWithState[(Double, Boolean), (String, Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: String, rows: Iterator[Row], state: GroupState[(Double, Boolean)]) =>
          val sorted = rows.toSeq.sortBy(r =>
            (r.getAs[Number](tIdx).longValue(), r.getAs[Number](bIdx).longValue()))
          var (prev, seen) = state.getOption.getOrElse((0.0, false))
          val out = sorted.map { r =>
            val x = r.getAs[Number](vIdx).doubleValue()
            prev = if (!seen) { seen = true; x } else x * p + prev * (1 - p)
            (k, r.getAs[Number](tIdx).longValue(),
              r.getAs[Number](bIdx).longValue(), prev)
          }
          if (seen) state.update((prev, seen))
          out.iterator
      }
      .toDF(key, ts, tiebreak, "ema")
  }
}
