package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types._

import graft.io.Tables
import graft.streaming.Streams

object Ingest {
  val Rows = 5000                 // rows per events batch
  val SlotNs = 60000000000L       // each events batch owns one minute of ts
  val T0 = 1704067200000000000L   // 2024-01-01T00:00:00Z in epoch ns
  val RetainBatches = 8           // live events batches kept by retention
  /** Steps per block. Every block does the same work in the same order:
    * a fresh events batch and fresh doc text on the first step; a re-sent
    * events batch id and re-sent text on the second, which also compacts
    * and runs retention. The seed decides the data, which committed batch
    * id is re-sent and which earlier text.
    */
  val BlockSteps = 2
  val DocsPerBatch = 1000
  val ReadBatches = 2             // the read covers the newest two batches
  val EventsStream = "perfbench-events"
  val DocsStream = "perfbench-docs"

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  val DocSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def slotStart(batch: Long): Long = T0 + batch * SlotNs

  /** Sum of event_id over one batch (ids batch*1e6 + 0 until Rows). */
  def idSum(batch: Long): Long =
    Rows.toLong * batch * 1000000L + Rows.toLong * (Rows - 1) / 2
}

/** Landing ingest with reads. Each step (one operation):
  *  1. lands one events batch through `Tables.appendStreamBatch` (span
  *     `append`), or re-sends an already committed batch id (span
  *     `append_replay`, which the commit log must skip);
  *  2. lands 1000 docs through `Streams.dedupIngestBatch` (span `dedup`);
  *     half of the doc batches re-send earlier text under fresh ids;
  *  3. reads the newest two batches with `Tables.rangeScan` (span `read`)
  *     and checks the rows it returns.
  * The last step of each block of [[Ingest.BlockSteps]] also runs
  * `compactIncremental` and a retention `deleteRange` (spans `compact`,
  * `delete`), which keep the table at a steady size. The window runs
  * whole blocks.
  */
final class Ingest(spark: SparkSession, work: String, seed: Long) extends Workload {
  import Ingest._

  private val dir = s"$work/ingest"
  private def eventsPath = s"$dir/landing.parquet"
  private def docsPath = s"$dir/docs.parquet"
  private def bucketsPath = s"$dir/doc_buckets"

  private val plan = Gen.rng(seed, Gen.PlanStream, 0)
  private var nextBatch = RetainBatches   // the base table holds 0 until RetainBatches
  private var lowLive = 0L
  private val replayable = mutable.SortedSet.empty[Long]
  private var replays = 0
  private var skips = 0
  private var nextDocBatch = 0L
  private var nextText = 0L
  private val freshTexts = mutable.ArrayBuffer.empty[Long]
  private val landedDocBatches = mutable.ArrayBuffer.empty[Long]
  private var step = 0
  private var userBytes = 0L
  private val batchBytes = mutable.Map.empty[Long, Long]
  private val errors = mutable.ArrayBuffer.empty[String]
  private val failed = mutable.ArrayBuffer.empty[(String, String)]
  private var windowSkips = 0
  private var windowStartBytes = 0L

  def session: SparkSession = spark
  def failures: Seq[(String, String)] = failed.toSeq
  def cachedBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def eventsFrame(batch: Long): (DataFrame, Long) = {
    val ev = Gen.events(seed, batch, Rows, T0, SlotNs)
    val rows = ev.map(e => Row(e.eventId, e.userId, e.ts, e.eventType, e.value))
    (spark.createDataFrame(java.util.Arrays.asList(rows: _*), EventSchema),
      ev.map(_.userBytes).sum)
  }

  private def eventsDf(batch: Long): DataFrame = {
    val (df, bytes) = eventsFrame(batch)
    batchBytes(batch) = bytes
    df
  }

  private def docsDf(docBatch: Long, textBatch: Long): (DataFrame, Long) = {
    val texts = Gen.docTexts(seed, textBatch, DocsPerBatch)
    val rows = texts.zipWithIndex.map { case (t, j) =>
      val id = docBatch * 1000000L + j
      Row(id, id, t)
    }
    (spark.createDataFrame(java.util.Arrays.asList(rows: _*), DocSchema),
      texts.map(_.length + 16L).sum)
  }

  /** Lands `textBatch`'s texts as the next doc batch; returns their bytes. */
  private def landDocs(textBatch: Long): Long = {
    val (df, bytes) = docsDf(nextDocBatch, textBatch)
    Streams.dedupIngestBatch(df, docsPath, bucketsPath, "ts", DocsStream,
      "id", "text", 5, 8, 2, nextDocBatch)
    nextDocBatch += 1
    bytes
  }

  /** Lands new text; every doc of it must be kept. */
  private def landFreshDocs(): Long = {
    landedDocBatches += nextDocBatch
    freshTexts += nextText
    nextText += 1
    landDocs(nextText - 1)
  }

  /** Two independent chains, side by side: (1) the base table of
    * [[RetainBatches]] batches, then a warm-up of the events-table code
    * paths on a scratch table (load, stream appends and a replay, reads,
    * compaction, retention delete); (2) the doc corpus, landed as the
    * first doc batch and folded into its clustered layout (as
    * graft.Bench's dedup entry does), which also warms the dedup path.
    */
  def setup(): Unit = Runner.inParallel(2)(
    () => {
      val base = (0L until RetainBatches).map(eventsDf).reduce(_ union _)
      Tables.load(base, eventsPath, Seq(), "ts")
      warmEvents()
    },
    () => {
      landFreshDocs()
      Tables.compactIncremental(spark, bucketsPath, Seq("band", "bucket"), "ts")
    })

  private def warmEvents(): Unit = {
    val wdir = s"$work/ingest_warm"
    val path = s"$wdir/landing.parquet"
    val frame = (b: Long) => eventsFrame(b)._1
    Tables.load(frame(-4L), path, Seq(), "ts")
    // (events batch, stream batch id): two fresh batches, then a replay
    Seq((-3L, 0L), (-2L, 1L), (-2L, 1L)).foreach { case (b, id) =>
      Tables.appendStreamBatch(frame(b), path, "ts", "warm", id)
      Tables.rangeScan(spark, wdir, "landing", slotStart(b), slotStart(b + 1))
        .agg(count(lit(1)), sum(col("event_id"))).head()
    }
    Tables.compactIncremental(spark, path, Seq(), "ts")
    Tables.deleteRange(spark, path, "ts", lit(slotStart(-4)), lit(slotStart(-3) - 1))
  }

  /** Nothing beyond set-up, which already warms both chains. */
  def warm(): Unit = ()

  private def mismatch(msg: String): Unit = errors += s"step $step: $msg"

  private def runBlock(t: Tracer): Unit =
    (0 until BlockSteps).foreach { i =>
      val last = i == BlockSteps - 1
      try runStep(t, replay = last, textReplay = i % 2 == 1, maintain = last)
      catch { case e: Exception => failed += ((s"step $step", e.getMessage)) }
    }

  private def runStep(t: Tracer, replay: Boolean, textReplay: Boolean,
                      maintain: Boolean): Unit = t.op("step") {
    val pickB = plan.nextInt(1 << 30)
    val pickT = plan.nextInt(1 << 30)

    if (replay) {
      val ids = replayable.toIndexedSeq
      val b = ids(pickB % ids.size)
      replayable -= b
      replays += 1
      val applied = t.span("append_replay")(
        Tables.appendStreamBatch(eventsDf(b), eventsPath, "ts", EventsStream, b))
      if (applied) mismatch(s"replayed events batch $b was applied again")
      else { skips += 1; windowSkips += 1 }
    } else {
      val b = nextBatch
      nextBatch += 1
      val applied = t.span("append")(
        Tables.appendStreamBatch(eventsDf(b), eventsPath, "ts", EventsStream, b))
      if (!applied) mismatch(s"fresh events batch $b was skipped")
      replayable += b
      userBytes += batchBytes(b)
    }

    if (textReplay) t.span("dedup")(landDocs(freshTexts(pickT % freshTexts.size)))
    else userBytes += t.span("dedup")(landFreshDocs())

    val lo = math.max(lowLive, nextBatch - ReadBatches)
    val wantN = (nextBatch - lo) * Rows
    val wantSum = (lo until nextBatch).map(idSum).sum
    val r = t.span("read")(
      Tables.rangeScan(spark, dir, "landing", slotStart(lo), slotStart(nextBatch))
        .agg(count(lit(1)), sum(col("event_id"))).head())
    if (r.getLong(0) != wantN || (wantN > 0 && r.getLong(1) != wantSum))
      mismatch(s"read of batches [$lo, $nextBatch) returned ${r.getLong(0)} " +
        s"rows (sum ${r.get(1)}), expected $wantN (sum $wantSum)")

    step += 1
    if (maintain) {
      t.span("compact")(Tables.compactIncremental(spark, eventsPath, Seq(), "ts"))
      val cut = nextBatch - RetainBatches
      if (cut > lowLive) {
        t.span("delete")(Tables.deleteRange(spark, eventsPath, "ts",
          lit(slotStart(lowLive)), lit(slotStart(cut) - 1)))
        lowLive = cut
      }
    }
  }

  def window(t: Tracer, seconds: Double): Seq[OpRec] = {
    val before = t.ops.size
    windowSkips = 0
    windowStartBytes = userBytes
    val t0 = System.nanoTime()
    do runBlock(t) while ((System.nanoTime() - t0) / 1e9 < seconds)
    t.ops.drop(before)
  }

  private def liveUserBytes: Long =
    (lowLive until nextBatch).map(b => batchBytes.getOrElse(b, 0L)).sum

  /** Bytes on disk of the events table (data, manifests, logs, sidecars)
    * per byte of live user data in it.
    */
  def spaceAmp(): Double = {
    val d = new java.io.File(dir)
    val onDisk = Option(d.listFiles).toSeq.flatten
      .filter(_.getName.startsWith("landing.parquet")).map(Runner.du).sum
    onDisk.toDouble / math.max(1L, liveUserBytes)
  }

  def checks(): Seq[(String, Boolean, String)] = {
    val all = Tables.rangeScan(spark, dir, "landing", Long.MinValue, Long.MaxValue)
      .agg(count(lit(1)), sum(col("event_id"))).head()
    val wantN = (nextBatch - lowLive) * Rows
    val wantSum = (lowLive until nextBatch).map(idSum).sum
    val rowsOk = all.getLong(0) == wantN && all.getLong(1) == wantSum
    val docIds = Tables.read(spark, dir, "docs").select(col("id")).collect()
      .map(_.getLong(0)).toSet
    val wantIds = landedDocBatches.flatMap(k =>
      (0 until DocsPerBatch).map(j => k * 1000000L + j)).toSet
    val dropped = (nextDocBatch - landedDocBatches.size) * DocsPerBatch
    Seq(
      ("events.final_rows", rowsOk,
        s"table holds ${all.getLong(0)} rows (sum ${all.get(1)}); landed minus " +
          s"deleted is $wantN (sum $wantSum)"),
      ("events.replays_skipped_once", skips == replays,
        s"$replays replayed batch ids, $skips skipped"),
      ("docs.dedup", docIds == wantIds,
        s"doc table holds ${docIds.size} ids, expected ${wantIds.size} fresh " +
          s"(${docIds.diff(wantIds).size} unexpected, ${wantIds.diff(docIds).size} " +
          s"missing; $dropped replayed docs must drop)"),
      ("reads.match_landed", errors.isEmpty,
        if (errors.isEmpty) s"$step steps" else errors.take(5).mkString("; ")))
  }

  def layerExtras(t: Tracer, window: Seq[OpRec],
                  fs: Map[String, Long]): Map[String, Double] = {
    def meanPart(p: String): Double = {
      val xs = window.filter(_.parts.contains(p)).map(_.partMs(p))
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val n = math.max(1, window.size).toDouble
    val ids = window.map(_.id).toSet
    val jobs = t.listener.map(_.jobs.filter(j => ids(j.op))).getOrElse(Nil)
    val tableSpans = Set("append", "append_replay", "read", "compact", "delete")
    val st = Tables.tableStats(spark.sparkContext.hadoopConfiguration, eventsPath)
    Map(
      "tables.append_ms" -> meanPart("append"),
      "tables.compact_ms" -> meanPart("compact"),
      "tables.delete_ms" -> meanPart("delete"),
      "tables.read_ms" -> meanPart("read"),
      "tables.jobs_per_batch" -> jobs.count(j => tableSpans(j.span)) / n,
      "tables.files_live" -> st.live_files.toDouble,
      "streams.commit_ms" -> meanPart("append_replay"),
      "streams.dedup_batch_ms" -> meanPart("dedup"),
      "streams.dedup_jobs_per_batch" -> jobs.count(_.span == "dedup") / n,
      "streams.replay_skips" -> windowSkips.toDouble,
      "tables.bytes_written_per_user_byte" ->
        fs.getOrElse("bytes_written", 0L).toDouble /
          math.max(1L, userBytes - windowStartBytes))
  }

  def detail: Map[String, Any] = Map(
    "steps" -> step, "events_batches_landed" -> (nextBatch - RetainBatches),
    "replays" -> replays, "replay_skips" -> skips,
    "doc_batches" -> nextDocBatch, "doc_batches_fresh" -> landedDocBatches.size,
    "live_batches" -> (nextBatch - lowLive), "user_bytes_landed" -> userBytes,
    "check_errors" -> errors.take(20).toSeq)
}
