package graft

import graft.io.Tables
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming→lifecycle bridge (r12): Structured Streaming micro-batches
  * landing through the managed append path — writer lease per batch, ordered
  * -ingest contract, manifest extension, and an exactly-once batch commit
  * log that survives checkpoint-recovery replays and mid-batch crashes.
  * The reference's insert-trigger ingest (imcs.c:4617-4740) as a sink.
  */
class StreamIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_singest_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Write `rows` as ONE parquet file named `name` in `dir` with the given
    * modification time — the file stream source orders batches by modtime,
    * so explicit stamps make the batch sequence deterministic.
    */
  private def stageFile(dir: String, name: String, rows: Seq[(Long, Double)],
                        modMs: Long): Unit = {
    val stage = java.nio.file.Files.createTempDirectory("stage").toString
    rows.toDF("ts", "v").coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).get
    val dst = new java.io.File(dir, name)
    java.nio.file.Files.move(part.toPath, dst.toPath)
    assert(dst.setLastModified(modMs))
  }

  test("streamed ingest == batch twin: content, manifest governance, pruning") {
    val src = tmpDir("src")
    val table = tmpDir("tbl") + "/t.parquet"
    val ck = tmpDir("ck")
    val b0 = (0L until 500L).map(i => (i, i * 1.0))
    val b1 = (500L until 800L).map(i => (i, i * 1.0))
    val b2 = (800L until 1000L).map(i => (i, i * 1.0))
    val t0 = System.currentTimeMillis() - 60000L
    stageFile(src, "b0.parquet", b0, t0)
    stageFile(src, "b1.parquet", b1, t0 + 2000L)
    stageFile(src, "b2.parquet", b2, t0 + 4000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = Streams.ingestAppend(stream, table, "ts", ck)
    q.awaitTermination()
    // content equals the batch twin
    val got = Tables.snapshot(spark, table).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == b0 ++ b1 ++ b2)
    // the ingested table is manifest-governed from birth: every file
    // tracked, batch-2/3 files registered as hot (foldable)
    val m = Tables.manifest(spark, table).getOrElse(
      sys.error("stream-ingested table must carry a manifest"))
    assert(m.files.count(_.loaded) >= 1, "first batch bootstraps the layout")
    assert(m.files.count(!_.loaded) >= 2, "later batches register as hot")
    // rangeScan prunes to the touched batch exactly like a batch-built
    // twin: a slice over b2's range must skip earlier batches' files
    val dir = new java.io.File(table).getParent
    val slice = Tables.rangeScan(spark, dir, "t", 800L, 1000L)
    assert(slice.count() == 200L)
    assert(slice.inputFiles.length < m.files.size,
      s"slice must prune (read ${slice.inputFiles.length} of ${m.files.size})")
    // the exactly-once commit log survived the run
    val committedRuns = q.recentProgress.length
    assert(committedRuns >= 1)
    // a RESTART on the same checkpoint with no new data applies nothing
    val q2 = Streams.ingestAppend(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src), table, "ts", ck)
    q2.awaitTermination()
    assert(Tables.snapshot(spark, table).count() == 1000L)
    // a restart with ONE new file appends exactly it, and the fold then
    // re-establishes the layout under the same lease machinery
    stageFile(src, "b3.parquet", (1000L until 1100L).map(i => (i, i * 1.0)),
      t0 + 6000L)
    val q3 = Streams.ingestAppend(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src), table, "ts", ck)
    q3.awaitTermination()
    assert(Tables.snapshot(spark, table).count() == 1100L)
    val (nb, na) = Tables.compactIncremental(spark, table, Seq(), "ts")
    assert(na <= nb)
    assert(Tables.snapshot(spark, table).count() == 1100L)
    assert(Tables.manifest(spark, table).get.files.forall(_.loaded))
  }

  test("retained ingest: rolling window via O(range) head deletion per batch") {
    val src = tmpDir("rsrc")
    val table = tmpDir("rtbl") + "/t.parquet"
    val ck = tmpDir("rck")
    // four batches of 100 rows, 0..399; retention keeps the last 150 ns
    val t0 = System.currentTimeMillis() - 60000L
    for (b <- 0 until 4)
      stageFile(src, s"b$b.parquet",
        (b * 100L until (b + 1) * 100L).map(i => (i, i * 1.0)), t0 + b * 2000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = Streams.ingestAppendRetained(stream, table, "ts", ck,
      retainNs = 150L, every = 1)
    q.awaitTermination()
    // final window: max ts = 399, cut = 249 → retained [249, 399]; the
    // per-batch deletes ran with earlier tails, so the surviving set is
    // exactly the LAST cut's window (later batches re-cut deeper)
    val got = Tables.snapshot(spark, table).select("ts").as[Long]
      .collect().sorted.toSeq
    assert(got == (249L to 399L),
      s"rolling window wrong: ${got.headOption}..${got.lastOption}, n=${got.size}")
    // the window's in-range batch files carried through retention: batch 3
    // (300..399) is wholly inside every cut — its file must never rewrite
    val m = Tables.manifest(spark, table).get
    assert(m.files.forall(e => e.minNs.isDefined && e.maxNs.isDefined))
    assert(m.files.exists(e => e.minNs.get == 300L && e.maxNs.get == 399L),
      s"batch-3's file should survive retention intact: ${m.files}")
    // a replay of the same source through the same checkpoint is a no-op
    val q2 = Streams.ingestAppendRetained(stream, table, "ts", ck,
      retainNs = 150L, every = 1)
    q2.awaitTermination()
    assert(Tables.snapshot(spark, table).count() == 151)
  }

  test("retained ingest on a TIMESTAMP ts column: head deletion stays O(range)") {
    // the retention delete's lower bound is tsLit(Long.MinValue) — on
    // timestamp-typed ts columns that literal's ns conversion overflowed
    // and the delete silently became a full-table rewrite (ADVICE r14,
    // medium). Assert the window lands AND the wholly-in-window batch
    // file carried untouched through every retention beat.
    val src = tmpDir("rtssrc")
    val table = tmpDir("rtstbl") + "/t.parquet"
    val ck = tmpDir("rtsck")
    val t0 = System.currentTimeMillis() - 60000L
    def stageTs(name: String, fromS: Long, untilS: Long, modMs: Long): Unit = {
      val stg = java.nio.file.Files.createTempDirectory("rtsstage").toString
      (fromS until untilS).map(i => (new java.sql.Timestamp(i * 1000L), i * 1.0))
        .toDF("ts", "v").coalesce(1).write.mode("overwrite").parquet(stg)
      val part = new java.io.File(stg).listFiles
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).get
      val dst = new java.io.File(src, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(modMs))
    }
    for (b <- 0 until 4) stageTs(s"b$b.parquet", b * 100L, (b + 1) * 100L,
      t0 + b * 2000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    // retain 150 seconds of wall time (the manifest scale is ns)
    val q = Streams.ingestAppendRetained(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src), table, "ts", ck, retainNs = 150L * 1000000000L)
    q.awaitTermination()
    val got = Tables.snapshot(spark, table).select("ts")
      .as[java.sql.Timestamp].collect().map(_.getTime / 1000L).sorted.toSeq
    assert(got == (249L to 399L),
      s"timestamp rolling window wrong: ${got.headOption}..${got.lastOption}, " +
        s"n=${got.size}")
    // batch 3 (seconds 300..399) sits wholly inside every cut — its file
    // must have carried through retention untouched (the O(range) claim)
    val m = Tables.manifest(spark, table).get
    assert(m.files.forall(e => e.minNs.isDefined && e.maxNs.isDefined))
    assert(m.files.exists(e => e.minNs.get == 300L * 1000000000L &&
      e.maxNs.get == 399L * 1000000000L),
      s"batch-3's file should survive timestamp retention intact: ${m.files}")
  }

  test("near-dup-filtered ingest: dedup at landing, exactly-once both tables") {
    val src = tmpDir("ndsrc")
    val docs = tmpDir("nddoc") + "/docs.parquet"
    val buckets = tmpDir("ndbkt") + "/buckets.parquet"
    val ck = tmpDir("ndck")
    val base = "the quick brown fox jumps over the lazy dog while the band plays on and the crowd cheers loudly"
    val other = "completely different content about distributed query engines and columnar storage formats at scale"
    val third = "a third unrelated document discussing minhash signatures locality sensitive hashing and jaccard similarity"
    def stage(name: String, rows: Seq[(Long, Long, String)], modMs: Long): Unit = {
      val stg = java.nio.file.Files.createTempDirectory("ndstage").toString
      rows.toDF("id", "ts", "text").coalesce(1).write.mode("overwrite").parquet(stg)
      val part = new java.io.File(stg).listFiles
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).get
      val dst = new java.io.File(src, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(modMs))
    }
    val t0 = System.currentTimeMillis() - 60000L
    // batch 0: A(1) and B(2) — unrelated, both land
    stage("b0.parquet", Seq((1L, 100L, base), (2L, 101L, other)), t0)
    // batch 1: A-near-dup(3, one word changed) drops against RETAINED A;
    // C(4) is new and lands
    stage("b1.parquet", Seq(
      (3L, 200L, base.replace("lazy", "sleepy")), (4L, 201L, third)), t0 + 2000L)
    // batch 2: in-batch exact dups 5/6 — components keep min id 5;
    // 7 is an exact dup of A and drops against the corpus
    val fourth = "yet another body of text on streaming retention windows checkpoint recovery and commit log replay"
    stage("b2.parquet", Seq(
      (5L, 300L, fourth), (6L, 301L, fourth),
      (7L, 302L, base)), t0 + 4000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = Streams.ingestDedupNearDup(stream, docs, buckets, "ts", ck,
      id = "id", text = "text")
    q.awaitTermination()
    val kept = Tables.snapshot(spark, docs).select("id").as[Long]
      .collect().sorted.toSeq
    assert(kept == Seq(1L, 2L, 4L, 5L),
      s"retained-representative dedup wrong: kept $kept")
    // the bucket table holds rows for exactly the retained docs
    val bids = Tables.snapshot(spark, buckets).select("id").as[Long]
      .collect().toSet
    assert(bids == Set(1L, 2L, 4L, 5L), s"bucket table ids: $bids")
    // both tables are manifest-governed from birth
    assert(Tables.manifest(spark, docs).isDefined)
    assert(Tables.manifest(spark, buckets).isDefined)
    // a full replay through the same checkpoint is a no-op on BOTH logs
    val q2 = Streams.ingestDedupNearDup(stream, docs, buckets, "ts", ck,
      id = "id", text = "text")
    q2.awaitTermination()
    assert(Tables.snapshot(spark, docs).count() == 4)
    assert(Tables.snapshot(spark, buckets).count() == bids.size * 8L)
  }

  test("landing dedup is VERIFIED: a band collision below minJaccard never drops a doc") {
    // round 16: a (band, bucket) collision is a CANDIDATE, not a verdict
    // — 8×2 banding s-curves at j≈0.3, so boilerplate-sharing docs
    // collide constantly while being genuinely distinct (measured on the
    // real sf0.01 corpus: 4644 collision pairs among 200 docs vs 3 at
    // j≥0.5, which chain-collapsed the unverified protocol to a handful
    // of retained docs). Verified landing keeps every sub-threshold doc;
    // minJaccard <= 0 pins the legacy drop-on-collision mode.
    def stored(i: Int): String = (0 until 12).map(w => s"a${w}b$i").mkString(" ")
    // variant shares the first 5 tokens (boilerplate), diverges after —
    // jaccard lands well under 0.5, asserted below as the precondition
    def variant(i: Int): String = ((0 until 5).map(w => s"a${w}b$i") ++
      (5 until 12).map(w => s"z${w}y$i")).mkString(" ")
    val storedDf = (0 until 40).map(i => (i.toLong, 100L + i, stored(i)))
      .toDF("id", "ts", "text")
    val batchDf = (0 until 40).map(i => (1000L + i, 500L + i, variant(i)))
      .toDF("id", "ts", "text")
    // precondition on the fixed corpus: NO cross pair reaches j=0.5
    val crossPairs = graft.dedup.Dedup.verifyJaccard(
      storedDf.select(col("id").as("id1"))
        .crossJoin(batchDf.select(col("id").as("id2"))),
      graft.dedup.Dedup.shingleSets(storedDf.unionByName(batchDf),
        "id", "text", 5), "id", 0.5)
    assert(crossPairs.isEmpty,
      "precondition: no cross pair may reach the verification threshold")
    def land(doc: String, bkt: String, minJ: Double, bid: Long,
             df: org.apache.spark.sql.DataFrame): Unit =
      Streams.dedupIngestBatch(df, doc, bkt, "ts", s"ck-v$minJ",
        "id", "text", 5, 8, 2, bid, minJaccard = minJ)
    // VERIFIED (default): every sub-threshold doc survives, both batches
    val dV = tmpDir("vfdoc") + "/docs.parquet"
    val bV = tmpDir("vfbkt") + "/buckets.parquet"
    land(dV, bV, 0.5, 0L, storedDf)
    land(dV, bV, 0.5, 1L, batchDf)
    assert(Tables.snapshot(spark, dV).count() == 80,
      "verified landing must keep every doc below minJaccard")
    // LEGACY (minJaccard <= 0): collisions against what batch 0 actually
    // RETAINED (its own in-batch dedup applies — these moderate texts
    // chain-collide among themselves too, the very behavior that made
    // the unverified protocol lossy) must still drop
    val dL = tmpDir("lgdoc") + "/docs.parquet"
    val bL = tmpDir("lgbkt") + "/buckets.parquet"
    land(dL, bL, 0.0, 0L, storedDf)
    val storedBuckets = Tables.snapshot(spark, bL)
      .select("band", "bucket").distinct()
    val bbb = graft.dedup.Dedup.bandBuckets(batchDf, "id", "text", 5, 8, 2)
    val colliding = bbb.join(storedBuckets, Seq("band", "bucket"), "left_semi")
      .select("id").distinct().as[Long].collect().toSet
    assert(colliding.nonEmpty,
      "precondition: the moderate variants must band-collide for this test to bite")
    land(dL, bL, 0.0, 1L, batchDf)
    val keptLegacy = Tables.snapshot(spark, dL).select("id").as[Long]
      .collect().toSet
    assert(colliding.forall(id => !keptLegacy(id)),
      "legacy mode must still drop on raw collision (the banding-aggressive contract)")
  }

  test("verified landing above the isin cap: the semi-join fetch still drops exactly") {
    // review r16: >1000 distinct candidates is the re-crawl steady
    // state — the jaccard tier must stay candidate-bounded (ts-slice +
    // broadcast semi-join) rather than revert to the O(corpus)
    // scan+shingle, and the drop decision must be identical to the
    // under-cap path. 1200 stored docs, all re-crawled as NEAR-dups
    // (one token changed — different fingerprint, so the tier-1 exact
    // shortcut cannot decide them and all 1200 reach the jaccard
    // fetch) → every re-crawl drops; a fresh doc in the same batch
    // survives.
    val docs = tmpDir("bigdoc") + "/docs.parquet"
    val buckets = tmpDir("bigbkt") + "/buckets.parquet"
    // hashed 16-hex tokens: essentially no shared shingles ACROSS docs
    // (digit-pattern tokens like g0h111/g0h1118 made ~50 accidental
    // in-batch near-dups, whose re-crawl variants then legitimately
    // survived against the cluster winners and broke the count oracle)
    def tok(i: Int, w: Int): String =
      java.lang.Long.toHexString(i * 1099511628211L + w * 2654435761L)
    def text(i: Int): String = (0 until 12).map(w => tok(i, w)).mkString(" ")
    def near(i: Int): String = ((0 until 11).map(w => tok(i, w)) :+
      s"zz${i}q").mkString(" ")
    val n = 1200
    Streams.dedupIngestBatch(
      (0 until n).map(i => (i.toLong, 100L + i, text(i)))
        .toDF("id", "ts", "text"),
      docs, buckets, "ts", "ck-big", "id", "text", 5, 8, 2, 0L)
    val stored = Tables.snapshot(spark, docs).count()
    assert(stored == n, s"precondition: the corpus must be collision-free: $stored")
    val recrawl = (0 until n).map(i => (10000L + i, 5000L + i, near(i))) ++
      Seq((99999L, 9000L, "a genuinely novel document about parquet " +
        "footer statistics and manifest sidecar pruning at scale"))
    Streams.dedupIngestBatch(recrawl.toDF("id", "ts", "text"),
      docs, buckets, "ts", "ck-big", "id", "text", 5, 8, 2, 1L)
    val kept = Tables.snapshot(spark, docs).select("id").as[Long].collect()
    assert(kept.length == stored + 1,
      s"over-cap re-crawl must drop every near-dup and keep the novel doc: ${kept.length}")
    assert(kept.contains(99999L))
  }

  test("verified landing above the candidate-collect cap: the frame path decides identically") {
    // r17: under graft.dedup.verify.collect.max the labeled candidate
    // set collects and the DRIVER decides; past it the frame-based
    // fallback takes over (persisted cand, exact span agg, broadcast
    // semi-join fetch). Pin the fallback by forcing the cap to 1: a
    // mixed batch — exact re-crawls (tier 1), true near-dups (tier 2
    // drop), sub-threshold collisions (tier 2 keep), a novel doc —
    // must decide exactly as the default-cap run of the SAME batch
    // against an identically-built corpus.
    def tok(i: Int, w: Int): String =
      java.lang.Long.toHexString(i * 1099511628211L + w * 2654435761L)
    def text(i: Int): String = (0 until 12).map(w => tok(i, w)).mkString(" ")
    def near(i: Int): String = ((0 until 11).map(w => tok(i, w)) :+
      s"zz${i}q").mkString(" ")
    // ~4/12 shared tokens → jaccard well under 0.5: collides in some
    // band occasionally but must NOT drop
    def far(i: Int): String = ((0 until 4).map(w => tok(i, w)) ++
      (0 until 8).map(w => s"fx${i}w$w")).mkString(" ")
    def run(tag: String, cap: Option[String]): Seq[Long] = {
      val docs = tmpDir(s"capdoc$tag") + "/docs.parquet"
      val buckets = tmpDir(s"capbkt$tag") + "/buckets.parquet"
      cap.foreach(c => sys.props("graft.dedup.verify.collect.max") = c)
      try {
        Streams.dedupIngestBatch(
          (0 until 40).map(i => (i.toLong, 100L + i, text(i)))
            .toDF("id", "ts", "text"),
          docs, buckets, "ts", s"ck-cap$tag", "id", "text", 5, 8, 2, 0L)
        val batch = (0 until 10).map(i => (1000L + i, 500L + i, text(i))) ++
          (10 until 20).map(i => (1000L + i, 500L + i, near(i))) ++
          (20 until 30).map(i => (1000L + i, 500L + i, far(i))) :+
          ((1999L, 599L, "a genuinely novel doc about range index pruning"))
        Streams.dedupIngestBatch(batch.toDF("id", "ts", "text"),
          docs, buckets, "ts", s"ck-cap$tag", "id", "text", 5, 8, 2, 1L)
        Tables.snapshot(spark, docs).select("id").as[Long].collect()
          .sorted.toSeq
      } finally cap.foreach(_ => sys.props.remove("graft.dedup.verify.collect.max"))
    }
    val defaultKept = run("d", None)
    val forcedKept = run("f", Some("1")) // every batch takes the frame path
    assert(defaultKept == forcedKept,
      s"the over-cap frame path must decide exactly like the driver path:\n" +
        s"  default: $defaultKept\n  forced:  $forcedKept")
    // and the decision itself is the verified contract: exact + near
    // re-crawls dropped, far collisions + the novel doc kept
    assert(forcedKept.count(_ >= 1000L) == 11,
      s"10 far docs + the novel doc must land: $forcedKept")
  }

  test("fingerprint tier: exact re-crawls drop via bucket rows; legacy layout stays on jaccard") {
    // r16 tier 1: bucket rows carry the content fingerprint, so an
    // exact-duplicate candidate is decided at the probe (the shortcut
    // can only agree with the jaccard tier — fp equality means
    // identical normalized text, j = 1 — so the pin here is the
    // LAYOUT contract: fp written on new tables, propagated through
    // fold/retention, and a bucket table CREATED without fp — the
    // pre-fp layout, pinned by graft.dedup.fp.enabled=false — keeps
    // its 4-column schema on later appends and still drops through
    // the jaccard tier; the zero-doc-I/O effect is the bench entry's
    // measured claim).
    def text(i: Int): String = (0 until 12).map(w => s"f${w}p$i").mkString(" ")
    def run(docs: String, buckets: String, bid: Long,
            rows: Seq[(Long, Long, String)]): Unit =
      Streams.dedupIngestBatch(rows.toDF("id", "ts", "text"), docs, buckets,
        "ts", "ck-fpt", "id", "text", 5, 8, 2, bid)
    // --- fp layout: written at creation, exact re-crawl drops ---
    val docs = tmpDir("fptdoc") + "/docs.parquet"
    val buckets = tmpDir("fptbkt") + "/buckets.parquet"
    run(docs, buckets, 0L, (0 until 30).map(i => (i.toLong, 100L + i, text(i))))
    assert(Tables.snapshot(spark, buckets).columns.contains("fp"),
      "new bucket tables must carry the fingerprint column")
    run(docs, buckets, 1L,
      (0 until 30).map(i => (1000L + i, 500L + i, text(i))))
    assert(Tables.snapshot(spark, docs).count() == 30,
      "exact re-crawl must drop every duplicate via the fingerprint tier")
    // the fold preserves the layout (fp survives the rewrite)
    Tables.compactIncremental(spark, buckets, Seq("band", "bucket"), "ts")
    assert(Tables.snapshot(spark, buckets).columns.contains("fp"),
      "the fold must carry the fingerprint column through")
    // --- legacy layout: no fp column, jaccard tier still correct ---
    val docsL = tmpDir("fpldoc") + "/docs.parquet"
    val bucketsL = tmpDir("fplbkt") + "/buckets.parquet"
    sys.props("graft.dedup.fp.enabled") = "false"
    try run(docsL, bucketsL, 0L,
      (0 until 30).map(i => (i.toLong, 100L + i, text(i))))
    finally sys.props.remove("graft.dedup.fp.enabled")
    assert(!Tables.snapshot(spark, bucketsL).columns.contains("fp"),
      "fp.enabled=false must pin the pre-fp 4-column layout")
    // later batches (prop back at default) must keep the legacy schema
    // and drop exact re-crawls through the jaccard tier
    run(docsL, bucketsL, 1L,
      (0 until 30).map(i => (1000L + i, 500L + i, text(i))))
    assert(!Tables.snapshot(spark, bucketsL).columns.contains("fp"),
      "appends must match the table's existing layout")
    assert(Tables.snapshot(spark, docsL).count() == 30,
      "legacy layout still drops exact re-crawls (jaccard tier)")
  }

  test("dedup-ingest corpus probe: broadcast flip, In pushdown, no corpus Exchange") {
    // VERDICT r13's scale-killer: the old probe scanned AND shuffled the
    // whole bucket table every micro-batch. The rewritten probe must
    // (a) push the batch's bucket set into the stored scan (PushedFilters
    //     carries an In on `bucket`),
    // (b) stream the stored side through a BroadcastHashJoin with ZERO
    //     Exchange between the scan and the join (the corpus never
    //     shuffles; only the tiny batch side broadcasts), and
    // (c) column-prune the scan to (band, bucket).
    val docs = tmpDir("pdoc") + "/docs.parquet"
    val buckets = tmpDir("pbkt") + "/buckets.parquet"
    // land a 60-doc corpus in two batches, then fold into the
    // (band, bucket)-clustered layout the probe's pushdown is built for
    def text(i: Int): String =
      (0 until 12).map(w => s"w${w}x$i").mkString(" ")
    def corpusBatch(bid: Long, from: Int, until: Int): Unit =
      Streams.dedupIngestBatch(
        (from until until).map(i => (i.toLong, 100L + i, text(i)))
          .toDF("id", "ts", "text"),
        docs, buckets, "ts", "ck-probe", "id", "text", 5, 8, 2, bid)
    corpusBatch(0L, 0, 30)
    corpusBatch(1L, 30, 60)
    Tables.compactIncremental(spark, buckets, Seq("band", "bucket"), "ts")
    // a fresh batch of 12 unseen docs; its probe must return EXACTLY what
    // the un-hinted reference shape computes (char-shingle texts overlap
    // incidentally, so equality against ground truth — not zero — is the
    // correctness claim: pushdown and broadcast must lose no hit)
    val batch = (100 until 112).map(i => (i.toLong, 500L + i, text(i)))
      .toDF("id", "ts", "text")
    val bb = graft.dedup.Dedup.bandBuckets(batch, "id", "text", 5, 8, 2)
      .cache()
    val ref = Tables.snapshot(spark, buckets).select("band", "bucket")
      .join(bb.select("band", "bucket").distinct(), Seq("band", "bucket"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    // AQE off so the executed plan is the plain tree the shape asserts
    // can walk (AQE only re-plans around the same join choice here)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // NOT cached: a cache would wrap the whole probe in an
    // InMemoryRelation and hide the join from the plan walk below
    val probe = Streams.probeStoredBuckets(spark, buckets, bb,
      Seq("band", "bucket"))
    try {
      val got = probe.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(got == ref,
        s"pruned+broadcast probe must equal the reference hit set: $got vs $ref")
      val plan = probe.queryExecution.executedPlan
      val planStr = plan.toString
      assert(planStr.contains("PushedFilters") && planStr.contains("In(bucket"),
        s"the batch bucket set must reach the stored scan as a pushed In:\n$planStr")
      assert(planStr.contains("ReadSchema") && !planStr.contains("\"id\""),
        "the probe scan must be column-pruned to (band, bucket)")
      // the stored side of the broadcast join must be Exchange-free: walk
      // to the BroadcastHashJoin and assert no shuffle below its STREAMED
      // (stored) child — the one subtree that is O(corpus)
      val bhj = plan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }.getOrElse(fail(s"probe must be a BroadcastHashJoin:\n$planStr"))
      val storedSide =
        if (bhj.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight)
          bhj.left else bhj.right
      val shuffles = storedSide.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"corpus side must never shuffle, found: $shuffles\n$planStr")
    } finally {
      bb.unpersist()
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
    // and the probe still FINDS real collisions (correctness of the flip):
    // re-feeding the RETAINED docs' own texts drops every one (each
    // re-fed copy shares all its buckets with its stored original; docs
    // dropped in-batch earlier may have disjoint buckets from their
    // transitive cluster rep, so only retained texts re-crawl cleanly)
    val retained = Tables.snapshot(spark, docs).select("id").as[Long]
      .collect().sorted
    val recrawl = retained.zipWithIndex.map { case (origId, k) =>
      (1000L + k, 600L + k, text(origId.toInt)) }.toSeq
    Streams.dedupIngestBatch(recrawl.toDF("id", "ts", "text"), docs, buckets,
      "ts", "ck-probe", "id", "text", 5, 8, 2, 2L)
    assert(Tables.snapshot(spark, docs).count() == retained.length,
      "re-crawled retained texts must drop entirely against the stored buckets")
  }

  test("dedup-ingest retention: expired docs stop suppressing; bucket table shrinks") {
    val docs = tmpDir("rdoc") + "/docs.parquet"
    val buckets = tmpDir("rbkt") + "/buckets.parquet"
    val a = "alpha document with a long and distinctive body of text about " +
      "retention windows and bucket expiry semantics in landing dedup"
    val b = "beta document entirely different covering broadcast joins " +
      "pushdown filters and row group statistics at scale"
    def run(bid: Long, rows: Seq[(Long, Long, String)], retainNs: Long): Unit =
      Streams.dedupIngestBatch(rows.toDF("id", "ts", "text"), docs, buckets,
        "ts", "ck-ret", "id", "text", 5, 8, 2, bid, retainNs = retainNs)
    // batch 0: A lands at ts 100 (no retention yet — window still open)
    run(0L, Seq((1L, 100L, a)), retainNs = 150L)
    // batch 1: a near-dup of A at ts 120 drops (A still retained at probe
    // time); B lands at 121 — the beat's cut (121-150 < 0) expires nothing
    run(1L, Seq((2L, 120L, a.replace("alpha", "alfa")), (3L, 121L, b)),
      retainNs = 150L)
    assert(Tables.snapshot(spark, docs).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L))
    // batch 2: C lands at ts 400 → cut = 400 - 150 = 250 → A (100) and
    // B (121) expire from BOTH tables on this beat
    val c = "gamma document about entirely unrelated matters such as " +
      "manifest sidecars lease heartbeats and generation installs"
    run(2L, Seq((4L, 400L, c)), retainNs = 150L)
    assert(Tables.snapshot(spark, docs).select("id").as[Long].collect().sorted
      .toSeq == Seq(4L), "the expired head must leave the doc table")
    assert(Tables.snapshot(spark, buckets).select("id").as[Long].collect()
      .toSet == Set(4L), "bucket rows must expire WITH their documents")
    // batch 3: a fresh near-dup of the EXPIRED A must now SURVIVE —
    // retained-representative semantics track the retained corpus, not
    // everything ever seen
    run(3L, Seq((5L, 450L, a.replace("alpha", "aleph"))), retainNs = 150L)
    assert(Tables.snapshot(spark, docs).select("id").as[Long].collect().sorted
      .toSeq == Seq(4L, 5L),
      "a near-dup of an EXPIRED doc must land after retention")
    // and the revived representative suppresses ITS near-dups again
    run(4L, Seq((6L, 460L, a.replace("alpha", "alef"))), retainNs = 150L)
    assert(Tables.snapshot(spark, docs).count() == 2)
  }

  test("bloom sidecar loss/corruption degrades the probe, never the answer") {
    // the correctness contract under test: the sidecar is an ACCELERATOR
    // — with it deleted or corrupted, the probe must fall back to the
    // full-scan path and still drop every re-crawled duplicate; and the
    // next batch with survivors must REBUILD a superset sidecar (the
    // bootstrap path over a non-empty table), never a batch-only subset
    val docs = tmpDir("bldoc") + "/docs.parquet"
    val buckets = tmpDir("blbkt") + "/buckets.parquet"
    def text(i: Int): String = (0 until 12).map(w => s"b${w}q$i").mkString(" ")
    def run(bid: Long, rows: Seq[(Long, Long, String)]): Unit =
      Streams.dedupIngestBatch(rows.toDF("id", "ts", "text"), docs, buckets,
        "ts", "ck-bloomloss", "id", "text", 5, 8, 2, bid)
    run(0L, (0 until 20).map(i => (i.toLong, 100L + i, text(i))))
    val retained = Tables.snapshot(spark, docs).count()
    val sidecar = new java.io.File(buckets + ".bloom")
    assert(sidecar.isFile, "the ingest must have installed a sidecar")
    // 1) sidecar DELETED: re-crawl of retained texts must still drop all
    assert(sidecar.delete())
    val retainedIds = Tables.snapshot(spark, docs).select("id").as[Long]
      .collect().sorted
    run(1L, retainedIds.zipWithIndex.map { case (orig, k) =>
      (1000L + k, 300L + k, text(orig.toInt)) }.toSeq)
    assert(Tables.snapshot(spark, docs).count() == retained,
      "without a sidecar the probe must fall back to the scan and drop all")
    // batch 1 had no survivors → no rebuild yet; 2) sidecar CORRUPTED:
    // land one NEW doc — its batch must both drop the re-crawled dups
    // and bootstrap-rebuild a sidecar covering the WHOLE stored table
    java.nio.file.Files.write(sidecar.toPath,
      "not a bloom".getBytes("UTF-8"))
    // the new doc uses a DISJOINT alphabet — text(9999) would share char
    // shingles with doc 9 ("b0q9" ⊂ "b0q9999") and near-dup it for real
    val newDoc = (0 until 12).map(w => s"z${w}k77").mkString(" ")
    run(2L, Seq((5000L, 500L, newDoc)) ++
      retainedIds.take(3).zipWithIndex.map { case (orig, k) =>
        (2000L + k, 501L + k, text(orig.toInt)) })
    assert(Tables.snapshot(spark, docs).count() == retained + 1,
      "corrupt sidecar: dups still drop, the new doc still lands")
    // the rebuilt sidecar must be a SUPERSET of every stored bucket
    val bf = graft.streaming.DedupBloom.load(spark, buckets)
      .getOrElse(fail("the survivor batch must have reinstalled a sidecar"))
    val storedBuckets = Tables.snapshot(spark, buckets).select("bucket")
      .as[Long].collect()
    assert(storedBuckets.forall(bf.mightContainLong),
      "the reinstalled sidecar must cover the whole stored table")
    // and the accelerated path works again: one more full re-crawl drops
    run(3L, retainedIds.zipWithIndex.map { case (orig, k) =>
      (3000L + k, 600L + k, text(orig.toInt)) }.toSeq)
    assert(Tables.snapshot(spark, docs).count() == retained + 1)
  }

  test("embedding dedup-ingest retention: expired vectors stop suppressing") {
    val docs = tmpDir("erdoc") + "/docs.parquet"
    val buckets = tmpDir("erbkt") + "/buckets.parquet"
    def v(xs: Double*): Seq[Double] = xs
    def run(bid: Long, rows: Seq[(Long, Long, Seq[Double])]): Unit =
      Streams.dedupIngestEmbeddingBatch(rows.toDF("id", "ts", "emb"),
        docs, buckets, "ts", "ck-eret", "id", "emb", dim = 4,
        minCos = 0.95, tables = 8, bits = 16, batchId = bid,
        retainNs = 150L)
    // batch 0: A lands; batch 1: A-near (cos≈0.9995) drops, B lands
    run(0L, Seq((1L, 100L, v(1, 0, 0, 0))))
    run(1L, Seq((2L, 120L, v(1, 0.03, 0, 0)), (3L, 121L, v(0, 1, 0, 0))))
    assert(Tables.snapshot(spark, docs).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L))
    // batch 2 at ts 400 → cut 250 → A and B expire from both tables
    run(2L, Seq((4L, 400L, v(0, 0, 1, 0))))
    assert(Tables.snapshot(spark, docs).select("id").as[Long].collect().sorted
      .toSeq == Seq(4L))
    assert(Tables.snapshot(spark, buckets).select("id").as[Long].collect()
      .toSet == Set(4L))
    // a near-dup of the EXPIRED A now survives (bloom still carries A's
    // stale bits — the exact-cosine verify over the LIVE tables is what
    // decides, so stale sidecar bits cannot suppress)
    run(3L, Seq((5L, 450L, v(1, 0.02, 0, 0))))
    assert(Tables.snapshot(spark, docs).select("id").as[Long].collect().sorted
      .toSeq == Seq(4L, 5L),
      "a near-dup of an expired embedding must land after retention")
  }

  test("dedup-ingest retention: crash inside either delete replays consistently") {
    // extend the two-table crash matrix to the retention beat: the beat
    // deletes BUCKETS first then DOCS, each through deleteRange's staged
    // install (crash seam del:staged, occurrence 1 = bucket table,
    // 2 = doc table). A crash inside either delete must converge on
    // replay: batch skipped (committed), retention re-runs, both tables
    // agree with the no-crash run.
    val a = "delta document with a distinctive long body about staged " +
      "generation installs and crash recovery protocols in the engine"
    val b = "epsilon document on a different subject entirely covering " +
      "column pruning adaptive execution and skew handling"
    for ((tag, nth) <- Seq(("del:staged", 1), ("del:staged", 2))) {
      val docs = tmpDir("rcdoc") + "/docs.parquet"
      val buckets = tmpDir("rcbkt") + "/buckets.parquet"
      def run(bid: Long, rows: Seq[(Long, Long, String)]): Unit =
        Streams.dedupIngestBatch(rows.toDF("id", "ts", "text"), docs, buckets,
          "ts", "ck-retc", "id", "text", 5, 8, 2, bid, retainNs = 150L)
      run(0L, Seq((1L, 100L, a)))
      run(1L, Seq((2L, 110L, b)))
      // batch 2 advances the tail to 400 → cut 250 → both stored docs
      // expire; the injected crash hits one of the two deletes mid-install
      val b2 = Seq((3L, 400L, "zeta content about watermarks and windows " +
        "with plenty of unique words to shingle against"))
      val crashed = withCrash(tag, nth)(run(2L, b2))
      run(2L, b2) // the replay: append skipped, retention re-runs
      val kept = Tables.snapshot(spark, docs).select("id").as[Long]
        .collect().sorted.toSeq
      assert(kept == Seq(3L),
        s"($tag#$nth crashed=$crashed): doc table wrong after replay: $kept")
      val bkt = Tables.snapshot(spark, buckets).select("id").as[Long]
        .collect().toSet
      assert(bkt == Set(3L),
        s"($tag#$nth): bucket table diverged after replay: $bkt")
    }
  }

  test("embedding dedup ingest: cosine-verified drop at landing, replay no-op") {
    val docs = tmpDir("edoc") + "/docs.parquet"
    val buckets = tmpDir("ebkt") + "/buckets.parquet"
    def v(xs: Double*): Seq[Double] = xs
    def runBatch(bid: Long, rows: Seq[(Long, Long, Seq[Double])]): Unit =
      Streams.dedupIngestEmbeddingBatch(rows.toDF("id", "ts", "emb"),
        docs, buckets, "ts", "ck-emb", "id", "emb", dim = 4,
        minCos = 0.95, tables = 8, bits = 16, batchId = bid)
    // batch 0: two orthogonal embeddings — both land
    runBatch(0L, Seq((1L, 100L, v(1, 0, 0, 0)), (2L, 101L, v(0, 1, 0, 0))))
    // batch 1: 3 ≈ doc 1 (cos ≈ 0.9995 → drops); 4 is a bucket-collision
    // candidate of NOTHING above minCos (cos(4,1)=0.71) and lands; the
    // in-batch pair 5/6 are near-identical — min id 5 survives
    runBatch(1L, Seq(
      (3L, 200L, v(1, 0.03, 0, 0)),
      (4L, 201L, v(1, 1, 0, 0)),
      (5L, 202L, v(0, 0, 1, 0.01)),
      (6L, 203L, v(0, 0, 1.02, 0.01))))
    val kept = Tables.snapshot(spark, docs).select("id").as[Long]
      .collect().sorted.toSeq
    assert(kept == Seq(1L, 2L, 4L, 5L), s"semantic dedup at landing wrong: $kept")
    // zero-norm embeddings bucket nowhere and always survive
    runBatch(2L, Seq((7L, 300L, v(0, 0, 0, 0))))
    assert(Tables.snapshot(spark, docs).count() == 5)
    // replaying both batches through the same stream key is a no-op
    runBatch(1L, Seq((3L, 200L, v(1, 0.03, 0, 0))))
    runBatch(2L, Seq((7L, 300L, v(0, 0, 0, 0))))
    assert(Tables.snapshot(spark, docs).count() == 5)
    val bids = Tables.snapshot(spark, buckets).select("id").as[Long]
      .collect().toSet
    assert(bids == Set(1L, 2L, 4L, 5L),
      s"bucket table must hold retained non-zero-norm docs only: $bids")
  }

  test("embedding landing above the candidate-collect cap: the frame path decides identically") {
    // r17: the embedding twin gets the text twin's driver-decided probe;
    // forcing the collect cap to 1 routes every batch down the over-cap
    // frame path, which must land exactly the same set. The constructed
    // batch is fully deterministic whatever the (deterministic) RHP
    // collisions are: exact copy -> fp tier, scaled copy -> cosine 1 at
    // tier 2, sub-threshold vectors -> kept by the exact verify, an
    // in-batch exact pair -> min id.
    def run(tag: String, cap: Option[String]): Seq[Long] = {
      val docs = tmpDir(s"ecapd$tag") + "/docs.parquet"
      val buckets = tmpDir(s"ecapb$tag") + "/buckets.parquet"
      cap.foreach(c => sys.props("graft.dedup.verify.collect.max") = c)
      try {
        def land(bid: Long, rows: Seq[(Long, Long, Seq[Double])]): Unit =
          Streams.dedupIngestEmbeddingBatch(rows.toDF("id", "ts", "emb"),
            docs, buckets, "ts", s"ck-ecap$tag", "id", "emb", dim = 4,
            minCos = 0.95, tables = 8, bits = 16, batchId = bid)
        land(0L, Seq(
          (0L, 100L, Seq(1.0, 0.0, 0.0, 0.0)),
          (1L, 101L, Seq(0.0, 1.0, 0.0, 0.0)),
          (2L, 102L, Seq(0.0, 0.0, 1.0, 0.0)),
          (3L, 103L, Seq(0.0, 0.0, 0.0, 1.0))))
        land(1L, Seq(
          (10L, 200L, Seq(1.0, 0.0, 0.0, 0.0)), // exact re-upload: fp tier
          (11L, 201L, Seq(0.0, 2.0, 0.0, 0.0)), // scaled: cos 1, fp differs
          (12L, 202L, Seq(1.0, 0.5, 0.0, 0.0)), // cos .894 vs v0: kept
          (13L, 203L, Seq(0.0, 0.0, 1.0, 1.0)), // cos .707 vs v2: kept
          (14L, 204L, Seq(0.5, 0.5, 0.5, 0.5)), // in-batch pair: min id
          (15L, 205L, Seq(0.5, 0.5, 0.5, 0.5)))) //  ... component loser
        Tables.snapshot(spark, docs).select("id").as[Long].collect()
          .sorted.toSeq
      } finally cap.foreach(_ =>
        sys.props.remove("graft.dedup.verify.collect.max"))
    }
    val defaultKept = run("d", None)
    val forcedKept = run("f", Some("1"))
    assert(defaultKept == forcedKept,
      s"the over-cap frame path must decide exactly like the driver " +
        s"path:\n  default: $defaultKept\n  forced:  $forcedKept")
    assert(defaultKept == Seq(0L, 1L, 2L, 3L, 12L, 13L, 14L))
  }

  test("embedding fingerprint tier: exact re-uploads drop with zero doc-table scans") {
    // VERDICT r16 item 5: the text twin's r16 fingerprint tier, mirrored —
    // bucket rows carry xxhash64 over the cast vector, so an exact
    // re-upload of an identical embedding (the embedding re-crawl steady
    // state) is decided at the probe and the doc table's vectors are
    // NEVER read. Witness: a query-execution listener collecting every
    // FileSourceScan's root paths (AQE-recursive), validated by a
    // positive control (a near-but-not-exact re-upload MUST scan the doc
    // table for its cosine verify) before the zero-scan assert.
    val docs = tmpDir("efpdoc") + "/docs.parquet"
    val buckets = tmpDir("efpbkt") + "/buckets.parquet"
    def vec(i: Int): Seq[Double] =
      Seq(1.0 + i, 2.0 * i + 0.5, 3.0 - i, 0.25 * i + 1)
    def runBatch(bid: Long, rows: Seq[(Long, Long, Seq[Double])]): Unit =
      Streams.dedupIngestEmbeddingBatch(rows.toDF("id", "ts", "emb"),
        docs, buckets, "ts", "ck-efp", "id", "emb", dim = 4,
        minCos = 0.95, tables = 8, bits = 16, batchId = bid)
    runBatch(0L, (0 until 20).map(i => (i.toLong, 100L + i, vec(i))))
    assert(Tables.snapshot(spark, buckets).columns.contains("fp"),
      "new embedding bucket tables must carry the vector fingerprint")
    val docQualified = spark.sparkContext.hadoopConfiguration
    val docRoot = new org.apache.hadoop.fs.Path(docs)
      .getFileSystem(docQualified).makeQualified(
        new org.apache.hadoop.fs.Path(docs)).toString
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def collectScans(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          collectScans(a.executedPlan)
        // query stages are leaves: a scan under an exchange sits in q.plan
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          collectScans(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.foreach(r => scanned.add(r.toString))
        case _ => ()
      }
      p.children.foreach(collectScans)
      p.subqueries.foreach(collectScans)
    }
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        scala.util.Try(collectScans(qe.executedPlan))
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ex: Exception): Unit = ()
    }
    def docScans(): Int = {
      // the listener bus is async — give it a bounded drain window
      Thread.sleep(1500)
      scanned.toArray(Array.empty[String]).count(_.startsWith(docRoot))
    }
    // the re-upload set is computed BEFORE the listener registers — the
    // test's own snapshot scan must not pollute the witness window
    val retained = Tables.snapshot(spark, docs)
      .select("id").as[Long].collect().sorted
    spark.listenerManager.register(ql)
    try {
      // positive control: id 1000 collides with stored vec(3) (same
      // direction, different magnitude would hash identically — so use a
      // small perturbation: same buckets with high probability, NOT
      // byte-identical) → tier 2 must fetch vectors from the doc table
      runBatch(1L, Seq((1000L, 500L,
        vec(3).map(_ * 1.000001)))) // cos ≈ 1, bytes differ → cosine tier
      assert(docScans() > 0,
        "listener wiring: the cosine verify must register a doc-table scan")
      scanned.clear()
      // exact re-uploads of ALL retained vectors: every candidate is
      // decided by the fingerprint tier — zero doc-table scans
      runBatch(2L, retained.toSeq.zipWithIndex.map { case (orig, k) =>
        (2000L + k, 600L + k, vec(orig.toInt)) })
      assert(docScans() == 0,
        s"exact re-uploads must drop at the fingerprint tier with zero " +
          s"doc-table I/O; scanned: ${scanned.toArray.toSeq}")
    } finally spark.listenerManager.unregister(ql)
    // semantics: nothing from the re-upload batch landed
    assert(Tables.snapshot(spark, docs).select("id").as[Long]
      .collect().forall(_ < 2000L),
      "every exact re-upload must have been dropped")
    // legacy layout parity: a pre-fp table keeps its 4-column schema and
    // still drops exact re-uploads through the cosine tier
    val docsL = tmpDir("efpldoc") + "/docs.parquet"
    val bucketsL = tmpDir("efplbkt") + "/buckets.parquet"
    def runL(bid: Long, rows: Seq[(Long, Long, Seq[Double])]): Unit =
      Streams.dedupIngestEmbeddingBatch(rows.toDF("id", "ts", "emb"),
        docsL, bucketsL, "ts", "ck-efpl", "id", "emb", dim = 4,
        minCos = 0.95, tables = 8, bits = 16, batchId = bid)
    sys.props("graft.dedup.fp.enabled") = "false"
    try runL(0L, (0 until 10).map(i => (i.toLong, 100L + i, vec(i))))
    finally sys.props.remove("graft.dedup.fp.enabled")
    assert(!Tables.snapshot(spark, bucketsL).columns.contains("fp"),
      "fp.enabled=false must pin the 4-column embedding bucket layout")
    // the vec() family is deliberately near-parallel at larger i, so
    // in-batch cosine dedup collapses batch 0 to its cluster reps — the
    // legacy pin is that a re-upload of the RETAINED vectors adds
    // nothing (a dropped doc's re-upload may legitimately land:
    // suppression is against retained representatives only)
    val retainedL = Tables.snapshot(spark, docsL)
      .select("id").as[Long].collect().sorted
    assert(retainedL.nonEmpty)
    runL(1L, retainedL.toSeq.zipWithIndex.map { case (orig, k) =>
      (3000L + k, 500L + k, vec(orig.toInt)) })
    assert(!Tables.snapshot(spark, bucketsL).columns.contains("fp"),
      "appends must match the table's existing layout (no widening)")
    assert(Tables.snapshot(spark, docsL).count() == retainedL.length.toLong,
      "legacy layout still drops exact re-uploads (cosine tier)")
  }

  test("near-dup ingest two-table protocol: crash at any point replays consistently") {
    // the claim under test: survivors are a pure function of (batch,
    // pre-batch bucket state), the doc append commits first — so a crash
    // ANYWHERE in the two-append sequence converges on replay with no
    // duplicate and no lost doc/bucket row. Crash points: each durable
    // step of the doc append's install — marker, move, manifest, commit
    // record (occurrence 1 of each tag) — and of the bucket append's
    // (occurrence 2).
    val base = "the five boxing wizards jump quickly over the glass of sparkling water near the pier"
    val other = "entirely unrelated prose describing adaptive query execution and shuffle partition coalescing"
    for ((tag, nth) <- Seq(("append:gen-marker", 1), ("append:gen-moved", 1),
        ("append:gen-manifest", 1), ("stream:committed", 1),
        ("append:gen-marker", 2), ("append:gen-moved", 2),
        ("append:gen-manifest", 2), ("stream:committed", 2))) {
      val docs = tmpDir(s"cdoc") + "/docs.parquet"
      val buckets = tmpDir(s"cbkt") + "/buckets.parquet"
      def runBatch(bid: Long, rows: Seq[(Long, Long, String)]): Unit =
        Streams.dedupIngestBatch(rows.toDF("id", "ts", "text"), docs, buckets,
          "ts", "ck-crash", "id", "text", 5, 8, 2, bid)
      runBatch(0L, Seq((1L, 100L, base), (2L, 101L, other)))
      // batch 1: a near-dup of doc 1 (drops) + a genuinely new doc 4
      // (lands) — crashed at (tag, nth), then replayed
      val b1 = Seq((3L, 200L, base.replace("quickly", "slowly")),
        (4L, 201L, "a completely fresh topic covering parquet footers " +
          "row group statistics and manifest sidecar pruning"))
      val crashed = withCrash(tag, nth)(runBatch(1L, b1))
      runBatch(1L, b1) // the replay (also runs entry recovery)
      val kept = Tables.snapshot(spark, docs).select("id").as[Long]
        .collect().sorted.toSeq
      assert(kept == Seq(1L, 2L, 4L),
        s"($tag#$nth crashed=$crashed): docs wrong after replay: $kept")
      val bkt = Tables.snapshot(spark, buckets)
        .select("id").as[Long].collect().toSet
      assert(bkt == Set(1L, 2L, 4L),
        s"($tag#$nth): bucket table diverged from docs: $bkt")
      assert(Tables.snapshot(spark, buckets).count() == 24,
        s"($tag#$nth): duplicate bucket rows after replay")
    }
  }

  test("a first batch killed after its install marker leaves no table dir; the replay converges") {
    // regression (fresh-seed fuzz find, seed 115579774666952): the bucket
    // table's FIRST install, killed right after its marker, once left an
    // empty table dir behind — and the replay's probe of the bucket table
    // failed to infer a schema from it. The dir is created only after
    // the marker now, and the next op's entry rolls the batch forward
    val base = "the five boxing wizards jump quickly over the glass of sparkling water near the pier"
    val other = "entirely unrelated prose describing adaptive query execution and shuffle partition coalescing"
    val docs = tmpDir("c0doc") + "/docs.parquet"
    val buckets = tmpDir("c0bkt") + "/buckets.parquet"
    def runBatch(): Unit =
      Streams.dedupIngestBatch(Seq((1L, 100L, base), (2L, 101L, other))
        .toDF("id", "ts", "text"), docs, buckets, "ts", "ck-first", "id",
        "text", 5, 8, 2, 0L)
    assert(withCrash("append:gen-marker", 2)(runBatch()))
    assert(!new java.io.File(buckets).exists, "no table dir before the first file")
    runBatch()
    assert(Tables.snapshot(spark, docs).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    assert(Tables.snapshot(spark, buckets).select("id").as[Long].collect().toSet ==
      Set(1L, 2L))
    assert(Tables.snapshot(spark, buckets).count() == 16)
  }

  test("embedding dedup ingest: crash at any point replays consistently") {
    // the EMBEDDING variant has one more determinism dependency than the
    // text one: the stored-corpus verify reads doc-table VECTORS, and a
    // crash between the doc and bucket appends leaves the batch's own
    // survivors in docPath at replay time — they must stay inert
    // (candidates come only from the pre-batch BUCKET table)
    def v(xs: Double*): Seq[Double] = xs
    for ((tag, nth) <- Seq(("append:gen-marker", 1), ("append:gen-moved", 1),
        ("append:gen-manifest", 1), ("stream:committed", 1),
        ("append:gen-marker", 2), ("append:gen-moved", 2),
        ("append:gen-manifest", 2), ("stream:committed", 2))) {
      val docs = tmpDir("cedoc") + "/docs.parquet"
      val buckets = tmpDir("cebkt") + "/buckets.parquet"
      def runBatch(bid: Long, rows: Seq[(Long, Long, Seq[Double])]): Unit =
        Streams.dedupIngestEmbeddingBatch(rows.toDF("id", "ts", "emb"),
          docs, buckets, "ts", "ck-ecrash", "id", "emb", dim = 4,
          minCos = 0.95, tables = 8, bits = 16, batchId = bid)
      runBatch(0L, Seq((1L, 100L, v(1, 0, 0, 0)), (2L, 101L, v(0, 1, 0, 0))))
      // batch 1: 3 ≈ doc 1 (drops against the corpus), 4 is new (lands)
      val b1 = Seq((3L, 200L, v(1, 0.03, 0, 0)), (4L, 201L, v(0, 0, 1, 0)))
      val crashed = withCrash(tag, nth)(runBatch(1L, b1))
      runBatch(1L, b1)
      val kept = Tables.snapshot(spark, docs).select("id").as[Long]
        .collect().sorted.toSeq
      assert(kept == Seq(1L, 2L, 4L),
        s"($tag#$nth crashed=$crashed): docs wrong after replay: $kept")
      val bkt = Tables.snapshot(spark, buckets)
        .select("id").as[Long].collect().toSet
      assert(bkt == Set(1L, 2L, 4L),
        s"($tag#$nth): bucket table diverged from docs: $bkt")
      assert(Tables.snapshot(spark, buckets).count() == 24,
        s"($tag#$nth): duplicate bucket rows after replay")
    }
  }

  test("a replayed batch id is skipped (checkpoint-recovery exactly-once)") {
    val table = tmpDir("replay") + "/t.parquet"
    val b0 = (0L until 100L).map(i => (i, i * 1.0)).toDF("ts", "v")
    val b1 = (100L until 150L).map(i => (i, i * 1.0)).toDF("ts", "v")
    assert(Tables.appendStreamBatch(b0, table, "ts", "ckA", 0L))
    assert(Tables.appendStreamBatch(b1, table, "ts", "ckA", 1L))
    // the recovery replay: same stream, same batch id — skipped
    assert(!Tables.appendStreamBatch(b1, table, "ts", "ckA", 1L))
    assert(!Tables.appendStreamBatch(b0, table, "ts", "ckA", 0L))
    assert(Tables.snapshot(spark, table).count() == 150L)
    // a DIFFERENT stream's ids are independent (fresh checkpoint identity)
    // — but the ordered-ingest contract still rejects its out-of-order data
    val e = intercept[IllegalStateException] {
      Tables.appendStreamBatch(b0, table, "ts", "ckB", 0L)
    }
    assert(e.getMessage.contains("out-of-order"))
  }

  /** The crash-point fuzzes' seed: `fixed` by default (deterministic
    * CI); `-Dgraft.soak.seed=now` draws a fresh one and `=<n>` replays a
    * logged one, as in SoakSpec.
    */
  private def soakSeed(fixed: Long): Long = {
    val seed = sys.props.get("graft.soak.seed") match {
      case Some("now") => System.nanoTime()
      case Some(v) => v.toLong
      case None => fixed
    }
    info(s"soak seed: $seed")
    seed
  }

  /** Arm Tables.crashHook to throw at the nth firing of `tag` (same seam
    * as TablesSpec's fuzz); returns whether the injected crash fired.
    */
  private def withCrash(tag: String, nth: Int)(op: => Unit): Boolean = {
    val counts = scala.collection.mutable.Map[String, Int]()
    Tables.crashHook = Some { t =>
      val c = counts.updateWith(t)(o => Some(o.getOrElse(0) + 1)).get
      if (t == tag && c == nth)
        throw new RuntimeException(s"injected crash at $t#$c")
    }
    try { op; false }
    catch {
      case e: RuntimeException
        if e.getMessage != null && e.getMessage.startsWith("injected crash") => true
    }
    finally Tables.crashHook = None
  }

  test("crash between append and commit record: the batch rolls forward, lands once") {
    val table = tmpDir("crash1") + "/t.parquet"
    val b0 = (0L until 100L).map(i => (i, i * 1.0)).toDF("ts", "v")
    val b1 = (100L until 160L).map(i => (i, i * 1.0)).toDF("ts", "v")
    assert(Tables.appendStreamBatch(b0, table, "ts", "ck", 0L))
    // crash AFTER the batch's data+manifest landed, BEFORE the commit
    // record — a replay that re-appended would double every b1 row
    assert(withCrash("append:gen-manifest", 1) {
      Tables.appendStreamBatch(b1, table, "ts", "ck", 1L)
    })
    // the replay (what the restarted stream delivers) rolls the attempt
    // forward at its entry — commit record included — and is skipped
    assert(!Tables.appendStreamBatch(b1, table, "ts", "ck", 1L))
    val got = Tables.snapshot(spark, table).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == (0L until 160L).map(i => (i, i * 1.0)),
      "crash replay must not duplicate or lose rows")
    val m = Tables.manifest(spark, table).get
    assert(m.files.map(_.name).toSet ==
      new java.io.File(table).listFiles.filter(f => f.isFile &&
        f.getName.endsWith(".parquet") && !f.getName.startsWith(".")
        && !f.getName.startsWith("_")).map(_.getName).toSet,
      "manifest must track exactly the live files after roll-forward+replay")
  }

  test("crash after the pending record, before any data: replay lands once") {
    val table = tmpDir("crash2") + "/t.parquet"
    val b0 = (0L until 50L).map(i => (i, i * 1.0)).toDF("ts", "v")
    assert(withCrash("append:staged", 1) {
      Tables.appendStreamBatch(b0, table, "ts", "ck", 0L)
    })
    assert(Tables.appendStreamBatch(b0, table, "ts", "ck", 0L))
    assert(Tables.snapshot(spark, table).count() == 50L)
    // maintenance after a batch crashed past its marker rolls it FORWARD
    // before folding — the batch is committed, commit record included
    val b1 = (50L until 90L).map(i => (i, i * 1.0)).toDF("ts", "v")
    assert(withCrash("append:gen-manifest", 1) {
      Tables.appendStreamBatch(b1, table, "ts", "ck", 1L)
    })
    Tables.compactIncremental(spark, table, Seq(), "ts")
    assert(Tables.snapshot(spark, table).count() == 90L,
      "maintenance must fold the rolled-forward batch")
    // the replay is then skipped (the batch id was committed)
    assert(!Tables.appendStreamBatch(b1, table, "ts", "ck", 1L))
    assert(Tables.snapshot(spark, table).count() == 90L)
  }

  test("crash inside the append body (data written, manifest not extended): lands once") {
    // deeper than the manifest: the kill happens INSIDE the install,
    // after the batch's data files moved in but before the manifest
    // extension — the replay's entry must roll the batch forward (manifest
    // AND commit record) and then skip it
    val table = tmpDir("crash3") + "/t.parquet"
    val b0 = (0L until 80L).map(i => (i, i * 1.0)).toDF("ts", "v")
    val b1 = (80L until 120L).map(i => (i, i * 1.0)).toDF("ts", "v")
    assert(Tables.appendStreamBatch(b0, table, "ts", "ck", 0L))
    assert(withCrash("append:gen-moved", 1) {
      Tables.appendStreamBatch(b1, table, "ts", "ck", 1L)
    })
    assert(!Tables.appendStreamBatch(b1, table, "ts", "ck", 1L))
    assert(Tables.snapshot(spark, table).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq ==
      (0L until 120L).map(i => (i, i * 1.0)),
      "in-append crash replay must not duplicate or lose rows")
    val m = Tables.manifest(spark, table).get
    assert(m.files.map(_.name).toSet ==
      new java.io.File(table).listFiles.filter(f => f.isFile &&
        f.getName.endsWith(".parquet") && !f.getName.startsWith(".")
        && !f.getName.startsWith("_")).map(_.getName).toSet)
  }

  test("stream batch over a crashed fold: recovery precedes the rollback listing") {
    // a compactBucketed killed after its commit marker leaves a
    // roll-forward obligation; a stream batch arriving next must recover
    // it BEFORE snapshotting the pending pre-listing — otherwise a crash
    // after the append would roll back the RECOVERED layout's files as
    // "extras" (folded hot data silently lost)
    val t = "stream_bkt_recfold"
    Tables.loadBucketed((0L until 90L).map(i => (i % 3, i, i * 1.0))
      .toDF("k", "ts", "v"), t, Seq("k"), 3, sortCols = Seq("ts"))
    Tables.appendBucketed((90L until 120L).map(i => (i % 3, i, i * 1.0))
      .toDF("k", "ts", "v"), t)
    assert(withCrash("bkt:marker", 1) { Tables.compactBucketed(spark, t) })
    // stream batch 0 lands over the crashed-fold state, and ITSELF crashes
    // right after its append — the rollback must only remove batch 0's files
    val b0 = (120L until 150L).map(i => (i % 3, i, i * 1.0)).toDF("k", "ts", "v")
    assert(withCrash("stream:appended", 1) {
      Tables.appendStreamBatchBucketed(b0, t, "ckf", 0L)
    })
    assert(Tables.appendStreamBatchBucketed(b0, t, "ckf", 0L))
    assert(spark.table(t).select("ts").as[Long].collect().toSet ==
      (0L until 150L).toSet,
      "rolled-forward fold data must survive the stream batch's crash replay")
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("bucketed stream ingest end-to-end: writeStream through the catalog spec") {
    val t = "stream_bkt_e2e"
    Tables.loadBucketed((0L until 100L).map(i => (i % 4, i, i * 1.0))
      .toDF("k", "ts", "v"), t, Seq("k"), 4, sortCols = Seq("ts"))
    val src = tmpDir("bsrc")
    val ck = tmpDir("bck")
    val t0 = System.currentTimeMillis() - 60000L
    stageFile(src, "b0.parquet",
      (100L until 160L).map(i => (i, i * 1.0)), t0) // (ts, v) staged...
    // the staged frame must carry the bucket key too — restage properly
    new java.io.File(src, "b0.parquet").delete()
    locally {
      val stage = java.nio.file.Files.createTempDirectory("bstage").toString
      (100L until 160L).map(i => (i % 4, i, i * 1.0)).toDF("k", "ts", "v")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).get
      val dst = new java.io.File(src, "b0.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(t0))
    }
    val schema = spark.table(t).schema
    val q = Streams.ingestAppendBucketed(
      spark.readStream.schema(schema).parquet(src), t, ck)
    q.awaitTermination()
    assert(spark.table(t).count() == 160L)
    // restart on the same checkpoint with nothing new: no duplication
    val q2 = Streams.ingestAppendBucketed(
      spark.readStream.schema(schema).parquet(src), t, ck)
    q2.awaitTermination()
    assert(spark.table(t).count() == 160L)
    // the streamed batch folds like any append
    val (nb, na) = Tables.compactBucketed(spark, t)
    assert(na <= nb && na <= 4)
    assert(spark.table(t).select("ts").as[Long].collect().toSet ==
      (0L until 160L).toSet)
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("bucketed stream ingest: exactly-once through the catalog spec") {
    val t = "stream_bkt_ingest"
    Tables.loadBucketed((0L until 200L).map(i => (i % 8, i, i * 1.0))
      .toDF("k", "ts", "v"), t, Seq("k"), 4, sortCols = Seq("ts"))
    val b1 = (200L until 260L).map(i => (i % 8, i, i * 1.0)).toDF("k", "ts", "v")
    val b2 = (260L until 300L).map(i => (i % 8, i, i * 1.0)).toDF("k", "ts", "v")
    assert(Tables.appendStreamBatchBucketed(b1, t, "ckb", 0L))
    assert(!Tables.appendStreamBatchBucketed(b1, t, "ckb", 0L)) // replay skip
    // crash between append and commit: replay rolls back and lands once
    assert(withCrash("stream:appended", 1) {
      Tables.appendStreamBatchBucketed(b2, t, "ckb", 1L)
    })
    assert(Tables.appendStreamBatchBucketed(b2, t, "ckb", 1L))
    assert(spark.table(t).count() == 300L)
    // the fold restores one file per bucket over the streamed batches
    val (nb, na) = Tables.compactBucketed(spark, t)
    assert(na <= nb && na <= 4)
    assert(spark.table(t).count() == 300L)
    val got = spark.table(t).select("ts").as[Long].collect().toSet
    assert(got == (0L until 300L).toSet)
    // the stream-commit log SURVIVES the fold's dir swap: a checkpoint
    // replay arriving after maintenance must still be skipped, never
    // re-appended (the high-water mark travels with the layout)
    assert(!Tables.appendStreamBatchBucketed(b2, t, "ckb", 1L),
      "post-fold replay must be skipped — the commit log was lost in the swap")
    assert(spark.table(t).count() == 300L)
    // ... and survives the reader-isolated generation flip the same way
    assert(Tables.appendStreamBatchBucketed(
      (300L until 320L).map(i => (i % 8, i, i * 1.0)).toDF("k", "ts", "v"),
      t, "ckb", 2L))
    Tables.compactBucketedIsolated(spark, t)
    assert(!Tables.appendStreamBatchBucketed(
      (300L until 320L).map(i => (i % 8, i, i * 1.0)).toDF("k", "ts", "v"),
      t, "ckb", 2L),
      "post-flip replay must be skipped — the commit log stayed in the retired generation")
    assert(spark.table(t).count() == 320L)
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("an empty micro-batch commits cleanly (no marker or staging leak)") {
    // empty trigger batches are routine in streaming; the staged protocol
    // must treat them as a normal commit: the high-water mark advances,
    // nothing lands, no sidecar artifacts leak, and the next real batch
    // appends normally
    val table = tmpDir("emptyb") + "/t.parquet"
    val b0 = (0L until 50L).map(i => (i, i * 1.0)).toDF("ts", "v")
    assert(Tables.appendStreamBatch(b0, table, "ts", "ck", 0L))
    assert(Tables.appendStreamBatch(b0.limit(0), table, "ts", "ck", 1L))
    assert(Tables.snapshot(spark, table).count() == 50L)
    assert(!new java.io.File(table + ".gen.commit").exists)
    assert(!new java.io.File(table + ".gen.tmp").exists)
    assert(!Tables.appendStreamBatch(b0.limit(0), table, "ts", "ck", 1L),
      "the empty batch's id must still advance the high-water mark")
    assert(Tables.appendStreamBatch(
      (50L until 70L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      table, "ts", "ck", 2L))
    assert(Tables.snapshot(spark, table).count() == 70L)
    val m = Tables.manifest(spark, table).get
    assert(m.files.map(_.name).toSet.size == m.files.size)
    // the empty batch must not have planted a row-less stat-less entry —
    // one would permanently degrade the metadata-only tail check to a
    // full max(ts) scan per append (the O(batch) property)
    assert(m.files.forall(e => e.minNs.isDefined && e.maxNs.isDefined),
      s"stat-less manifest entries after an empty batch: ${m.files}")
  }

  test("bucketed batch 0 against an EMPTY table: crash replay never duplicates") {
    // regression (review): the rollback mode was inferred from an empty
    // pre-listing, so a bucketed batch 0 on an empty table (legitimately
    // empty preFiles, NO append marker) was misrouted to the marker-based
    // rollback, which found nothing to delete — the replay then doubled
    // every row. The mode is now an explicit flag on the pending record.
    val t = "stream_bkt_empty0"
    Tables.loadBucketed(Seq.empty[(Long, Long, Double)]
      .toDF("k", "ts", "v"), t, Seq("k"), 4, sortCols = Seq("ts"))
    val b0 = (0L until 40L).map(i => (i % 4, i, i * 1.0)).toDF("k", "ts", "v")
    assert(withCrash("stream:appended", 1) {
      Tables.appendStreamBatchBucketed(b0, t, "cke", 0L)
    })
    assert(Tables.appendStreamBatchBucketed(b0, t, "cke", 0L))
    assert(spark.table(t).select("ts").as[Long].collect().toSet ==
      (0L until 40L).toSet,
      "batch 0 on an empty table must land exactly once across a crash replay")
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("bloom sidecar atomicity: a rebuild cannot interleave a batch's update→append span") {
    // ADVICE r15 (high): before the fix, DedupBloom.update ran UN-leased
    // before the leased bucket append — a rebuildDedupBloom that started
    // AND finished inside that window snapshotted the table WITHOUT the
    // batch's rows, installed a bloom missing its bits, and the batch's
    // append then landed anyway: sidecar ⊊ table, silent false negatives
    // (duplicates admitted forever). Now the ingest holds ONE writer-lease
    // span across update+append, and update/rebuild each take the same
    // lease — the mid-span rebuild FAILS LOUDLY and the superset
    // invariant survives every interleave the lease permits.
    val docs = tmpDir("atdoc") + "/docs.parquet"
    val buckets = tmpDir("atbkt") + "/buckets.parquet"
    def text(i: Int): String = (0 until 12).map(w => s"at${w}q$i").mkString(" ")
    Streams.dedupIngestBatch(
      (0 until 20).map(i => (i.toLong, 100L + i, text(i)))
        .toDF("id", "ts", "text"),
      docs, buckets, "ts", "ck-atom", "id", "text", 5, 8, 2, 0L)
    assert(graft.streaming.DedupBloom.load(spark, buckets).isDefined)
    val hp = new org.apache.hadoop.fs.Path(buckets)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // drive the protocol's update→append span by hand (exactly what
    // dedupIngestBatch does under its lease) and attempt the race's
    // rebuild MID-SPAN from another thread (the lease is per-thread
    // re-entrant, so only a foreign thread models a maintenance job)
    val probeVal = 0x5eedL
    val bucketRows = Seq((999L, 3, probeVal, 200L))
      .toDF("id", "band", "bucket", "ts")
    @volatile var raced: Option[Throwable] = None
    Tables.withWriterLease(fs, hp, "test-ingest-span") {
      graft.streaming.DedupBloom.update(spark, buckets, Array(probeVal))
      val t = new Thread(() => {
        try Streams.rebuildDedupBloom(spark, buckets)
        catch { case e: Throwable => raced = Some(e) }
      })
      t.start(); t.join(30000)
      Tables.appendStreamBatch(bucketRows, buckets, "ts", "ck-atom#buckets", 1L)
    }
    assert(raced.exists(e => e.isInstanceOf[IllegalStateException] &&
      e.getMessage.contains("another writer holds the lease")),
      s"a mid-span rebuild must fail loudly on the lease, got: $raced")
    // the invariant the race used to break: every stored bucket value is
    // bloom-positive, including the mid-span batch's
    val bf = graft.streaming.DedupBloom.load(spark, buckets).get
    val stored = Tables.snapshot(spark, buckets).select("bucket").as[Long]
      .collect()
    assert(stored.forall(bf.mightContainLong),
      "sidecar must remain a superset of the stored table")
    assert(bf.mightContainLong(probeVal))
    // a post-span rebuild (lease free again) succeeds and stays a superset
    Streams.rebuildDedupBloom(spark, buckets)
    val bf2 = graft.streaming.DedupBloom.load(spark, buckets).get
    assert(stored.forall(bf2.mightContainLong))
  }

  test("probe skips the In filter inside the parquet or-chain hazard zone") {
    // ADVICE r15 #2: spark.sql.parquet.pushdown.inFilterThreshold governs
    // how parquet-mr receives a pushed In — at or under the threshold a
    // LEFT-DEEP or()-chain of eq (task StackOverflowError beyond ~1.5k
    // values, measured r14), above it a harmless min/max range. The
    // default of 10 keeps the probe's InSet safe; an operator raising the
    // knob must not turn a >1k-positive probe into a crash — the probe
    // detects the zone and takes the plain broadcast-semi scan instead.
    val buckets = tmpDir("ozbkt") + "/buckets.parquet"
    // a synthetic stored bucket table + sidecar: 3000 (band, bucket) rows
    val stored = (0 until 3000)
      .map(i => (i.toLong, i % 8, 0xabc000L + i, 100L + i))
      .toDF("id", "band", "bucket", "ts")
    Tables.load(stored, buckets, Seq("band", "bucket"), "ts")
    graft.streaming.DedupBloom.rebuild(spark, buckets)
    // a probe whose positives land in the zone: 3000 stored values (all
    // bloom-positive) + 3000 unseen (selectivity gate: pos*2 <= vals)
    val bb = ((0 until 3000).map(i => (i % 8, 0xabc000L + i)) ++
      (0 until 3000).map(i => (i % 8, 0xdef000000L + i)))
      .toDF("band", "bucket")
    def hits(): Long = Streams.probeStoredBuckets(spark, buckets, bb,
      Seq("band", "bucket")).count()
    val want = hits() // default threshold 10: InSet branch, range-pushed
    spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "8192")
    try {
      val probe = Streams.probeStoredBuckets(spark, buckets, bb,
        Seq("band", "bucket"))
      val planStr = probe.queryExecution.executedPlan.toString
      assert(!planStr.contains("In(bucket"),
        s"inside the or-chain zone the probe must not push an In:\n$planStr")
      assert(probe.count() == want,
        "the plain-scan fallback must return the same hits")
    } finally spark.conf.unset("spark.sql.parquet.pushdown.inFilterThreshold")
  }

  test("probe file pruning: per-file blooms confine the verify scan to hit files") {
    // VERDICT r14 missing #1: the bloom sidecar only short-circuits the
    // MISS path; a batch with positives used to read the bucket table's
    // full (band, bucket) projection. With per-file bloom sidecars the
    // verify scan reads ONLY the files that might hold a positive — a
    // re-crawl of window-0 docs reads window-0's files, not the corpus.
    val docs = tmpDir("fpdoc") + "/docs.parquet"
    val buckets = tmpDir("fpbkt") + "/buckets.parquet"
    def text(i: Int): String = (0 until 12).map(w => s"q${w}z$i").mkString(" ")
    def run(bid: Long, from: Int, until: Int): Unit =
      Streams.dedupIngestBatch(
        (from until until).map(i => (i.toLong, 100L + i, text(i)))
          .toDF("id", "ts", "text"),
        docs, buckets, "ts", "ck-fp", "id", "text", 5, 8, 2, bid)
    // several small files per window (these texts also collide ACROSS
    // windows, so the hits localize to files, not to whole windows): a
    // tiny staging target splits each batch into its input partitions
    sys.props("graft.append.file.bytes") = "1024"
    try { run(0L, 0, 20); run(1L, 20, 40); run(2L, 40, 60) }
    finally sys.props.remove("graft.append.file.bytes")
    def names(fs: Iterable[String]): Set[String] = fs.map(_.split("/").last).toSet
    val liveFiles = names(Tables.snapshot(spark, buckets).inputFiles.toSeq)
    assert(liveFiles.size >= 3, s"want one file per window, got $liveFiles")
    // sync ran per batch: every live file carries a bloom sidecar
    val fbDir = new java.io.File(new java.io.File(buckets).getParent,
      "buckets.parquet.fblooms")
    val bloomNames = fbDir.listFiles.map(_.getName).filter(_.endsWith(".bloom")).toSet
    assert(liveFiles.forall(f => bloomNames(f + ".bloom")),
      s"every live file needs a bloom: $bloomNames vs $liveFiles")
    // a re-crawl batch of window-0 docs (new ids, stored texts)
    val re = (0 until 10).map(i => (1000L + i, 900L + i, text(i)))
      .toDF("id", "ts", "text")
    val bb = graft.dedup.Dedup.bandBuckets(re, "id", "text", 5, 8, 2).cache()
    try {
      val vals = bb.select("bucket").distinct().as[Long].collect().toSet
      // ground truth: the files that actually hold a positive bucket value
      val containing = names(Tables.snapshot(spark, buckets)
        .withColumn("__f", input_file_name())
        .filter(col("bucket").isin(vals.toSeq.map(Long.box): _*))
        .select("__f").distinct().as[String].collect().toSeq)
      assert(containing.nonEmpty && containing.size < liveFiles.size,
        s"the re-crawl's hits must localize for this test to mean anything: $containing")
      val probe = Streams.probeStoredBuckets(spark, buckets, bb,
        Seq("band", "bucket"))
      val got = probe.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      val read = names(probe.inputFiles.toSeq)
      assert(read == containing,
        s"pruned probe must read exactly the hit files: read $read, want $containing")
      // the answer is scan-identical to the unpruned shape, which reads
      // every live file
      sys.props("graft.dedup.fbloom.enabled") = "false"
      try {
        val ref = Streams.probeStoredBuckets(spark, buckets, bb,
          Seq("band", "bucket"))
        assert(ref.collect().map(r => (r.getInt(0), r.getLong(1))).toSet == got,
          "pruning changed the probe's answer")
        assert(names(ref.inputFiles.toSeq) == liveFiles,
          "the unpruned shape reads the whole live set (the contrast)")
      } finally sys.props.remove("graft.dedup.fbloom.enabled")
      // degradation contract: sidecar dir lost → all files read, same answer
      def deleteRec(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(deleteRec); f.delete(); ()
      }
      deleteRec(fbDir)
      graft.streaming.FileBlooms.clearCache()
      val degraded = Streams.probeStoredBuckets(spark, buckets, bb,
        Seq("band", "bucket"))
      assert(degraded.collect().map(r => (r.getInt(0), r.getLong(1))).toSet == got,
        "a lost per-file sidecar must degrade the probe, never its answer")
      assert(names(degraded.inputFiles.toSeq) == liveFiles)
      // and the maintenance sync restores coverage
      Streams.syncDedupFileBlooms(spark, buckets)
      val restored = Streams.probeStoredBuckets(spark, buckets, bb,
        Seq("band", "bucket"))
      assert(names(restored.inputFiles.toSeq) == containing,
        "syncDedupFileBlooms must restore file pruning")
    } finally bb.unpersist()
  }

  test("probe range index: file pruning survives the bloom budget; the no-index fallback is pinned") {
    // VERDICT r15 wrong #1: the bloom refinement is an O(positives ×
    // files) driver loop whose budget used to DISABLE pruning entirely —
    // un-pruning exactly the re-crawl batches at 100 TB file counts that
    // need it most. The range index (per-file bucket min/max from the
    // parquet footer, binary-searched) now decides first with pure
    // arithmetic; the budget guards only the bloom second level. Three
    // paths pinned here: (a) over-budget WITH ranges → range result
    // ships; (b) over-budget WITHOUT ranges → the legacy None fallback
    // (plain scan, identical answer); (c) in-budget → blooms refine.
    val buckets = tmpDir("rgbkt") + "/buckets.parquet"
    // three bucket-CLUSTERED files with disjoint bucket ranges — the
    // steady-state layout a folded ingest maintains (fold output is
    // (band, bucket)-clustered per ts span)
    def win(w: Int) = (0 until 400)
      .map(i => (w * 1000L + i, i % 8, w * 100000L + i, w * 1000L + i))
      .toDF("id", "band", "bucket", "ts")
      .repartition(1).sortWithinPartitions("band", "bucket")
    for (w <- 0 until 3) Tables.append(win(w), buckets, "ts", lit(0L))
    graft.streaming.FileBlooms.sync(spark, buckets)
    val fbDir = new java.io.File(new java.io.File(buckets).getParent,
      "buckets.parquet.fblooms")
    assert(new java.io.File(fbDir, "_ranges.json").isFile,
      "sync must install the range index beside the blooms")
    def names(fs: Iterable[String]): Set[String] = fs.map(_.split("/").last).toSet
    val liveFiles = names(Tables.snapshot(spark, buckets).inputFiles.toSeq)
    assert(liveFiles.size == 3)
    // the batch collides with window 0 only: every positive ∈ [0, 400)
    val bb = (0 until 50).map(i => (i % 8, i.toLong)).toDF("band", "bucket")
    def probe() = Streams.probeStoredBuckets(spark, buckets, bb,
      Seq("band", "bucket"))
    val want = probe().collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(want.nonEmpty)
    val win0 = names(Tables.snapshot(spark, buckets)
      .withColumn("__f", input_file_name()).filter(col("bucket") < 1000L)
      .select("__f").distinct().as[String].collect().toSeq)
    assert(win0.size == 1)
    // (a) bloom level over budget: the RANGE result still prunes to the
    // one overlapping file — the r15 shape would have read all three
    sys.props("graft.dedup.fbloom.probe.budget") = "1"
    try {
      val p = probe()
      assert(p.collect().map(r => (r.getInt(0), r.getLong(1))).toSet == want)
      assert(names(p.inputFiles.toSeq) == win0,
        "over-budget prune must ship the range result, not revert to the corpus")
      // (b) the legacy fallback: no range index AND over budget → prune
      // returns None → the plain scan of every live file, same answer
      assert(new java.io.File(fbDir, "_ranges.json").delete())
      graft.streaming.FileBlooms.clearCache()
      val p2 = probe()
      assert(p2.collect().map(r => (r.getInt(0), r.getLong(1))).toSet == want,
        "the budget-disable fallback must keep the answer identical")
      assert(names(p2.inputFiles.toSeq) == liveFiles,
        "without ranges and past budget the probe scans the live set unpruned")
    } finally sys.props.remove("graft.dedup.fbloom.probe.budget")
    // (c) in-budget with the index restored: blooms refine the range cut
    Streams.syncDedupFileBlooms(spark, buckets)
    val p3 = probe()
    assert(p3.collect().map(r => (r.getInt(0), r.getLong(1))).toSet == want)
    assert(names(p3.inputFiles.toSeq) == win0)
  }

  test("dedupStats: the divergence and saturation watch in one queryable row") {
    // VERDICT r14 item 5: USER_GUIDE told the operator to EYEBALL
    // "bucket rows ≈ doc rows × bands" — emit it directly instead, plus
    // the sidecar's version and saturation and the file-bloom coverage.
    val docs = tmpDir("dsdoc") + "/docs.parquet"
    val buckets = tmpDir("dsbkt") + "/buckets.parquet"
    def text(i: Int): String = (0 until 12).map(w => s"s${w}y$i").mkString(" ")
    def run(bid: Long, from: Int, until: Int): Unit =
      Streams.dedupIngestBatch(
        (from until until).map(i => (i.toLong, 100L + i, text(i)))
          .toDF("id", "ts", "text"),
        docs, buckets, "ts", "ck-ds", "id", "text", 5, 8, 2, bid)
    run(0L, 0, 15)
    run(1L, 15, 30)
    val row = Streams.dedupStats(spark, docs, buckets).head()
    val docRows = Tables.snapshot(spark, docs).count()
    assert(row.getAs[Long]("doc_rows") == docRows)
    assert(row.getAs[Long]("bucket_rows") == docRows * 8,
      "text twin: every retained doc contributes exactly `bands` bucket rows")
    assert(row.getAs[Double]("rows_per_doc") == 8.0,
      "the ratio IS the divergence watch — it must sit at the band count")
    assert(row.getAs[Boolean]("sidecar_present"))
    assert(row.getAs[Long]("sidecar_version") >= 2L,
      "two batches = at least two sidecar installs")
    val fpp = row.getAs[Double]("sidecar_fpp")
    assert(fpp > 0.0 && fpp < 0.01,
      s"a near-empty 1e6-capacity sidecar must sit far below its built 1% fpp: $fpp")
    val files = row.getAs[Int]("bucket_files")
    assert(files > 0 && row.getAs[Int]("file_blooms") == files,
      "per-file bloom coverage must match the live file count after ingest")
    // sidecar lost → present=false, version/-fpp sentinel, rest still served
    val sidecar = new java.io.File(new java.io.File(buckets).getParent,
      "buckets.parquet.bloom")
    assert(sidecar.delete())
    val row2 = Streams.dedupStats(spark, docs, buckets).head()
    assert(!row2.getAs[Boolean]("sidecar_present"))
    assert(row2.getAs[Long]("sidecar_version") == -1L)
    assert(row2.getAs[Long]("doc_rows") == docRows)
    // out-of-band fold WITHOUT the sidecar beat: cold files are carried
    // by rename (their blooms stay valid) but the fold's OUTPUT file is a
    // new name whose bloom doesn't exist yet and whose inputs' blooms are
    // orphans — coverage must read the GAP (a raw sidecar-dir count would
    // read "fully covered" off the orphans, review r15), and the
    // maintenance sync must close it
    Tables.compactIncremental(spark, buckets, Seq("band", "bucket"), "ts")
    val row3 = Streams.dedupStats(spark, docs, buckets).head()
    assert(row3.getAs[Int]("file_blooms") < row3.getAs[Int]("bucket_files"),
      s"the fold's un-bloomed output must read as a coverage gap: ${row3}")
    Streams.syncDedupFileBlooms(spark, buckets)
    val row4 = Streams.dedupStats(spark, docs, buckets).head()
    assert(row4.getAs[Int]("file_blooms") == row4.getAs[Int]("bucket_files") &&
      row4.getAs[Int]("bucket_files") > 0,
      s"sync must restore full coverage: ${row4}")
  }

  test("dedupStats row counts come from metadata: zero Spark jobs on governed tables") {
    // VERDICT r15 wrong #2: a one-row health check paying a full count
    // job per table per call is a trap for an operator polling it at
    // 100 TB file counts — the manifest already knows the live file set
    // and parquet footers carry exact row counts.
    val docs = tmpDir("mrdoc") + "/docs.parquet"
    val buckets = tmpDir("mrbkt") + "/buckets.parquet"
    def text(i: Int): String = (0 until 12).map(w => s"m${w}r$i").mkString(" ")
    Streams.dedupIngestBatch(
      (0 until 20).map(i => (i.toLong, 100L + i, text(i)))
        .toDF("id", "ts", "text"),
      docs, buckets, "ts", "ck-mr", "id", "text", 5, 8, 2, 0L)
    val docRows = Tables.snapshot(spark, docs).count()
    val bktRows = Tables.snapshot(spark, buckets).count()
    // metadata path agrees with the scan, deterministically
    assert(Tables.metadataRowCount(spark, docs).contains(docRows))
    assert(Tables.metadataRowCount(spark, buckets).contains(bktRows))
    // and the counts are IN the manifest (recorded at write time from
    // the same footer open as the ts stats, review r16) — zero per-file
    // footer RPCs on the poll path, not just zero Spark jobs
    for (p <- Seq(docs, buckets))
      assert(Tables.manifest(spark, p).exists(_.files.forall(_.rows.isDefined)),
        s"write paths must record footer row counts in the manifest: $p")
    // and the stats call launches NO job at all (the one-row result is a
    // local relation; every field is metadata). The watch is validated by
    // a positive control first so the zero can't be a wiring artifact.
    JobWatch.on(spark) { w =>
      w.measure(Tables.snapshot(spark, docs).count()) // positive control
      assert(w.count > 0, "listener wiring: a real count must register")
      val row = w.measure(Streams.dedupStats(spark, docs, buckets).head())
      assert(row.getAs[Long]("doc_rows") == docRows)
      assert(row.getAs[Long]("bucket_rows") == bktRows)
      assert(w.count == 0,
        s"dedupStats on governed tables must not launch Spark jobs:${w.describe}")
    }
  }

  test("all-drop re-crawl batch: bounded job count, zero staging writes (r18)") {
    // the landing-dedup steady state (a crawler revisiting its corpus)
    // must stay a HANDFUL of jobs per batch: the batch-rows collect and
    // the stored-candidate collect, which together show every doc dropped
    // — with the two commit-log advances running as pure metadata
    // (commitEmptyStreamBatch: no 0-row staging write job, no marker).
    val docs = tmpDir("jcdoc") + "/docs.parquet"
    val buckets = tmpDir("jcbkt") + "/buckets.parquet"
    def text(i: Int): String = (0 until 12).map(w => s"j${w}c$i").mkString(" ")
    def batch(shift: Long) =
      (0 until 30).map(i => (i.toLong + shift, 100L + i + shift, text(i)))
        .toDF("id", "ts", "text")
    Streams.dedupIngestBatch(batch(0), docs, buckets, "ts", "ck-jc",
      "id", "text", 5, 8, 2, 0L)
    Tables.compactIncremental(spark, buckets, Seq("band", "bucket"), "ts")
    // one unmeasured re-crawl (plan/codegen warmup is irrelevant to job
    // COUNT, but the first re-crawl also seeds the fp layout cache)
    Streams.dedupIngestBatch(batch(1000), docs, buckets, "ts", "ck-jc",
      "id", "text", 5, 8, 2, 1L)
    JobWatch.on(spark) { w =>
      w.measure(Streams.dedupIngestBatch(batch(2000), docs, buckets, "ts",
        "ck-jc", "id", "text", 5, 8, 2, 2L))
      info(s"all-drop batch: ${w.executions.size} SQL executions, ${w.count} jobs")
      // two executions: the batch-rows collect and the stored-candidate
      // collect — and NOTHING else: every doc is an exact duplicate, so
      // no tier 2, no in-batch pairs, no emptiness check, no 0-row
      // staging write (commitEmptyStreamBatch), no schema-inference job
      // (memoized head schema). Measured 4 jobs on local[4]
      assert(w.executions.size <= 2,
        s"all-drop batch ran ${w.executions.size} SQL executions:${w.describe}")
      assert(w.count <= 4,
        s"all-drop batch grew past its job budget, saw ${w.count}:${w.describe}")
      val writes = w.jobs.filter(j => j.site.contains("parquet") || j.site.contains("save"))
      assert(writes.isEmpty,
        s"all-drop batch must stage NO parquet write, saw ${writes.size}:${w.describe}")
    }
    // and the commit log still advanced exactly-once (a replay skips)
    Streams.dedupIngestBatch(batch(2000), docs, buckets, "ts", "ck-jc",
      "id", "text", 5, 8, 2, 2L)
    assert(Tables.snapshot(spark, docs).count() == 30,
      "only batch 0's docs may be retained")
  }

  /** Twelve random 6-letter words: distinct seeds share no shingles
    * worth a band collision, so batches of them are collision-free.
    */
  private def randomWords(seed: Int): String = {
    val r = new scala.util.Random(seed)
    (0 until 12).map(_ => (0 until 6).map(_ => ('a' + r.nextInt(26)).toChar)
      .mkString).mkString(" ")
  }

  test("fresh collision-free batch: bounded jobs and SQL executions, no verify") {
    // the fresh-crawl steady state: each batch-sized frame is built once
    // (one normalize pass carries ts/fp to the bucket rows), the sidecar's
    // bucket values come from the batch-rows collect, the append's
    // partition probe executes nothing, and no in-batch edge means no
    // connected components
    val docs = tmpDir("cfdoc") + "/docs.parquet"
    val buckets = tmpDir("cfbkt") + "/buckets.parquet"
    def batch(from: Int) = (from until from + 30)
      .map(i => (i.toLong, 100L + i, randomWords(i))).toDF("id", "ts", "text")
    Streams.dedupIngestBatch(batch(0), docs, buckets, "ts", "ck-cf",
      "id", "text", 5, 8, 2, 0L)
    Tables.compactIncremental(spark, buckets, Seq("band", "bucket"), "ts")
    Streams.dedupIngestBatch(batch(100), docs, buckets, "ts", "ck-cf",
      "id", "text", 5, 8, 2, 1L)
    JobWatch.on(spark) { w =>
      w.measure(Streams.dedupIngestBatch(batch(200), docs, buckets, "ts",
        "ck-cf", "id", "text", 5, 8, 2, 2L))
      info(s"fresh batch: ${w.executions.size} SQL executions, ${w.count} jobs")
      // batch-rows collect, doc write, bucket write: the bloom clears the
      // stored side, the batch rows hold no in-batch pair, so nothing is
      // left to verify, and the new bucket file's bloom is built from the
      // values the verdict holds
      assert(w.executions.size <= 3,
        s"fresh batch ran ${w.executions.size} SQL executions:${w.describe}")
      // measured 5 jobs on local[4]
      assert(w.count <= 5, s"fresh batch grew past its job budget:${w.describe}")
      val writes = w.executions.filter(e =>
        w.plan(e).exists(_.contains("InsertIntoHadoopFsRelationCommand")))
      assert(writes.size == 2, s"one doc write + one bucket write:${w.describe}")
      assert(!w.jobs.exists(_.site.contains("localCheckpoint")),
        s"no candidates, yet connected components ran:${w.describe}")
    }
    assert(Tables.snapshot(spark, docs).count() == 90)
    assert(Tables.snapshot(spark, buckets).count() == 90 * 8L)
  }

  test("batch with in-batch near-duplicates: bounded jobs, min id per cluster") {
    val docs = tmpDir("ibdoc") + "/docs.parquet"
    val buckets = tmpDir("ibbkt") + "/buckets.parquet"
    def text(i: Int): String = randomWords(i)
    def near(i: Int): String = randomWords(i).split(" ").init.mkString(" ") + " zz"
    Streams.dedupIngestBatch((0 until 30).map(i => (i.toLong, 100L + i, text(i)))
      .toDF("id", "ts", "text"), docs, buckets, "ts", "ck-ib",
      "id", "text", 5, 8, 2, 0L)
    Tables.compactIncremental(spark, buckets, Seq("band", "bucket"), "ts")
    // one unmeasured batch re-reads the folded head's schema
    Streams.dedupIngestBatch((30 until 60).map(i => (i.toLong, 100L + i, text(i)))
      .toDF("id", "ts", "text"), docs, buckets, "ts", "ck-ib",
      "id", "text", 5, 8, 2, 1L)
    // 30 fresh docs, the first 5 each with a near-duplicate twin
    val rows = (100 until 130).map(i => (i.toLong, 200L + i, text(i))) ++
      (100 until 105).map(i => (i.toLong + 1000, 400L + i, near(i)))
    JobWatch.on(spark) { w =>
      w.measure(Streams.dedupIngestBatch(rows.toDF("id", "ts", "text"), docs,
        buckets, "ts", "ck-ib", "id", "text", 5, 8, 2, 2L))
      info(s"near-dup batch: ${w.executions.size} SQL executions, ${w.count} jobs")
      // measured 4 executions and 11 jobs on local[4]: the clusters come
      // from a driver union-find over the verified edges, so connected
      // components' rounds and the loser collect are gone
      assert(w.executions.size <= 4,
        s"near-dup batch ran ${w.executions.size} SQL executions:${w.describe}")
      assert(w.count <= 11, s"near-dup batch grew past its job budget:${w.describe}")
      assert(!w.jobs.exists(_.site.contains("localCheckpoint")),
        s"the driver clusters the edges, yet connected components ran:${w.describe}")
    }
    assert(Tables.snapshot(spark, docs).select("id").as[Long].collect().toSet ==
      ((0L until 60L) ++ (100L until 130L)).toSet)
  }

  test("a failed head-footer read is not memoized: the next read detects fp") {
    // ADVICE r18: the head-schema memo cached a failed footer read (None)
    // for the generation's whole life, so one transient read error pinned
    // the table to the jaccard tier. Failure injected by moving the head
    // file away for the first read only; that read fails loudly.
    val docs = tmpDir("hfdoc") + "/docs.parquet"
    val buckets = tmpDir("hfbkt") + "/buckets.parquet"
    Streams.dedupIngestBatch((0 until 5).map(i => (i.toLong, 100L + i,
      randomWords(500 + i))).toDF("id", "ts", "text"), docs, buckets, "ts",
      "ck-hf", "id", "text", 5, 8, 2, 0L)
    val head = Tables.liveFileNames(spark, buckets).flatMap(_.headOption)
      .getOrElse(fail("the first batch must leave a live bucket file"))
    val file = new java.io.File(buckets, head)
    val away = new java.io.File(buckets + ".away")
    assert(file.renameTo(away))
    try intercept[java.io.IOException](Streams.bucketHeadHasFp(spark, buckets, Some(head)))
    finally assert(away.renameTo(file))
    assert(Streams.bucketHeadHasFp(spark, buckets, Some(head)),
      "the failed read must not be memoized: the fp layout is detected now")
  }

  test("an unreadable bucket head footer fails the landing batch before it writes") {
    // ROADMAP item 5: a failed head-footer read on an EXISTING bucket
    // table read as "no fp", so the batch appended 4-column bucket rows
    // into the 5-column table. Failure injected as ONE failed open of the
    // head file (a transient read error); the retried batch lands intact.
    val docs = tmpDir("uhdoc") + "/docs.parquet"
    val buckets = tmpDir("uhbkt") + "/buckets.parquet"
    def land(from: Int, batchId: Long): Unit =
      Streams.dedupIngestBatch((from until from + 5).map(i => (i.toLong, 100L + i,
        randomWords(700 + i))).toDF("id", "ts", "text"), docs, buckets, "ts",
        "ck-uh", "id", "text", 5, 8, 2, batchId)
    land(0, 0L)
    val before = Tables.liveFileNames(spark, buckets).get
    val docsBefore = Tables.liveFileNames(spark, docs).get
    FlakyLocalFS.failNextOpen(spark, before.head) {
      intercept[java.io.IOException](land(10, 1L))
    }
    assert(Tables.liveFileNames(spark, buckets).get == before,
      "the failed batch must not land bucket rows")
    assert(Tables.liveFileNames(spark, docs).get == docsBefore,
      "the failed batch must not land docs")
    land(10, 1L)
    val rows = Tables.snapshot(spark, buckets)
    assert(rows.columns.contains("fp"))
    assert(rows.filter(col("fp").isNull).isEmpty, "every bucket row carries fp")
    assert(Tables.snapshot(spark, docs).select("id").as[Long].collect().toSet ==
      ((0L until 5L) ++ (10L until 15L)).toSet)
  }

  /** The pre-change bucket-row composition for the text twin: banding
    * from raw text plus the fingerprint, over the survivors.
    */
  private def composedTextRows(docsDf: org.apache.spark.sql.DataFrame) =
    graft.dedup.Dedup.bandBuckets(docsDf, "id", "text", 5, 8, 2)
      .join(docsDf.select(col("id"), col("ts"),
        graft.text.TextOps.fingerprint(col("text")).as("fp")), Seq("id"))
      .select("id", "band", "bucket", "ts", "fp")

  private def rowSet(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "band", "bucket", "ts", "fp").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

  test("text landing twin: docs and bucket rows equal the pre-change composition") {
    val docs = tmpDir("eqdoc") + "/docs.parquet"
    val buckets = tmpDir("eqbkt") + "/buckets.parquet"
    def text(i: Int): String = (0 until 12).map(w => s"e${w}q$i").mkString(" ")
    def near(i: Int): String = ((0 until 11).map(w => s"e${w}q$i") :+ "zz").mkString(" ")
    val stored = (0 until 10).map(i => (i.toLong, 100L + i, text(i))) :+
      ((50L, 150L, "ab")) // too short to shingle: no bucket rows, survives
    val batch1 = Seq(
      (1000L, 200L, text(0)), (1001L, 201L, text(1)), // stored exact dups
      (1002L, 202L, near(2)), (1003L, 203L, near(3)), // stored near-dups
      (1004L, 204L, text(20)), (1005L, 205L, near(20)), // in-batch pair
      (1006L, 206L, text(21)), (1007L, 207L, "cd")) // unique, short
    def land(rows: Seq[(Long, Long, String)], bid: Long): Unit =
      Streams.dedupIngestBatch(rows.toDF("id", "ts", "text"), docs, buckets,
        "ts", "ck-eq", "id", "text", 5, 8, 2, bid)
    land(stored, 0L)
    land(batch1, 1L)
    val keep = Set(1004L, 1006L, 1007L)
    val survivors = (stored ++ batch1.filter(r => keep(r._1))).toDF("id", "ts", "text")
    assert(Tables.snapshot(spark, docs).select("id").as[Long].collect().toSet ==
      survivors.select("id").as[Long].collect().toSet)
    assert(Tables.manifest(spark, buckets).nonEmpty)
    val got = rowSet(Tables.snapshot(spark, buckets))
    assert(got == rowSet(composedTextRows(survivors)),
      "bucket rows diverged from bandBuckets + fingerprint over the survivors")
    assert(got.map(_._1) == Set(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 1004L, 1006L))
  }

  test("embedding landing twin: docs and bucket rows equal the pre-change composition") {
    val docs = tmpDir("eedoc") + "/docs.parquet"
    val buckets = tmpDir("eebkt") + "/buckets.parquet"
    def v(xs: Double*): Seq[Double] = xs
    val stored = Seq((1L, 100L, v(1, 0, 0, 0)), (2L, 101L, v(0, 1, 0, 0)),
      (3L, 102L, v(0, 0, 1, 0)))
    val batch1 = Seq(
      (10L, 200L, v(1, 0, 0, 0)), // stored exact dup (tier 1)
      (11L, 201L, v(0.03, 1, 0, 0)), // stored near-dup (tier 2)
      (12L, 202L, v(0, 0, 0, 1)), (13L, 203L, v(0, 0.01, 0, 1.02)), // in-batch pair
      (14L, 204L, v(1, 1, 1, 1)), // unique
      (15L, 205L, v(0, 0, 0, 0))) // zero norm: no bucket rows, survives
    def land(rows: Seq[(Long, Long, Seq[Double])], bid: Long): Unit =
      Streams.dedupIngestEmbeddingBatch(rows.toDF("id", "ts", "emb"), docs,
        buckets, "ts", "ck-eeq", "id", "emb", dim = 4, minCos = 0.95,
        tables = 8, bits = 16, batchId = bid)
    land(stored, 0L)
    land(batch1, 1L)
    val keep = Set(12L, 14L, 15L)
    val survivors = (stored ++ batch1.filter(r => keep(r._1))).toDF("id", "ts", "emb")
    assert(Tables.snapshot(spark, docs).select("id").as[Long].collect().toSet ==
      survivors.select("id").as[Long].collect().toSet)
    graft.sqlext.GraftFunctions.register(spark)
    val vecs = survivors.select(col("id"), col("ts"),
      col("emb").cast("array<double>").as("v"))
      .filter(sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0),
        (a, x) => a + x)) > 0)
    val composed = vecs.select(col("id"), col("ts"), xxhash64(col("v")).as("fp"),
        posexplode(call_function("cs_rhp_sig", col("v"), lit(4), lit(16), lit(8))))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"),
        col("ts"), col("fp"))
    val got = rowSet(Tables.snapshot(spark, buckets))
    assert(got == rowSet(composed),
      "bucket rows diverged from cs_rhp_sig + vector fingerprint over the survivors")
    assert(got.map(_._1) == Set(1L, 2L, 3L, 12L, 14L))
  }

  test("streaming ingest retries through transient lease contention instead of dying") {
    // ADVICE r15 #3 / review r15: a maintenance op holding the writer
    // lease makes a micro-batch's append throw — the ingest loop must
    // absorb a contention that clears within its retry budget (typed on
    // LeaseContentionException, which ALL five contention outcomes throw)
    // rather than fail the streaming query.
    val src = tmpDir("rtsrc")
    val table = tmpDir("rttab") + "/t.parquet"
    val ck = tmpDir("rtck")
    stageFile(src, "b0.parquet", (0L until 50L).map(i => (i, i * 1.0)),
      System.currentTimeMillis() - 10000L)
    // a FOREIGN writer's fresh lease: appends are refused until it clears
    val leaseFile = new java.io.File(table + ".lease")
    assert(new java.io.File(table).getParentFile.exists() ||
      new java.io.File(table).getParentFile.mkdirs() || true)
    java.nio.file.Files.write(leaseFile.toPath,
      """{"token":"maintenance","op":"compact","pid":"0"}""".getBytes("UTF-8"))
    sys.props("graft.lease.retry.backoff.ms") = "100"
    val releaser = new Thread(() => { Thread.sleep(700); leaseFile.delete(); () })
    releaser.start()
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType)))
      val q = Streams.ingestAppend(
        spark.readStream.schema(schema).parquet(src), table, "ts", ck)
      q.awaitTermination()
      releaser.join()
      assert(Tables.snapshot(spark, table).count() == 50,
        "the batch must land once the transient lease clears")
    } finally {
      sys.props.remove("graft.lease.retry.backoff.ms")
      releaser.join()
    }
  }

  test("EMBEDDING ingest retries through transient lease contention (twin parity)") {
    // VERDICT r15 item 6: the typed lease-retry contract was end-to-end
    // asserted only through the text twin; the embedding wrapper wraps
    // the same retryingLease, pinned here through its own stream.
    val src = tmpDir("ersrc")
    val docs = tmpDir("erdoc") + "/docs.parquet"
    val buckets = tmpDir("erbkt") + "/buckets.parquet"
    val ck = tmpDir("erck")
    locally {
      val stage = java.nio.file.Files.createTempDirectory("erstage").toString
      (0 until 20).map(i => (i.toLong, 100L + i,
        Seq(1.0 * (i + 1), 2.0 * (i % 7), 1.0, 0.5 * i)))
        .toDF("id", "ts", "emb").coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(src, "b0.parquet").toPath)
    }
    // a FOREIGN writer's fresh lease on the DOC table — the first append
    // of every embedding batch — refused until it clears
    val leaseFile = new java.io.File(docs + ".lease")
    java.nio.file.Files.write(leaseFile.toPath,
      """{"token":"maintenance","op":"compact","pid":"0"}""".getBytes("UTF-8"))
    sys.props("graft.lease.retry.backoff.ms") = "100"
    val releaser = new Thread(() => { Thread.sleep(700); leaseFile.delete(); () })
    releaser.start()
    try {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("ts", LongType),
        StructField("emb", ArrayType(DoubleType))))
      val q = Streams.ingestDedupEmbedding(
        spark.readStream.schema(schema).parquet(src), docs, buckets, "ts", ck,
        "id", "emb", dim = 4, minCos = 0.999, tables = 4, bits = 8)
      q.awaitTermination()
      releaser.join()
      assert(Tables.snapshot(spark, docs).count() > 0,
        "the embedding batch must land once the transient lease clears")
    } finally {
      sys.props.remove("graft.lease.retry.backoff.ms")
      releaser.join()
    }
  }

  test("dedupStats reads the EMBEDDING twin: ratio at <= tables, same zero-job path") {
    // VERDICT r15 item 6: dedupStats cases drove only the text twin. The
    // embedding twin's ratio contract differs (≤ `tables` — zero-norm
    // vectors bucket nowhere) and its tables go through the same
    // metadata-only row path.
    val docs = tmpDir("esdoc") + "/docs.parquet"
    val buckets = tmpDir("esbkt") + "/buckets.parquet"
    def runBatch(bid: Long, rows: Seq[(Long, Long, Seq[Double])]): Unit =
      Streams.dedupIngestEmbeddingBatch(rows.toDF("id", "ts", "emb"),
        docs, buckets, "ts", "ck-estat", "id", "emb", dim = 4,
        minCos = 0.95, tables = 8, bits = 16, batchId = bid)
    runBatch(0L, Seq(
      (1L, 100L, Seq(1.0, 0, 0, 0)), (2L, 101L, Seq(0.0, 1, 0, 0)),
      (3L, 102L, Seq(0.0, 0, 0, 0)))) // zero-norm: lands, buckets nowhere
    val row = Streams.dedupStats(spark, docs, buckets).head()
    assert(row.getAs[Long]("doc_rows") == 3L)
    assert(row.getAs[Long]("bucket_rows") == 2L * 8,
      "every retained NON-zero-norm doc contributes `tables` bucket rows")
    val ratio = row.getAs[Double]("rows_per_doc")
    assert(ratio > 0.0 && ratio <= 8.0,
      s"embedding twin ratio must sit at <= tables: $ratio")
    assert(row.getAs[Boolean]("sidecar_present"))
    assert(Tables.metadataRowCount(spark, docs).contains(3L) &&
      Tables.metadataRowCount(spark, buckets).contains(16L),
      "both twin tables must serve counts from metadata")
  }

  test("global sidecar capacity is CAPPED: saturation degrades cost, never answers") {
    // VERDICT r14 wrong #2: the sidecar is driver-resident and re-written
    // per batch, so rebuild sizing must be bounded no matter how big the
    // retained corpus is. Past the cap the bloom saturates (higher fpp —
    // visible in dedupStats), the probe verifies more positives (pruned
    // by the per-file blooms), and answers stay exact.
    val docs = tmpDir("capdoc") + "/docs.parquet"
    val buckets = tmpDir("capbkt") + "/buckets.parquet"
    // md5-token words: distinct docs share NO char shingles, so the full
    // 500 survive in-batch CC (word-pattern texts chain-collide — the
    // same trap BENCH r13's corpus hit) and the bucket table really holds
    // ~4000 distinct values against the 1000-item cap
    def text(i: Int): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 8).map(w => md.digest(s"$i-$w".getBytes)
        .map("%02x".format(_)).mkString).mkString(" ")
    }
    sys.props("graft.dedup.probe.bloom.maxItems") = "1000"
    sys.props("graft.dedup.probe.bloom.items") = "1000"
    try {
      // 500 docs × 8 bands = ~4000 bucket rows >> the 1000-item cap
      Streams.dedupIngestBatch(
        (0 until 500).map(i => (i.toLong, 100L + i, text(i)))
          .toDF("id", "ts", "text"),
        docs, buckets, "ts", "ck-cap", "id", "text", 5, 8, 2, 0L)
      Streams.rebuildDedupBloom(spark, buckets)
      val info = graft.streaming.DedupBloom.info(spark, buckets).get
      val capBits = org.apache.spark.util.sketch.BloomFilter
        .create(1000, 0.01).bitSize()
      assert(info._2 == capBits,
        s"rebuild must size at the cap, got ${info._2} bits vs $capBits")
      assert(info._3 > 0.05,
        s"a 4×-over-cap sidecar must read as saturated (fpp ${info._3})")
      // saturation must not change behavior: a re-crawl still drops all,
      // genuinely new docs still land (the bloom's false positives are
      // rejected by the exact verify, so they cost I/O, not answers)
      val kept0 = Tables.snapshot(spark, docs).count()
      assert(kept0 >= 490, s"md5-token docs should rarely collide: $kept0")
      Streams.dedupIngestBatch(
        (0 until 100).map(i => (5000L + i, 700L + i, text(i)))
          .toDF("id", "ts", "text"),
        docs, buckets, "ts", "ck-cap", "id", "text", 5, 8, 2, 1L)
      assert(Tables.snapshot(spark, docs).count() == kept0,
        "saturated sidecar: re-crawled docs must still all drop")
      Streams.dedupIngestBatch(
        (0 until 50).map(i => (9000L + i, 800L + i, text(100000 + i)))
          .toDF("id", "ts", "text"),
        docs, buckets, "ts", "ck-cap", "id", "text", 5, 8, 2, 2L)
      val kept2 = Tables.snapshot(spark, docs).count()
      assert(kept2 >= kept0 + 45 && kept2 <= kept0 + 50,
        s"saturated sidecar: new docs must still land ($kept0 -> $kept2)")
    } finally {
      sys.props.remove("graft.dedup.probe.bloom.maxItems")
      sys.props.remove("graft.dedup.probe.bloom.items")
    }
  }

  test("crash-point fuzz: the two-table dedup protocol converges under arbitrary kills") {
    // VERDICT r14 item 6: the crash matrices above are point-interleaves;
    // this leg drives the WHOLE protocol — two-table ingest, retention
    // beat, bloom rebuild, bucket-table fold — as one seeded-random
    // program with kills at arbitrary protocol steps, and requires (a)
    // both tables to converge to the no-crash twin's content, (b) the
    // doc/bucket ratio to hold at the band count, and (c) the bloom
    // sidecar's SUPERSET INVARIANT (every stored bucket value is
    // bloom-positive — the one property whose silent loss admits
    // duplicates forever). Any find: pin the seed as a named regression.
    val rnd = new scala.util.Random(soakSeed(20260816L))
    def text(i: Int): String = (0 until 12).map(w => s"f${w}k$i").mkString(" ")
    val tags = Seq("stream:pending" -> 1, "stream:pending" -> 2,
      "append:gen-marker" -> 1, "append:gen-marker" -> 2,
      "append:gen-moved" -> 1, "append:gen-moved" -> 2,
      "append:gen-manifest" -> 1, "append:gen-manifest" -> 2,
      "stream:committed" -> 1, "stream:committed" -> 2,
      "del:staged" -> 1, "del:staged" -> 2, "retire:reclaimed" -> 1)
    for (iter <- 1 to 4) {
      val docsA = tmpDir(s"fzdA$iter") + "/docs.parquet"
      val bktA = tmpDir(s"fzbA$iter") + "/buckets.parquet"
      val docsB = tmpDir(s"fzdB$iter") + "/docs.parquet"
      val bktB = tmpDir(s"fzbB$iter") + "/buckets.parquet"
      var nextText = 0
      val seenTexts = scala.collection.mutable.ArrayBuffer[Int]()
      val nBatches = 4 + rnd.nextInt(3)
      for (bid <- 0 until nBatches) {
        val n = 4 + rnd.nextInt(5)
        val rows = (0 until n).map { j =>
          val t =
            if (seenTexts.nonEmpty && rnd.nextDouble() < 0.35)
              seenTexts(rnd.nextInt(seenTexts.size)) // a re-crawl / dup
            else { nextText += 1; seenTexts += nextText; nextText }
          ((bid * 100 + j).toLong + iter * 100000L,
            (bid + 1) * 100L + j, text(t))
        }
        def runInto(d: String, b: String): Unit =
          Streams.dedupIngestBatch(rows.toDF("id", "ts", "text"), d, b,
            "ts", s"ck-fz$iter", "id", "text", 5, 8, 2, bid.toLong,
            retainNs = 320L)
        runInto(docsB, bktB) // the no-crash twin first
        if (rnd.nextDouble() < 0.6) {
          val (tag, nth) = tags(rnd.nextInt(tags.size))
          withCrash(tag, nth)(runInto(docsA, bktA))
          runInto(docsA, bktA) // the replay — must converge either way
        } else runInto(docsA, bktA)
        if (rnd.nextDouble() < 0.3) {
          // mid-stream maintenance on A only: fold + sidecar rebuild —
          // content must stay equal to the never-maintained twin
          Tables.compactIncremental(spark, bktA, Seq("band", "bucket"), "ts")
          Streams.rebuildDedupBloom(spark, bktA)
        }
      }
      def docsOf(p: String): Set[(Long, Long)] =
        Tables.snapshot(spark, p).select("id", "ts").as[(Long, Long)]
          .collect().toSet
      def bktOf(p: String): Seq[(Long, Int, Long)] =
        Tables.snapshot(spark, p).select("id", "band", "bucket")
          .as[(Long, Int, Long)].collect().sorted.toSeq
      assert(docsOf(docsA) == docsOf(docsB),
        s"iter $iter: doc tables diverged after crash/replay")
      assert(bktOf(bktA) == bktOf(bktB),
        s"iter $iter: bucket tables diverged after crash/replay")
      val stats = Streams.dedupStats(spark, docsA, bktA).head()
      assert(stats.getAs[Double]("rows_per_doc") == 8.0,
        s"iter $iter: doc/bucket divergence (${stats.getAs[Double]("rows_per_doc")})")
      // the superset invariant: every stored bucket value bloom-positive
      val bf = graft.streaming.DedupBloom.load(spark, bktA)
      assert(bf.isDefined, s"iter $iter: sidecar must exist after ingest")
      val stored = Tables.snapshot(spark, bktA).select("bucket")
        .distinct().as[Long].collect()
      val misses = stored.filterNot(bf.get.mightContainLong)
      assert(misses.isEmpty,
        s"iter $iter: SUPERSET INVARIANT BROKEN — stored values the bloom " +
          s"denies: ${misses.take(5).mkString(",")}")
    }
  }

  test("crash-point fuzz: the EMBEDDING dedup protocol converges under arbitrary kills") {
    // the text twin's fuzz, for the embedding protocol: its verify path
    // has one more moving part (stored VECTORS re-read from the doc
    // table, candidate-id pushdown) and its own crash matrix above is
    // point-interleaves only. Same convergence bar: exact doc and bucket
    // content vs the no-crash twin, superset invariant on the sidecar.
    val rnd = new scala.util.Random(soakSeed(20260817L))
    val dim = 8
    def vec(seedId: Int): Seq[Double] = {
      val r = new scala.util.Random(seedId * 7919L)
      Seq.fill(dim)(r.nextGaussian())
    }
    val tags = Seq("stream:pending" -> 1, "stream:pending" -> 2,
      "append:gen-marker" -> 1, "append:gen-marker" -> 2,
      "append:gen-moved" -> 1, "append:gen-moved" -> 2,
      "append:gen-manifest" -> 1, "append:gen-manifest" -> 2,
      "stream:committed" -> 1, "stream:committed" -> 2,
      "del:staged" -> 1, "del:staged" -> 2)
    for (iter <- 1 to 3) {
      val docsA = tmpDir(s"efzdA$iter") + "/docs.parquet"
      val bktA = tmpDir(s"efzbA$iter") + "/buckets.parquet"
      val docsB = tmpDir(s"efzdB$iter") + "/docs.parquet"
      val bktB = tmpDir(s"efzbB$iter") + "/buckets.parquet"
      var nextSeed = 0
      val seen = scala.collection.mutable.ArrayBuffer[Int]()
      val nBatches = 3 + rnd.nextInt(3)
      for (bid <- 0 until nBatches) {
        val n = 3 + rnd.nextInt(4)
        val rows = (0 until n).map { j =>
          val v =
            if (seen.nonEmpty && rnd.nextDouble() < 0.35) {
              // a near-duplicate of an earlier vector (cos ≈ 1 → drops
              // against the retained original, or in-batch)
              val base = vec(seen(rnd.nextInt(seen.size)))
              base.map(_ * 1.0001)
            } else { nextSeed += 1; seen += nextSeed; vec(nextSeed) }
          ((bid * 100 + j).toLong + iter * 1000000L,
            (bid + 1) * 100L + j, v)
        }
        def runInto(d: String, b: String): Unit =
          Streams.dedupIngestEmbeddingBatch(rows.toDF("id", "ts", "emb"),
            d, b, "ts", s"ck-efz$iter", "id", "emb", dim = dim,
            minCos = 0.98, tables = 8, bits = 16, batchId = bid.toLong,
            retainNs = 260L)
        runInto(docsB, bktB)
        if (rnd.nextDouble() < 0.6) {
          val (tag, nth) = tags(rnd.nextInt(tags.size))
          withCrash(tag, nth)(runInto(docsA, bktA))
          runInto(docsA, bktA)
        } else runInto(docsA, bktA)
        if (rnd.nextDouble() < 0.25) {
          Tables.compactIncremental(spark, bktA, Seq("band", "bucket"), "ts")
          Streams.rebuildDedupBloom(spark, bktA)
        }
      }
      def docsOf(p: String): Set[(Long, Long)] =
        Tables.snapshot(spark, p).select("id", "ts").as[(Long, Long)]
          .collect().toSet
      def bktOf(p: String): Seq[(Long, Int, Long)] =
        Tables.snapshot(spark, p).select("id", "band", "bucket")
          .as[(Long, Int, Long)].collect().sorted.toSeq
      assert(docsOf(docsA) == docsOf(docsB),
        s"iter $iter: embedding doc tables diverged after crash/replay")
      assert(bktOf(bktA) == bktOf(bktB),
        s"iter $iter: embedding bucket tables diverged after crash/replay")
      val bf = graft.streaming.DedupBloom.load(spark, bktA)
      assert(bf.isDefined, s"iter $iter: sidecar must exist after ingest")
      val stored = Tables.snapshot(spark, bktA).select("bucket")
        .distinct().as[Long].collect()
      assert(stored.forall(bf.get.mightContainLong),
        s"iter $iter: embedding superset invariant broken")
    }
  }
}
