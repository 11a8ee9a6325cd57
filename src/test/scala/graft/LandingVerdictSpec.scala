package graft

import graft.io.Tables
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The landing-dedup verdict, pinned case by case for both twins: each
  * batch lands against a stored corpus and the retained batch ids must
  * equal an explicit expected set. The cases are the ones a verdict that
  * decides the stored check and the in-batch clusters together could get
  * wrong: a stored-dropped doc bridging two fresh docs, docs with no
  * buckets, a batch whose only survivor has no buckets, and stored and
  * in-batch drops in one batch. Then the batch's SQL-execution budget and
  * its codegen compilations in the steady state.
  */
class LandingVerdictSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_verdict_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Six pseudo-random 6-letter words per block: distinct blocks share no
    * shingles, so a doc's similarity to another is set by the blocks the
    * two have in common.
    */
  private def blk(k: Int): Seq[String] = {
    val r = new scala.util.Random(7919L * k + 17)
    (0 until 6).map(_ => (0 until 6).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
  }
  private def doc(blocks: Int*): String = blocks.flatMap(blk).mkString(" ")

  private def jaccard(a: String, b: String): Double = {
    val sh = graft.dedup.Dedup.shingleSets(Seq((1L, a), (2L, b)).toDF("id", "text"),
      "id", "text", 5).collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    (sh(1L) & sh(2L)).size.toDouble / (sh(1L) | sh(2L)).size
  }

  /** Land `stored` as batch 0, then `batch` as batch 1; the batch ids the
    * doc table retains.
    */
  private def landText(tag: String, stored: Seq[(Long, String)],
                       batch: Seq[(Long, String)]): Set[Long] =
    landTextIn(tmpDir(s"t$tag") + "/docs.parquet",
      tmpDir(s"tb$tag") + "/buckets.parquet", stored, batch)

  private def landTextOne(docs: String, buckets: String,
                          rows: Seq[(Long, String)], bid: Long): Unit =
    Streams.dedupIngestBatch(rows.map { case (i, t) => (i, 100L + i, t) }
      .toDF("id", "ts", "text"), docs, buckets, "ts", "ck-vt", "id", "text",
      5, 8, 2, bid)

  private def landTextIn(docs: String, buckets: String, stored: Seq[(Long, String)],
                         batch: Seq[(Long, String)]): Set[Long] = {
    landTextOne(docs, buckets, stored, 0L)
    assert(Tables.snapshot(spark, docs).count() == stored.size,
      "precondition: the stored corpus lands whole")
    landTextOne(docs, buckets, batch, 1L)
    val kept = Tables.snapshot(spark, docs).select("id").as[Long].collect().toSet
    val bucketIds = Tables.snapshot(spark, buckets).select("id").as[Long]
      .collect().toSet
    assert(bucketIds.subsetOf(kept), "bucket rows only for retained docs")
    kept -- stored.map(_._1)
  }

  private def vec(xs: Double*): Seq[Double] = xs
  private val (c15, s15) = (math.cos(math.Pi / 12), math.sin(math.Pi / 12))

  private def landEmb(tag: String, stored: Seq[(Long, Seq[Double])],
                      batch: Seq[(Long, Seq[Double])]): Set[Long] = {
    val docs = tmpDir(s"e$tag") + "/docs.parquet"
    val buckets = tmpDir(s"eb$tag") + "/buckets.parquet"
    def land(rows: Seq[(Long, Seq[Double])], bid: Long): Unit =
      Streams.dedupIngestEmbeddingBatch(rows.map { case (i, v) => (i, 100L + i, v) }
        .toDF("id", "ts", "emb"), docs, buckets, "ts", s"ck-ve$tag", "id", "emb",
        dim = 4, minCos = 0.95, tables = 32, bits = 16, batchId = bid)
    land(stored, 0L)
    assert(Tables.snapshot(spark, docs).count() == stored.size,
      "precondition: the stored corpus lands whole")
    land(batch, 1L)
    Tables.snapshot(spark, docs).select("id").as[Long].collect().toSet --
      stored.map(_._1)
  }

  private def cos(a: Seq[Double], b: Seq[Double]): Double = {
    def dot(x: Seq[Double], y: Seq[Double]) = x.zip(y).map { case (p, q) => p * q }.sum
    dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
  }

  test("text: a doc dropped by the stored check never bridges two fresh docs") {
    // A near-duplicates the stored S (4 of 5 blocks); B and C each
    // near-duplicate A along different blocks but neither S nor each
    // other. A holds the smallest id, so were A a cluster member, B and C
    // would both lose to it.
    val s = doc(1, 2, 3, 4, 90)
    val a = doc(1, 2, 3, 4, 5)
    val b = doc(2, 3, 4, 5, 91)
    val c = doc(1, 92, 3, 4, 5)
    Seq(a -> s, b -> a, c -> a).foreach { case (x, y) =>
      assert(jaccard(x, y) >= 0.5, "precondition: near-duplicate edge") }
    Seq(b -> s, c -> s, b -> c).foreach { case (x, y) =>
      assert(jaccard(x, y) < 0.5, "precondition: no edge") }
    val bb = graft.dedup.Dedup.bandBuckets(Seq((1001L, a), (1002L, b), (1003L, c))
      .toDF("id", "text"), "id", "text", 5, 8, 2)
    val cand = graft.dedup.Dedup.bandedPairs(bb, "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand((1001L, 1002L)) && cand((1001L, 1003L)),
      s"precondition: A collides with B and with C in-batch: $cand")
    assert(landText("bridge", Seq(1L -> s), Seq(1001L -> a, 1002L -> b, 1003L -> c)) ==
      Set(1002L, 1003L))
  }

  test("text: docs too short to shingle survive") {
    val s = doc(10, 11, 12, 13)
    assert(landText("short", Seq(1L -> s),
      Seq(1001L -> "ab", 1002L -> s, 1003L -> doc(20, 21, 22, 23), 1004L -> "cd ")) ==
      Set(1001L, 1003L, 1004L))
  }

  test("text: stored exact duplicates plus one short doc is not all-drop") {
    val stored = Seq(1L -> doc(30, 31, 32), 2L -> doc(33, 34, 35))
    assert(landText("notall", stored,
      Seq(1001L -> doc(30, 31, 32), 1002L -> doc(33, 34, 35), 1003L -> "x")) ==
      Set(1003L))
  }

  test("text: a stored near-duplicate and an in-batch cluster in one batch") {
    val stored = Seq(1L -> doc(40, 41, 42, 43, 44), 2L -> doc(45, 46, 47))
    val near = doc(40, 41, 42, 43, 93)
    assert(jaccard(near, stored.head._2) >= 0.5 && near != stored.head._2,
      "precondition: a tier-2 (not exact) stored near-duplicate")
    val d1 = doc(50, 51, 52, 53, 54, 55, 56, 57, 58)
    val d2 = doc(50, 51, 52, 53, 54, 55, 56, 57, 94)
    assert(jaccard(d1, d2) >= 0.5, "precondition: an in-batch near-duplicate pair")
    assert(landText("mixed", stored, Seq(1001L -> near, 1002L -> doc(45, 46, 47),
      1003L -> d2, 1004L -> d1, 1005L -> doc(60, 61, 62), 1006L -> d1)) ==
      Set(1003L, 1005L))
  }

  test("text: past both collect caps the frame path keeps the same docs and buckets") {
    // a mixed batch (stored exact and near duplicates, an in-batch
    // cluster, a short doc) and an all-drop re-crawl, landed under the
    // default caps and again with both caps at 1: the batch rows, the
    // candidate pairs and the candidates all go over, so the verdict comes
    // from the frame path, Spark-side pairs and the bucket-value collect
    val stored = Seq(1L -> doc(70, 71, 72, 73, 74), 2L -> doc(75, 76, 77))
    val batch = Seq(1001L -> doc(70, 71, 72, 73, 95), 1002L -> doc(75, 76, 77),
      1003L -> doc(80, 81, 82, 83, 84, 85, 86, 87, 96),
      1004L -> doc(80, 81, 82, 83, 84, 85, 86, 87, 88), 1005L -> "zz",
      1006L -> doc(89, 90, 91))
    def run(tag: String, cap: Option[String]): (Set[Long], Set[Seq[Any]], Long) = {
      cap.foreach { c =>
        sys.props("graft.dedup.probe.collect.max") = c
        sys.props("graft.dedup.verify.collect.max") = c
      }
      try {
        val docs = tmpDir(s"t$tag") + "/docs.parquet"
        val buckets = tmpDir(s"tb$tag") + "/buckets.parquet"
        val kept = landTextIn(docs, buckets, stored, batch)
        landTextOne(docs, buckets, stored.map { case (i, t) => (i + 5000L, t) }, 2L)
        (kept, Tables.snapshot(spark, buckets).collect().map(_.toSeq).toSet,
          Tables.snapshot(spark, docs).count())
      } finally cap.foreach { _ =>
        sys.props.remove("graft.dedup.probe.collect.max")
        sys.props.remove("graft.dedup.verify.collect.max")
      }
    }
    val (kept, rows, n) = run("capd", None)
    assert(kept == Set(1003L, 1005L, 1006L))
    assert(n == stored.size + kept.size, "the re-crawl drops every doc")
    assert(run("capf", Some("1")) == ((kept, rows, n)),
      "the frame path must keep the same docs and bucket rows")
  }

  test("embedding: a vector dropped by the stored check never bridges two fresh ones") {
    val s = vec(1, 0, 0, 0)
    val a = vec(c15, s15, 0, 0)
    val b = vec(math.cos(math.Pi / 6), math.sin(math.Pi / 6), 0, 0)
    val c = vec(c15 * c15, c15 * s15, s15, 0)
    Seq(a -> s, b -> a, c -> a).foreach { case (x, y) =>
      assert(cos(x, y) >= 0.95, "precondition: near-duplicate edge") }
    Seq(b -> s, c -> s, b -> c).foreach { case (x, y) =>
      assert(cos(x, y) < 0.95, "precondition: no edge") }
    assert(landEmb("bridge", Seq(1L -> s), Seq(1001L -> a, 1002L -> b, 1003L -> c)) ==
      Set(1002L, 1003L))
  }

  test("embedding: zero-norm vectors survive") {
    assert(landEmb("zero", Seq(1L -> vec(1, 0, 0, 0)),
      Seq(1001L -> vec(0, 0, 0, 0), 1002L -> vec(1, 0, 0, 0),
        1003L -> vec(0, 1, 0, 0))) == Set(1001L, 1003L))
  }

  test("embedding: stored exact duplicates plus one zero-norm vector is not all-drop") {
    assert(landEmb("notall", Seq(1L -> vec(1, 0, 0, 0), 2L -> vec(0, 1, 0, 0)),
      Seq(1001L -> vec(1, 0, 0, 0), 1002L -> vec(0, 1, 0, 0),
        1003L -> vec(0, 0, 0, 0))) == Set(1003L))
  }

  test("embedding: a stored near-duplicate and an in-batch cluster in one batch") {
    assert(landEmb("mixed", Seq(1L -> vec(1, 0, 0, 0), 2L -> vec(0, 1, 0, 0)),
      Seq(1001L -> vec(c15, s15, 0, 0), 1002L -> vec(0, 1, 0, 0),
        1003L -> vec(0, 0, c15, s15), 1004L -> vec(0, 0, 1, 0),
        1005L -> vec(0, 0, 0, 1), 1006L -> vec(0, 0, 1, 0))) ==
      Set(1003L, 1005L))
  }

  test("fresh batch with stored and in-batch candidates: 5 SQL executions") {
    // stored docs share 5 of 12 words with the batch's docs, and the
    // batch's docs pairwise with each other: band collisions on both
    // sides, none near enough to verify, so every doc lands
    def stored(i: Int): String = (0 until 12).map(w => s"s${w}t$i").mkString(" ")
    def variant(i: Int, v: Int): String = ((0 until 5).map(w => s"s${w}t$i") ++
      (5 until 12).map(w => s"v$v${w}u$i")).mkString(" ")
    def batch(from: Int): DataFrame = (from until from + 30)
      .flatMap(i => Seq(1, 2).map(v => (1000L * v + i, 1000L + 2 * i + v, variant(i, v))))
      .toDF("id", "ts", "text")
    val docs = tmpDir("fcdoc") + "/docs.parquet"
    val buckets = tmpDir("fcbkt") + "/buckets.parquet"
    def land(df: DataFrame, bid: Long): Unit =
      Streams.dedupIngestBatch(df, docs, buckets, "ts", "ck-fc", "id", "text",
        5, 8, 2, bid)
    land((0 until 90).map(i => (i.toLong, 100L + i, stored(i))).toDF("id", "ts", "text"), 0L)
    Tables.compactIncremental(spark, buckets, Seq("band", "bucket"), "ts")
    // two unmeasured batches of the same shape: the head schema memo and
    // the codegen cache reach their steady state
    land(batch(0), 1L)
    land(batch(30), 2L)
    val measured = batch(60)
    val bb = graft.dedup.Dedup.bandBuckets(measured, "id", "text", 5, 8, 2)
    assert(!bb.join(Tables.snapshot(spark, buckets).select("band", "bucket"),
      Seq("band", "bucket"), "left_semi").isEmpty,
      "precondition: the batch band-collides with stored docs")
    assert(!graft.dedup.Dedup.bandedPairs(bb, "id").isEmpty,
      "precondition: the batch band-collides with itself")
    val compile = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    JobWatch.on(spark) { w =>
      val before = compile.getCount
      w.measure(land(measured, 3L))
      val compiled = compile.getCount - before
      info(s"fresh batch: ${w.executions.size} SQL executions, ${w.count} jobs, " +
        s"$compiled compiled classes")
      assert(w.executions.size <= 5,
        s"fresh batch ran ${w.executions.size} SQL executions:${w.describe}")
      assert(!w.jobs.exists(_.site.contains("localCheckpoint")),
        s"no verified in-batch pair, yet connected components ran:${w.describe}")
    }
    assert(Tables.snapshot(spark, docs).count() == 90 + 3 * 60)
  }
}
