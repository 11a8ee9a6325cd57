package graft

import graft.io.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the r18 BATCHED file-bloom sidecar build: one grouped
  * cs_bloom_agg job per sync replaces the per-missing-file
  * (schema-inference job + df.stat.bloomFilter job) pair, and the sidecar
  * BYTES must be identical — the pruning layer (load / mightContainLong /
  * cache-cap refusal) is untouched and must not be able to tell which
  * builder ran.
  */
class FileBloomsBatchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"fbb_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private val Magic = 0x47464246
  private val FormatV = 1

  /** The sidecar bytes the LEGACY per-file builder would install:
    * header + df.stat.bloomFilter(file, col, max(64, rows), fpp).
    */
  private def legacyBytes(file: String, colName: String): Array[Byte] = {
    val df = spark.read.parquet(file).select(colName)
    val rows = df.count()
    val bf = df.stat.bloomFilter(colName, math.max(64L, rows), 1e-5)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(Magic); out.writeInt(FormatV); bf.writeTo(out); out.flush()
    bos.toByteArray
  }

  private def win(w: Int, rows: Int = 400) = (0 until rows)
    .map(i => (w * 1000L + i, i % 8, w * 100000L + i, w * 1000L + i))
    .toDF("id", "band", "bucket", "ts")
    .repartition(1).sortWithinPartitions("band", "bucket")

  test("batched sidecars are BYTE-IDENTICAL to the per-file df.stat.bloomFilter build") {
    val buckets = tmpDir("ident") + "/buckets.parquet"
    for (w <- 0 until 3) Tables.append(win(w), buckets, "ts", lit(0L))
    graft.streaming.FileBlooms.sync(spark, buckets)
    val fbDir = new java.io.File(new java.io.File(buckets).getParent,
      "buckets.parquet.fblooms")
    val live = Tables.snapshot(spark, buckets).inputFiles.toSeq
    assert(live.size == 3)
    live.foreach { f =>
      val name = f.split("/").last
      val sidecar = new java.io.File(fbDir, name + ".bloom")
      assert(sidecar.isFile, s"missing sidecar for $name")
      val got = java.nio.file.Files.readAllBytes(sidecar.toPath)
      val want = legacyBytes(f, "bucket")
      assert(java.util.Arrays.equals(got, want),
        s"sidecar bytes diverged from the legacy build for $name " +
          s"(${got.length} vs ${want.length} bytes)")
    }
  }

  test("a one-file landing batch's sidecar is built from its values, BYTE-IDENTICAL to the read-back") {
    val dir = tmpDir("land")
    val (docs, buckets) = (dir + "/docs.parquet", dir + "/buckets.parquet")
    def text(i: Int): String = (0 until 12).map(w => s"b${w}y$i").mkString(" ")
    def land(bid: Long, from: Int): Unit = graft.streaming.Streams.dedupIngestBatch(
      (from until from + 40).map(i => (i.toLong, 100L + i, text(i)))
        .toDF("id", "ts", "text"), docs, buckets, "ts", "ck-fbl", "id", "text",
      5, 8, 2, bid)
    land(0L, 0)
    val before = Tables.liveFileNames(spark, buckets).getOrElse(Nil).toSet
    JobWatch.on(spark) { w =>
      w.measure(land(1L, 100))
      assert(!w.jobs.exists(j => j.site.contains("FileBlooms.scala") ||
        j.description.contains("FileBlooms.scala")),
        s"the new file's bloom was built by reading the file back:${w.describe}")
    }
    val fresh = Tables.liveFileNames(spark, buckets).getOrElse(Nil).toSet -- before
    assert(fresh.size == 1, s"precondition: the batch lands one bucket file: $fresh")
    val sidecar = new java.io.File(new java.io.File(dir, "buckets.parquet.fblooms"),
      fresh.head + ".bloom")
    val built = java.nio.file.Files.readAllBytes(sidecar.toPath)
    // the same file's sidecar from sync's read-back build
    assert(sidecar.delete())
    graft.streaming.FileBlooms.clearCache()
    graft.streaming.FileBlooms.sync(spark, buckets)
    assert(java.util.Arrays.equals(built, java.nio.file.Files.readAllBytes(sidecar.toPath)),
      "the values-built sidecar diverged from the read-back build")
    assert(java.util.Arrays.equals(built, legacyBytes(s"$buckets/${fresh.head}", "bucket")))
  }

  test("one sync over many missing files launches ONE batched build job set, not 2 per file") {
    val buckets = tmpDir("jobs") + "/buckets.parquet"
    for (w <- 0 until 6) Tables.append(win(w, rows = 120), buckets, "ts", lit(0L))
    JobWatch.on(spark) { w =>
      w.measure(graft.streaming.FileBlooms.sync(spark, buckets))
      // the legacy builder launched ~2 jobs per missing file (12 for the
      // 6 files here); the batched build is one SQL execution — scan +
      // partial agg, shuffle read, collect — tolerating AQE stage-count
      // variation but NOT per-file scaling
      assert(w.count <= 5,
        s"batched bloom build launched ${w.count} jobs for 6 files:${w.describe}")
    }
    // and all six sidecars landed
    val fbDir = new java.io.File(new java.io.File(buckets).getParent,
      "buckets.parquet.fblooms")
    assert(fbDir.listFiles.count(_.getName.endsWith(".bloom")) == 6)
  }

  test("a failed batch job degrades to the per-file fallback; sidecars still land, bytes identical") {
    val buckets = tmpDir("fault") + "/buckets.parquet"
    for (w <- 0 until 3) Tables.append(win(w, rows = 80), buckets, "ts", lit(0L))
    graft.streaming.FileBlooms.batchFailHook =
      Some(() => sys.error("injected batch failure"))
    try graft.streaming.FileBlooms.sync(spark, buckets)
    finally graft.streaming.FileBlooms.batchFailHook = None
    val fbDir = new java.io.File(new java.io.File(buckets).getParent,
      "buckets.parquet.fblooms")
    val live = Tables.snapshot(spark, buckets).inputFiles.toSeq
    assert(live.size == 3)
    live.foreach { f =>
      val name = f.split("/").last
      val sidecar = new java.io.File(fbDir, name + ".bloom")
      assert(sidecar.isFile, s"fallback must still build $name")
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(sidecar.toPath), legacyBytes(f, "bucket")),
        s"fallback sidecar bytes diverged for $name")
    }
  }

  test("cs_bloom_agg: all-null group still yields its empty filter; probes behave like the legacy build") {
    graft.sqlext.GraftFunctions.register(spark)
    val df = Seq[(String, java.lang.Long)](
      ("a", 11L), ("a", 12L), ("a", null), ("b", null))
      .toDF("g", "v")
    val rows = df.groupBy("g")
      .agg(call_function("cs_bloom_agg", col("v"), lit(64L), lit(1e-5))
        .as("bloom"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val bfA = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(rows("a")))
    assert(bfA.mightContainLong(11L) && bfA.mightContainLong(12L))
    assert(!bfA.mightContainLong(13L), "1e-5 fpp at 2 items cannot false-positive here")
    val bfB = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(rows("b")))
    assert(!bfB.mightContainLong(11L), "an all-null group is an EMPTY filter")
    // and the non-null group's bytes equal the df.stat.bloomFilter form
    val want = df.filter(col("g") === "a").select("v")
      .stat.bloomFilter("v", 64L, 1e-5)
    val bos = new java.io.ByteArrayOutputStream(); want.writeTo(bos)
    assert(java.util.Arrays.equals(rows("a"), bos.toByteArray),
      "grouped aggregate bytes must equal the per-frame stat build")
  }

  test("cs_bloom_agg fails loudly on a non-null value it cannot size (null n_items)") {
    // silently dropping the value would manufacture a bloom FALSE
    // NEGATIVE — the one failure mode a bloom must never have
    graft.sqlext.GraftFunctions.register(spark)
    val df = Seq[(String, java.lang.Long, java.lang.Long)](("a", 11L, null))
      .toDF("g", "v", "n")
    val e = intercept[Exception] {
      df.groupBy("g")
        .agg(call_function("cs_bloom_agg", col("v"), col("n"), lit(1e-5)))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("cannot be sized")), s"got: $e")
  }

  test("batched-build groups cap the files per group; the byte budget splits as before") {
    import graft.streaming.FileBlooms.{buildGroups, MaxFilesPerBuild}
    val small = (0 until 2500).map(i => s"f$i.parquet" -> 10L)
    val groups = buildGroups(small, _ * 8, budget = 1L << 40)
    assert(groups.size >= 3, s"${groups.size} groups")
    assert(groups.forall(_.size <= MaxFilesPerBuild))
    assert(groups.flatten.sorted == small.sorted)
    // the byte budget alone: 40-byte entries under a 100-byte budget pair
    // up, and an over-budget entry stands alone
    val sized = Seq("a" -> 40L, "b" -> 40L, "c" -> 40L, "d" -> 500L, "e" -> 40L)
    assert(buildGroups(sized, identity, budget = 100L).reverse.map(_.reverse.map(_._1)) ==
      List(List("a", "b"), List("c"), List("d"), List("e")))
  }
}
