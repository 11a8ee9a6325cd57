package graft

import graft.io.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Table lifecycle contracts (imcs--1.1.sql:33-430; append trigger
  * imcs.c:4617-4740).
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_tables_$tag")
    d.toFile.deleteOnExit()
    s"$d/t"
  }

  test("append at/above the stored tail is accepted") {
    val path = tmp("ok")
    Tables.load(Seq((1L, 1.0), (5L, 2.0)).toDF("ts", "v"), path, Seq(), "ts")
    Tables.append(Seq((5L, 3.0), (9L, 4.0)).toDF("ts", "v"), path, "ts", lit(5L))
    assert(spark.read.parquet(path).count() == 4)
  }

  test("append below the stored tail is rejected (reference trigger semantics)") {
    val path = tmp("ooo")
    Tables.load(Seq((1L, 1.0), (10L, 2.0)).toDF("ts", "v"), path, Seq(), "ts")
    val e = intercept[IllegalStateException] {
      Tables.append(Seq((7L, 3.0)).toDF("ts", "v"), path, "ts", lit(0L))
    }
    assert(e.getMessage.contains("out-of-order append"))
    // the rejected append must not have written anything
    assert(spark.read.parquet(path).count() == 2)
  }

  test("append to a fresh path needs no tail check") {
    val path = tmp("fresh")
    Tables.append(Seq((3L, 1.0)).toDF("ts", "v"), path, "ts", lit(0L))
    assert(spark.read.parquet(path).count() == 1)
  }

  test("compact folds per-batch append files into the load layout") {
    val path = tmp("compact")
    // load + 3 appends: at least 4 file sets accumulate
    Tables.load((0L until 10L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    for (b <- 1 to 3) {
      val lo = b * 10L
      Tables.append((lo until lo + 10L).map(i => (i, i * 1.0)).toDF("ts", "v"),
        path, "ts", lit(lo))
    }
    val expect = spark.read.parquet(path).select("ts", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val (nBefore, nAfter) = Tables.compact(spark, path, Seq(), "ts")
    assert(nBefore > nAfter, s"compact must reduce files: $nBefore -> $nAfter")
    assert(nAfter == 1, s"40 tiny rows fit one target file, got $nAfter")
    val got = spark.read.parquet(path).select("ts", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got.toSeq == expect.toSeq) // rewrite changes layout, never data
    // the compacted layout still accepts appends above the tail
    Tables.append(Seq((40L, 40.0)).toDF("ts", "v"), path, "ts", lit(40L))
    assert(spark.read.parquet(path).count() == 41)
  }

  private def dataFiles(path: String): Seq[java.io.File] =
    new java.io.File(path).listFiles
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .toSeq.sortBy(_.getName)

  private def md5(f: java.io.File): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(java.nio.file.Files.readAllBytes(f.toPath))
      .map("%02x".format(_)).mkString

  test("compactIncremental folds appends; cold load files stay byte-identical") {
    val path = tmp("inc")
    Tables.load((0L until 2000L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    val coldBefore = dataFiles(path).map(f => (f.getName, f.length, md5(f)))
    assert(coldBefore.nonEmpty)
    for (b <- 1 to 3) {
      val lo = 2000L + b * 100L
      Tables.append((lo until lo + 100L).map(i => (i, i * 1.0)).toDF("ts", "v"),
        path, "ts", lit(lo))
    }
    val m = Tables.manifest(spark, path).get
    assert(m.files.count(!_.loaded) > 0, "appends must register as hot")
    assert(m.files.count(_.loaded) == coldBefore.size)
    val expect = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val (nb, na) = Tables.compactIncremental(spark, path, Seq(), "ts")
    assert(na < nb, s"appended file sets must fold: $nb -> $na")
    // THE incremental contract: untouched cold files — same names, same
    // lengths, same bytes (carried by rename, never rewritten)
    val after = dataFiles(path).map(f => (f.getName, f.length, md5(f)))
    coldBefore.foreach { c =>
      assert(after.contains(c), s"cold file $c was rewritten or lost")
    }
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == expect, "layout maintenance must never change data")
    val m2 = Tables.manifest(spark, path).get
    assert(m2.files.forall(_.loaded), "post-compact everything is the layout")
    assert(m2.files.size == after.size)
    // further appends still work on the folded layout
    Tables.append(Seq((9000L, 1.0)).toDF("ts", "v"), path, "ts", lit(9000L))
    assert(Tables.manifest(spark, path).get.files.count(!_.loaded) == 1)
  }

  test("compactIncremental with nothing appended is a no-op") {
    val path = tmp("inc_noop")
    Tables.load((0L until 500L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    val before = dataFiles(path).map(f => (f.getName, f.length, md5(f)))
    val (nb, na) = Tables.compactIncremental(spark, path, Seq(), "ts")
    assert(nb == na)
    assert(dataFiles(path).map(f => (f.getName, f.length, md5(f))) == before)
  }

  test("compactIncremental without a manifest falls back to the full rewrite") {
    val path = tmp("inc_fallback")
    Tables.load((0L until 100L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    Tables.append((100L until 200L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, "ts", lit(100L))
    // simulate a legacy / foreign-managed dir: no manifest
    new java.io.File(path, "_graft_manifest.json").delete()
    val (_, na) = Tables.compactIncremental(spark, path, Seq(), "ts")
    assert(na >= 1)
    assert(spark.read.parquet(path).count() == 200)
    // the full rewrite re-establishes the manifest for next time
    assert(Tables.manifest(spark, path).exists(_.files.forall(_.loaded)))
  }

  test("a stray uncommitted staging dir is cleaned up, not installed") {
    val path = tmp("inc_stray")
    Tables.load((0L until 100L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    Tables.append(Seq((100L, 1.0)).toDF("ts", "v"), path, "ts", lit(100L))
    val stray = new java.io.File(path + ".compact.tmp")
    stray.mkdirs()
    java.nio.file.Files.write(new java.io.File(stray, "garbage.parquet").toPath,
      Array[Byte](1, 2, 3))
    Tables.compactIncremental(spark, path, Seq(), "ts")
    assert(!stray.exists(), "uncommitted staging (no marker) must be deleted")
    assert(spark.read.parquet(path).count() == 101)
  }

  test("crash recovery: a committed mid-swap state rolls FORWARD, no loss or dup") {
    // Simulate a compactIncremental that died right after writing the
    // commit marker: the staged dir holds the folded hot data, the live
    // dir still holds cold + hot, and the marker lists the cold files.
    // Recovery (at the next compact entry) must finish the job: cold
    // files move into the staged dir, the swap completes, and the table
    // reads back exactly cold ∪ folded-hot — nothing lost, nothing twice.
    val path = tmp("roll")
    val cold = (0L until 300L).map(i => (i, i * 1.0))
    val hot = (300L until 400L).map(i => (i, i * 1.0))
    Tables.load(cold.toDF("ts", "v"), path, Seq(), "ts")
    val coldNames = dataFiles(path).map(_.getName)
    // real-protocol order: the append lands FIRST, then the compact
    // stages. (Staging before the append would be an uncommitted tmp dir
    // that append's entry recovery rightly deletes as garbage — every
    // mutating op now runs recovery first.)
    Tables.append(hot.toDF("ts", "v"), path, "ts", lit(300L))
    // the staged dir: what the fold of the hot batch would have produced —
    // folded files plus the staged manifest describing the FINAL state
    // (cold entries carried over + folded entries), exactly what
    // compactIncremental stages before it writes the marker
    Tables.load(hot.toDF("ts", "v"), path + ".compact.tmp", Seq(), "ts")
    locally {
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      import org.json4s.jackson.Serialization
      def readM(p: String) = Serialization.read[graft.io.TsManifest](
        new String(java.nio.file.Files.readAllBytes(
          new java.io.File(p, "_graft_manifest.json").toPath), "UTF-8"))
      val merged = readM(path + ".compact.tmp").copy(files =
        readM(path).files.filter(_.loaded) ++ readM(path + ".compact.tmp").files)
      java.nio.file.Files.write(
        new java.io.File(path + ".compact.tmp", "_graft_manifest.json").toPath,
        Serialization.write(merged).getBytes("UTF-8"))
      // editing behind Hadoop's back leaves a stale .crc sidecar that
      // would fail fs.open — the real flow writes through fs.create
      new java.io.File(path + ".compact.tmp", "._graft_manifest.json.crc").delete()
    }
    java.nio.file.Files.write(
      new java.io.File(path + ".compact.commit").toPath,
      coldNames.map("\"" + _ + "\"").mkString("[", ",", "]").getBytes("UTF-8"))
    Tables.compactIncremental(spark, path, Seq(), "ts")
    assert(!new java.io.File(path + ".compact.commit").exists())
    assert(!new java.io.File(path + ".compact.tmp").exists())
    assert(!new java.io.File(path + ".compact.old").exists())
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == (cold ++ hot), "roll-forward must yield cold ∪ folded-hot exactly")
    // the carried cold files are still the original bytes
    val after = dataFiles(path).map(_.getName).toSet
    coldNames.foreach(n => assert(after.contains(n), s"cold $n lost in roll-forward"))
  }

  test("crash recovery: marker after a completed swap only cleans up") {
    val path = tmp("rolltail")
    Tables.load((0L until 100L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    val before = dataFiles(path).map(f => (f.getName, f.length, md5(f)))
    // crash point: tmp already renamed into place, old + marker left behind
    val old = new java.io.File(path + ".compact.old")
    old.mkdirs()
    java.nio.file.Files.write(new java.io.File(old, "stale.parquet").toPath,
      Array[Byte](9, 9))
    java.nio.file.Files.write(new java.io.File(path + ".compact.commit").toPath,
      "[]".getBytes("UTF-8"))
    val (nb, na) = Tables.compactIncremental(spark, path, Seq(), "ts")
    assert(nb == na, "nothing hot — recovery cleanup then no-op")
    assert(!old.exists() && !new java.io.File(path + ".compact.commit").exists())
    assert(dataFiles(path).map(f => (f.getName, f.length, md5(f))) == before)
  }

  test("loadBucketedIfAbsent re-ingests when the bucket spec changed in code") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val df = (0L until 100L).map(i => (i % 7, i, i * 1.0)).toDF("k", "ts", "v")
    val t = "t_bkt_spec_check"
    Tables.loadBucketedIfAbsent(df, t, Seq("k"), 4, sortCols = Seq("ts"))
    def spec = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
      .bucketSpec.get
    assert(spec.numBuckets == 4)
    // same spec → reuse (pay-once): the table object is untouched
    val created = spark.sessionState.catalog.getTableMetadata(TableIdentifier(t)).createTime
    Tables.loadBucketedIfAbsent(df, t, Seq("k"), 4, sortCols = Seq("ts"))
    assert(spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
      .createTime == created, "matching spec must not re-ingest")
    // changed bucket count → the stale layout must NOT be silently reused
    Tables.loadBucketedIfAbsent(df, t, Seq("k"), 8, sortCols = Seq("ts"))
    assert(spec.numBuckets == 8, "spec change in code must re-ingest")
    assert(spark.table(t).count() == 100)
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("rangeScan prunes files via the manifest (no footer pass, any encoding)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_scan")
    dir.toFile.deleteOnExit()
    val day = 86400000000000L
    // 30 "days" of int64-ns data, range-clustered at load into many files
    val rows = (0L until 3000L).map(i => (i * day / 100L, i * 1.0))
    Tables.load(rows.toDF("ts", "v").repartition(10), s"$dir/t.parquet", Seq(), "ts")
    val all = dataFiles(s"$dir/t.parquet")
    assert(all.size > 3, s"need a multi-file layout, got ${all.size}")
    val scanned = Tables.rangeScan(spark, dir.toString, "t", 10 * day, 11 * day)
    assert(scanned.inputFiles.length < all.size,
      s"manifest pruning must drop non-overlapping files " +
        s"(read ${scanned.inputFiles.length} of ${all.size})")
    val expect = rows.filter(r => r._1 >= 10 * day && r._1 < 11 * day).sortBy(_._1)
    val got = scanned.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got.toSeq == expect)
    // a stale manifest (size mismatch) disables pruning but never breaks reads
    val mf = new java.io.File(s"$dir/t.parquet", "_graft_manifest.json")
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    java.nio.file.Files.write(mf.toPath,
      txt.replaceFirst("\"bytes\":\\d+", "\"bytes\":1").getBytes("UTF-8"))
    // drop the stale Hadoop .crc so the reader sees a PARSEABLE-but-stale
    // manifest (size mismatch) rather than a checksum failure — the
    // consistency check, not the parse guard, is what this case pins
    new java.io.File(s"$dir/t.parquet", "._graft_manifest.json.crc").delete()
    val fallback = Tables.rangeScan(spark, dir.toString, "t", 10 * day, 11 * day)
    val got2 = fallback.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got2.toSeq == expect)
  }

  test("compact at a small targetBytes keeps files range-disjoint in ts") {
    val path = tmp("compact_rs")
    Tables.load((0L until 4000L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    // tiny target → several output files; each must cover a disjoint
    // ts slice (the property row-group pruning needs)
    val (_, nAfter) = Tables.compact(spark, path, Seq(), "ts", targetBytes = 16L << 10)
    assert(nAfter > 1, s"expected a multi-file layout, got $nAfter")
    val dir = new java.io.File(path)
    val ranges = dir.listFiles.filter(_.getName.endsWith(".parquet")).map { f =>
      val d = spark.read.parquet(f.getPath).agg(min("ts"), max("ts")).head()
      (d.getLong(0), d.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2,
        s"overlapping file ranges: $hi1 >= $lo2 in ${ranges.mkString(",")}")
      case _ =>
    }
  }

  test("append tail guard is a metadata lookup when a manifest is present") {
    val path = tmp("mguard")
    Tables.load((0L until 100L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    // garbage every stored data file IN PLACE (same names, same lengths):
    // the manifest stays consistent with the listing, but any actual read
    // of the data would throw — so an append that still enforces the tail
    // correctly has provably read ZERO stored data bytes
    for (f <- dataFiles(path)) {
      java.nio.file.Files.write(f.toPath, Array.fill[Byte](f.length.toInt)(0x5a))
      val crc = new java.io.File(f.getParentFile, "." + f.getName + ".crc")
      if (crc.exists) crc.delete() // stale checksums would fail before parquet
    }
    // in-order append: accepted without touching the (garbaged) data
    Tables.append(Seq((150L, 1.0)).toDF("ts", "v"), path, "ts", lit(0L))
    // out-of-order append: rejected from the manifest-recorded tail (150)
    val e = intercept[IllegalStateException] {
      Tables.append(Seq((120L, 2.0)).toDF("ts", "v"), path, "ts", lit(0L))
    }
    assert(e.getMessage.contains("manifest"),
      s"guard should cite the manifest tail, got: ${e.getMessage}")
  }

  private def tableLoc(t: String): java.io.File =
    new java.io.File(java.net.URI.create(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location.toString))

  test("bucketed append enforces the ordered-ingest contract from the manifest (metadata-only)") {
    val t = "bkt_ooo_guard"
    Tables.loadBucketed((0L until 50L).map(i => (i % 5, i, i * 1.0))
      .toDF("k", "ts", "v"), t, Seq("k"), 4, sortCols = Seq("ts"))
    // garble every stored data file IN PLACE (same names, same lengths):
    // the manifest stays consistent with the listing but any data read
    // would throw — a tail check that still fires has provably read ZERO
    // stored data bytes, the same property the clustered append proves
    for (f <- tableLoc(t).listFiles.toSeq
         if f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")) {
      java.nio.file.Files.write(f.toPath, Array.fill[Byte](f.length.toInt)(0x5a))
      val crc = new java.io.File(f.getParentFile, "." + f.getName + ".crc")
      if (crc.exists) crc.delete()
    }
    // in-order append: accepted without touching the (garbaged) data
    Tables.appendBucketed(Seq((1L, 60L, 1.0)).toDF("k", "ts", "v"), t)
    // out-of-order append: rejected from the manifest-recorded tail (60)
    val e = intercept[IllegalStateException] {
      Tables.appendBucketed(Seq((1L, 10L, 2.0)).toDF("k", "ts", "v"), t)
    }
    assert(e.getMessage.contains("manifest"),
      s"guard should cite the manifest tail, got: ${e.getMessage}")
    // key-only (sortless) specs carry no series order — append stays free
    val t2 = "bkt_ooo_sortless"
    Tables.loadBucketed(Seq((1L, 9L)).toDF("k", "ts"), t2, Seq("k"), 2)
    Tables.appendBucketed(Seq((1L, 3L)).toDF("k", "ts"), t2)
    assert(spark.table(t2).count() == 2)
  }

  test("append/load after a crashed compact or delete recover first (no silent loss)") {
    // a committed compact marker left by a killed writer must be rolled
    // forward BEFORE an append writes fresh files — otherwise the NEXT
    // compact's recovery would sweep the appended files aside with the
    // replaced dir and delete them
    val path = tmp("recfirst")
    Tables.load((0L until 40L).map(i => (i, i * 1.0)).toDF("ts", "v"), path, Seq(), "ts")
    Tables.append(Seq((50L, 1.0)).toDF("ts", "v"), path, "ts", lit(0L))
    assert(withCrash("incr:gen-marker", 1) {
      Tables.compactIncremental(spark, path, Seq(), "ts")
    })
    // the marker is committed; append must roll the swap forward, then add
    Tables.append(Seq((60L, 2.0)).toDF("ts", "v"), path, "ts", lit(0L))
    val (nb, na) = Tables.compactIncremental(spark, path, Seq(), "ts")
    assert(na <= nb)
    val got = spark.read.parquet(path).orderBy("ts")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.size == 42 && got.contains((50L, 1.0)) && got.contains((60L, 2.0)),
      s"rows lost across crash-recovery + append: ${got.size}")
    // a deleteRange mid-swap crash leaves the only copy at .delete.old;
    // an append must restore it first, never recreate a live dir that
    // makes the next delete treat the copy as superseded cleanup
    val path2 = tmp("recdel")
    Tables.load((0L until 30L).map(i => (i, i * 1.0)).toDF("ts", "v"), path2, Seq(), "ts")
    assert(withCrash("del:gen-moved", 1) {
      Tables.deleteRange(spark, path2, "ts", lit(5L), lit(9L))
    })
    Tables.append(Seq((90L, 3.0)).toDF("ts", "v"), path2, "ts", lit(0L))
    Tables.deleteRange(spark, path2, "ts", lit(5L), lit(9L))
    val got2 = spark.read.parquet(path2).select("ts").as[Long].collect().toSet
    assert(got2.size == 26 && got2.contains(90L) && !got2.contains(5L),
      s"recovered+appended+deleted content wrong: ${got2.size} rows")
    // truncate clears protocol siblings: stale marker state must not
    // resurrect the truncated table on the next op's entry recovery
    val path3 = tmp("rectrunc")
    Tables.load((0L until 20L).map(i => (i, i * 1.0)).toDF("ts", "v"), path3, Seq(), "ts")
    Tables.append(Seq((30L, 1.0)).toDF("ts", "v"), path3, "ts", lit(0L))
    assert(withCrash("incr:gen-marker", 1) {
      Tables.compactIncremental(spark, path3, Seq(), "ts")
    })
    Tables.truncate(spark, path3)
    Tables.append(Seq((99L, 9.0)).toDF("ts", "v"), path3, "ts", lit(0L))
    assert(spark.read.parquet(path3).count() == 1,
      "truncated data resurrected from stale protocol siblings")
    // truncate's own crash window: killed after clearing the recovery
    // markers but before the live delete — the table survives intact
    // (the op simply didn't complete; all-or-nothing), and a re-truncate
    // finishes the job with nothing resurrectable left behind
    val path4 = tmp("rectrunc2")
    Tables.load((0L until 10L).map(i => (i, i * 1.0)).toDF("ts", "v"), path4, Seq(), "ts")
    assert(withCrash("trunc:recovered", 1) { Tables.truncate(spark, path4) })
    assert(spark.read.parquet(path4).count() == 10,
      "a truncate crashed before the live delete must leave the table intact")
    Tables.truncate(spark, path4)
    assert(!new java.io.File(path4).exists)
  }

  test("writer lease: a live second writer is refused; a dead one's lease is broken") {
    val path = tmp("lease")
    Tables.load((0L until 20L).map(i => (i, i * 1.0)).toDF("ts", "v"), path, Seq(), "ts")
    val leaseFile = new java.io.File(path + ".lease")
    // plant ANOTHER writer's fresh lease — every mutating op must refuse
    val foreign = """{"token":"someone-else","op":"compact","pid":"0","acquiredMs":"0"}"""
    java.nio.file.Files.write(leaseFile.toPath, foreign.getBytes("UTF-8"))
    for ((name, op) <- Seq[(String, () => Unit)](
      "append" -> (() =>
        Tables.append(Seq((30L, 1.0)).toDF("ts", "v"), path, "ts", lit(0L))),
      "compact" -> (() => { Tables.compact(spark, path, Seq(), "ts"); () }),
      "compactIncremental" -> (() =>
        { Tables.compactIncremental(spark, path, Seq(), "ts"); () }),
      "deleteRange" -> (() =>
        Tables.deleteRange(spark, path, "ts", lit(0L), lit(5L))),
      "truncate" -> (() => Tables.truncate(spark, path)))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("another writer"),
        s"$name must refuse under a live foreign lease, got: ${e.getMessage}")
      // the TYPED contract the streaming retry loop keys on: every
      // contention outcome is a LeaseContentionException — a message-
      // substring match missed the break-race variants and let transient
      // conflicts kill streaming queries (review r15)
      assert(e.isInstanceOf[graft.io.LeaseContentionException],
        s"$name must throw the typed contention exception, got ${e.getClass}")
    }
    assert(spark.read.parquet(path).count() == 20, "refused ops wrote nothing")
    // age the lease past the TTL: a DEAD writer — broken and taken over
    assert(leaseFile.setLastModified(System.currentTimeMillis() - 11L * 60L * 1000L))
    Tables.append(Seq((30L, 1.0)).toDF("ts", "v"), path, "ts", lit(0L))
    assert(spark.read.parquet(path).count() == 21)
    assert(!leaseFile.exists, "a completed op releases its lease")
    // bucketed flavors hold the lease on the catalog location
    val t = "bkt_lease"
    Tables.loadBucketed(Seq((1L, 1L, 1.0)).toDF("k", "ts", "v"), t, Seq("k"), 2,
      sortCols = Seq("ts"))
    val bktLease = new java.io.File(tableLoc(t).getParent, tableLoc(t).getName + ".lease")
    java.nio.file.Files.write(bktLease.toPath, foreign.getBytes("UTF-8"))
    val eb = intercept[IllegalStateException] {
      Tables.appendBucketed(Seq((1L, 2L, 2.0)).toDF("k", "ts", "v"), t)
    }
    assert(eb.getMessage.contains("another writer"), eb.getMessage)
    val ec = intercept[IllegalStateException](Tables.compactBucketed(spark, t))
    assert(ec.getMessage.contains("another writer"), ec.getMessage)
    bktLease.delete()
    Tables.appendBucketed(Seq((1L, 2L, 2.0)).toDF("k", "ts", "v"), t)
    assert(spark.table(t).count() == 2)
  }

  test("rangeScanBucketed prunes files outside the ts slice via the manifest") {
    val t = "bkt_prune"
    Tables.loadBucketed((0L until 100L).map(i => (i % 5, i, i * 1.0))
      .toDF("k", "ts", "v"), t, Seq("k"), 4, sortCols = Seq("ts"))
    Tables.appendBucketed((100L until 130L).map(i => (i % 5, i, i * 1.0))
      .toDF("k", "ts", "v"), t)
    def nFiles = tableLoc(t).listFiles.count(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val total = nFiles
    // a slice over the APPENDED range skips every base bucket file
    // (their recorded max is 99) — the steady-state recent-data win
    val recent = Tables.rangeScanBucketed(spark, t, 100L, 130L)
    assert(recent.count() == 30)
    assert(recent.inputFiles.length < total && recent.inputFiles.nonEmpty,
      s"expected the append batch's files only, got ${recent.inputFiles.length} of $total")
    // a slice below the appended range skips the append files instead
    val base = Tables.rangeScanBucketed(spark, t, 0L, 50L)
    assert(base.count() == 50)
    assert(base.inputFiles.length < total,
      s"expected the base files only, got ${base.inputFiles.length} of $total")
    // after a fold the regenerated manifest still serves (and the whole
    // table again prunes only when the slice excludes it)
    Tables.compactBucketed(spark, t)
    val all = Tables.rangeScanBucketed(spark, t, 0L, 200L)
    assert(all.count() == 130)
    val none = Tables.rangeScanBucketed(spark, t, 500L, 600L)
    assert(none.count() == 0 && none.inputFiles.isEmpty,
      "a slice beyond the table must read zero files")
  }

  test("compact flavors refuse to destroy foreign content in the table dir") {
    val path = tmp("foreign")
    Tables.load((0L until 50L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    Tables.append(Seq((60L, 1.0)).toDF("ts", "v"), path, "ts", lit(60L))
    // a foreign SUBDIRECTORY: the rename-aside + delete(old) swap would
    // silently destroy it — both compact flavors must stop loudly instead
    val sub = new java.io.File(path, "foreign_backup")
    assert(sub.mkdir())
    val e1 = intercept[RuntimeException] {
      Tables.compactIncremental(spark, path, Seq(), "ts")
    }
    assert(e1.getMessage.contains("foreign_backup"))
    assert(sub.exists, "refused compact must leave the foreign dir in place")
    assert(spark.read.parquet(path).count() == 51)
    assert(sub.delete())
    // a foreign HIDDEN file (not a .crc, not the manifest staging temp)
    val hidden = new java.io.File(path, ".snapshot_marker")
    assert(hidden.createNewFile())
    val e2 = intercept[RuntimeException] {
      Tables.compact(spark, path, Seq(), "ts")
    }
    assert(e2.getMessage.contains(".snapshot_marker"))
    assert(hidden.exists)
    assert(hidden.delete())
    // with the foreign content gone, the incremental fold proceeds
    val (nb, na) = Tables.compactIncremental(spark, path, Seq(), "ts")
    assert(na <= nb && spark.read.parquet(path).count() == 51)
  }

  /** Arm the fault-injection seam to throw at the `nth` firing of `tag`;
    * returns whether the injected crash actually happened (false = the
    * chosen point was never reached and the op completed — still a valid
    * fuzz case: recovery must then be a harmless no-op).
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

  private def tableContent(path: String): Seq[(Long, Double)] =
    spark.read.parquet(path).select("ts", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(identity).toSeq

  private def manifestConsistentHere(path: String): Boolean =
    Tables.manifest(spark, path).exists { m =>
      val live = dataFiles(path).map(f => (f.getName, f.length)).toSet
      m.files.map(e => (e.name, e.bytes)).toSet == live && m.files.forall(_.loaded)
    }

  test("crash-point fuzz: arbitrary kills of the clustered protocol recover losslessly") {
    // Chosen-point tests above cover the states the protocol was DESIGNED
    // around; this stage kills it at an ARBITRARY step (seeded random) and
    // requires recovery to converge to the no-crash twin's content with a
    // consistent all-loaded manifest. Any find: pin the seed in a named
    // regression case.
    val rnd = new scala.util.Random(20260814L)
    val incrTags = Seq("incr:staged" -> 1, "incr:gen-marker" -> 1,
      "incr:gen-moved" -> 1, "incr:gen-moved" -> 2, "incr:gen-manifest" -> 1,
      "retire:reclaimed" -> 1, "retire:reclaimed" -> 2)
    val fullTags = Seq("full:staged" -> 1, "full:gen-marker" -> 1,
      "full:gen-moved" -> 1, "full:gen-manifest" -> 1, "retire:reclaimed" -> 1)
    for (iter <- 1 to 10) {
      val pathA = tmp(s"fzA$iter")
      val pathB = tmp(s"fzB$iter")
      val n0 = 50 + rnd.nextInt(150)
      val loadRows = (0L until n0).map(i => (i, rnd.nextDouble()))
      val nBatches = 1 + rnd.nextInt(3)
      val batches = (1 to nBatches).map { b =>
        val lo = (n0 * b).toLong
        (lo until lo + 20L).map(i => (i, rnd.nextDouble()))
      }
      Tables.load(loadRows.toDF("ts", "v"), pathA, Seq(), "ts")
      Tables.load(loadRows.toDF("ts", "v"), pathB, Seq(), "ts")
      val crashLastAppend = rnd.nextDouble() < 0.25
      batches.zipWithIndex.foreach { case (rows, i) =>
        val df = rows.toDF("ts", "v")
        Tables.append(df, pathB, "ts", lit(0L))
        if (crashLastAppend && i == batches.size - 1) {
          // kill between the data write and the manifest extend: the data
          // is in, the manifest goes stale — recovery must re-establish it
          assert(withCrash("append:gen-moved", 1)(Tables.append(df, pathA, "ts", lit(0L))),
            s"iter $iter: append crash point must fire")
        } else Tables.append(df, pathA, "ts", lit(0L))
      }
      val dropManifest = !crashLastAppend && rnd.nextDouble() < 0.3
      if (dropManifest) { // route both twins through the FULL compact path
        for (p <- Seq(pathA, pathB))
          assert(new java.io.File(p, "_graft_manifest.json").delete())
      }
      val (tag, nth) =
        if (dropManifest) fullTags(rnd.nextInt(fullTags.size))
        else incrTags(rnd.nextInt(incrTags.size))
      if (!crashLastAppend)
        withCrash(tag, nth)(Tables.compactIncremental(spark, pathA, Seq(), "ts"))
      // recovery is just the next maintenance cycle — no special entry point
      Tables.compactIncremental(spark, pathA, Seq(), "ts")
      Tables.compactIncremental(spark, pathB, Seq(), "ts")
      assert(tableContent(pathA) == tableContent(pathB),
        s"iter $iter (tag=$tag#$nth, dropManifest=$dropManifest, " +
          s"crashAppend=$crashLastAppend): recovered content diverged")
      assert(manifestConsistentHere(pathA),
        s"iter $iter (tag=$tag#$nth): manifest inconsistent after recovery")
      // a further cycle over the recovered table is a clean no-op
      val (nb2, na2) = Tables.compactIncremental(spark, pathA, Seq(), "ts")
      assert(nb2 == na2, s"iter $iter: recovered table should have nothing to fold")
    }
  }

  test("crash-point fuzz: deleteRange's two-rename swap recovers losslessly") {
    // deleteRange previously deleted the live dir BEFORE installing the
    // rewrite — a crash in between stranded the only copy in __tmp. Now
    // it uses the same staged swap as compact; kill it at each step and
    // require the next deleteRange call (entry recovery + idempotent
    // re-delete of the same range) to converge to the no-crash twin.
    val rnd = new scala.util.Random(4242L)
    val tags = Seq("del:staged" -> 1, "del:gen-marker" -> 1,
      "del:gen-moved" -> 1, "del:gen-manifest" -> 1, "retire:reclaimed" -> 1)
    for (iter <- 1 to 6) {
      val pathA = tmp(s"delA$iter")
      val pathB = tmp(s"delB$iter")
      val rows = (0L until 150L).map(i => (i, rnd.nextDouble()))
      Tables.load(rows.toDF("ts", "v"), pathA, Seq(), "ts")
      Tables.load(rows.toDF("ts", "v"), pathB, Seq(), "ts")
      val lo = rnd.nextInt(100).toLong
      val hi = lo + rnd.nextInt(40)
      val (tag, nth) = tags(rnd.nextInt(tags.size))
      withCrash(tag, nth)(Tables.deleteRange(spark, pathA, "ts", lit(lo), lit(hi)))
      Tables.deleteRange(spark, pathA, "ts", lit(lo), lit(hi)) // recovery
      Tables.deleteRange(spark, pathB, "ts", lit(lo), lit(hi))
      assert(tableContent(pathA) == tableContent(pathB),
        s"iter $iter (tag=$tag): recovered delete content diverged")
      assert(manifestConsistentHere(pathA),
        s"iter $iter (tag=$tag): manifest inconsistent after recovery")
      // no leftover swap-state siblings
      for (sfx <- Seq("__tmp", ".delete.old", ".gen.tmp", ".gen.commit"))
        assert(!new java.io.File(pathA + sfx).exists, s"leftover $sfx")
    }
  }

  test("appendBucketed after a crashed fold recovers first (no silent loss)") {
    // the bucketed twin of the clustered recover-first rule: a committed
    // fold marker left by a killed writer must be rolled forward BEFORE an
    // append writes fresh files — otherwise the NEXT fold's recovery would
    // sweep the appended files aside with the replaced dir and delete them
    val t = "bkt_recfirst"
    Tables.loadBucketed((0L until 80L).map(i => (i % 4, i, i * 1.0))
      .toDF("k", "ts", "v"), t, Seq("k"), 4, sortCols = Seq("ts"))
    Tables.appendBucketed((80L until 100L).map(i => (i % 2, i, i * 1.0))
      .toDF("k", "ts", "v"), t)
    assert(withCrash("bkt:marker", 1) { Tables.compactBucketed(spark, t) })
    // the marker is committed; the append must roll the fold forward, then add
    Tables.appendBucketed(Seq((1L, 200L, 9.0)).toDF("k", "ts", "v"), t)
    val (nb, na) = Tables.compactBucketed(spark, t)
    assert(na <= nb)
    val got = spark.table(t).select("ts").as[Long].collect().toSet
    assert(got == ((0L until 100L).toSet + 200L),
      s"rows lost across bucketed crash-recovery + append: ${got.size}")
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("crash-point fuzz: arbitrary kills of the bucketed protocol recover losslessly") {
    val rnd = new scala.util.Random(77001L)
    val tags = Seq("bkt:folded" -> 1, "bkt:staged" -> 1, "bkt:marker" -> 1,
      "bkt:cold-moved" -> 1, "bkt:cold-moved" -> 2, "bkt:aside" -> 1,
      "bkt:installed" -> 1)
    for (iter <- 1 to 6) {
      val (tA, tB) = (s"fz_bkt_a$iter", s"fz_bkt_b$iter")
      val n0 = 100 + rnd.nextInt(100)
      val loadRows = (0L until n0).map(i => (i % 7, i, rnd.nextDouble()))
      val batchRows = (0L until 30L).map { i =>
        val k = rnd.nextInt(3).toLong // few keys → some buckets stay cold
        (k, n0 + i, rnd.nextDouble())
      }
      for (t <- Seq(tA, tB)) {
        Tables.loadBucketed(loadRows.toDF("k", "ts", "v"), t, Seq("k"), 4,
          sortCols = Seq("ts"))
        Tables.appendBucketed(batchRows.toDF("k", "ts", "v"), t)
      }
      val (tag, nth) = tags(rnd.nextInt(tags.size))
      withCrash(tag, nth)(Tables.compactBucketed(spark, tA))
      Tables.compactBucketed(spark, tA) // recovery = the next cycle
      Tables.compactBucketed(spark, tB)
      def content(t: String) = spark.table(t).select("k", "ts", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(x => (x._1, x._2, x._3)).toSeq
      assert(content(tA) == content(tB),
        s"iter $iter (tag=$tag#$nth): recovered bucketed content diverged")
      // recovered layout is back to ≤1 file per bucket
      val (nb2, na2) = Tables.compactBucketed(spark, tA)
      assert(nb2 == na2, s"iter $iter: recovered table should have nothing to fold")
    }
  }

  test("deleteRangeBucketed: disjoint files carried by rename, intersecting rewritten") {
    val t = "bkt_delrange"
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
    // base load (ts 0..399) + three appends (400..499, 500..599, 600..699):
    // each append writes fresh files whose manifest bounds cover only its
    // batch, so a tail delete splits the layout
    Tables.loadBucketed((0L until 400L).map(i => (i % 4, i, i * 1.0))
      .toDF("k", "ts", "v"), t, Seq("k"), 4, sortCols = Seq("ts"))
    for (b <- 0 until 3) {
      val lo = 400L + b * 100L
      Tables.appendBucketed((lo until lo + 100L).map(i => (i % 4, i, i * 1.0))
        .toDF("k", "ts", "v"), t)
    }
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location).toUri.getPath
    val m = Tables.manifest(spark, loc).get
    val disjoint = m.files.filter(e => e.maxNs.exists(_ < 600L))
    assert(disjoint.nonEmpty, "the base + early appends must be ts-disjoint")
    val before = dataFiles(loc).map(f => (f.getName, f.length, md5(f)))
    // retention delete of the tail: [600, inf) — the head-deletion twin
    Tables.deleteRangeBucketed(spark, t, lit(600L), lit(Long.MaxValue))
    val after = dataFiles(loc).map(f => (f.getName, f.length, md5(f)))
    disjoint.foreach { e =>
      val b = before.find(_._1 == e.name).get
      assert(after.contains(b),
        s"ts-disjoint bucketed file ${e.name} was rewritten, not carried")
    }
    assert(spark.table(t).count() == 600)
    assert(spark.table(t).agg(max(col("ts"))).head().getLong(0) == 599L)
    // a range nothing intersects is a pure no-op
    val preNoop = dataFiles(loc).map(f => (f.getName, f.length, md5(f)))
    Tables.deleteRangeBucketed(spark, t, lit(5000L), lit(6000L))
    assert(dataFiles(loc).map(f => (f.getName, f.length, md5(f))) == preNoop)
    // the layout still folds and appends normally afterwards
    val (nb, na) = Tables.compactBucketed(spark, t)
    assert(na <= nb && na <= 4)
    Tables.appendBucketed(Seq((1L, 700L, 7.0)).toDF("k", "ts", "v"), t)
    assert(spark.table(t).count() == 601)
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("crash-point fuzz: arbitrary kills of the bucketed range delete recover losslessly") {
    val rnd = new scala.util.Random(88002L)
    val tags = Seq("bktdel:folded" -> 1, "bktdel:staged" -> 1,
      "bktdel:marker" -> 1, "bktdel:cold-moved" -> 1, "bktdel:cold-moved" -> 2,
      "bktdel:aside" -> 1, "bktdel:installed" -> 1)
    for (iter <- 1 to 7) {
      val (tA, tB) = (s"fz_bktdel_a$iter", s"fz_bktdel_b$iter")
      val n0 = 100 + rnd.nextInt(100)
      val loadRows = (0L until n0).map(i => (i % 5, i, rnd.nextDouble()))
      val batchRows = (0L until 40L).map(i => (i % 5, n0 + i, rnd.nextDouble()))
      for (t <- Seq(tA, tB)) {
        spark.sql(s"DROP TABLE IF EXISTS `$t`")
        Tables.loadBucketed(loadRows.toDF("k", "ts", "v"), t, Seq("k"), 4,
          sortCols = Seq("ts"))
        Tables.appendBucketed(batchRows.toDF("k", "ts", "v"), t)
      }
      val (lo, hi) = (n0.toLong, n0 + 19L) // cuts the appended batch in half
      val (tag, nth) = tags(rnd.nextInt(tags.size))
      withCrash(tag, nth)(Tables.deleteRangeBucketed(spark, tA, lit(lo), lit(hi)))
      Tables.deleteRangeBucketed(spark, tA, lit(lo), lit(hi)) // recovery + redo
      Tables.deleteRangeBucketed(spark, tB, lit(lo), lit(hi))
      def content(t: String) = spark.table(t).select("k", "ts", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(x => (x._1, x._2, x._3)).toSeq
      assert(content(tA) == content(tB),
        s"iter $iter (tag=$tag#$nth): recovered delete content diverged")
      assert(content(tA).size == n0 + 20,
        s"iter $iter: exactly the [$lo,$hi] rows must be gone")
      for (t <- Seq(tA, tB)) spark.sql(s"DROP TABLE IF EXISTS `$t`")
    }
  }

  test("deleteRange refuses foreign content; committer debris is cleaned, not fatal") {
    val path = tmp("delguard")
    Tables.load((0L until 40L).map(i => (i, i * 1.0)).toDF("ts", "v"), path, Seq(), "ts")
    // foreign subdir: the swap would destroy it — refuse like the compacts
    val sub = new java.io.File(path, "foreign_keep")
    assert(sub.mkdir())
    val e = intercept[RuntimeException] {
      Tables.deleteRange(spark, path, "ts", lit(5L), lit(10L))
    }
    assert(e.getMessage.contains("foreign_keep") && sub.exists)
    assert(sub.delete())
    // _temporary (a crashed write job's committer scratch) must be CLEANED
    // at entry, not brick the table: it holds only uncommitted attempts
    val tmpDir = new java.io.File(path, "_temporary")
    assert(tmpDir.mkdir())
    Tables.deleteRange(spark, path, "ts", lit(5L), lit(10L))
    assert(!tmpDir.exists, "_temporary debris should be removed")
    assert(spark.read.parquet(path).count() == 34)
  }

  test("untagged __tmp (legacy strand or foreign dir) is never consumed silently") {
    // the dot-less __tmp suffix cannot distinguish the legacy protocol's
    // stranded rewrite from a USER table named <path>__tmp. The r12
    // generation protocol never stages at __tmp, so an untagged sibling is
    // simply NEVER touched: a deleteRange against the missing table fails
    // loudly (nothing to delete), the sibling survives byte-identical, and
    // the operator's manual rename adoption converges exactly as the
    // legacy adoption used to (recoverDelete still adopts TAGGED strands).
    val path = tmp("dellegacy")
    val rows = (0L until 50L).map(i => (i, i * 1.0))
    Tables.load(rows.toDF("ts", "v"), path, Seq(), "ts")
    val expect = spark.read.parquet(path)
      .filter(!(col("ts") >= 10L && col("ts") <= 19L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    // simulate the legacy crash state: rewrite at __tmp (no tag), live gone
    expect.toDF("ts", "v").write.parquet(path + "__tmp")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    intercept[Exception] {
      Tables.deleteRange(spark, path, "ts", lit(10L), lit(19L))
    }
    assert(new java.io.File(path + "__tmp").exists,
      "the untagged dir must survive the failed op untouched")
    // operator remediation: adopt by rename, then the re-delete converges
    fs.rename(new org.apache.hadoop.fs.Path(path + "__tmp"),
      new org.apache.hadoop.fs.Path(path))
    Tables.deleteRange(spark, path, "ts", lit(10L), lit(19L))
    val got = spark.read.parquet(path)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(got == expect)
    // an append to a FRESH path never consumes an unrelated __tmp sibling
    val path2 = tmp("foreigntmp")
    Seq((1L, 1.0)).toDF("ts", "v").write.parquet(path2 + "__tmp")
    Tables.append(Seq((5L, 5.0)).toDF("ts", "v"), path2, "ts", lit(0L))
    assert(spark.read.parquet(path2).count() == 1)
    assert(spark.read.parquet(path2 + "__tmp").count() == 1,
      "the unrelated sibling must survive an append to the fresh path")
  }

  test("loadBucketed retries keep the previous table's copy until the new commit") {
    import spark.implicits._
    val t = "b_replaced_retry"
    Tables.loadBucketed(Seq((1L, 1L, 1.0), (2L, 2L, 2.0)).toDF("k", "ts", "v"),
      t, Seq("k"), 2, Seq("ts"))
    val replaced = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/$t.replaced")
    val rfs = replaced.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataIn = rfs.exists(replaced) && rfs.listStatus(replaced).exists(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("."))
    // first re-ingest crashes right after the aside: the old copy must be
    // at .replaced
    assert(withCrash("loadbkt:aside", 1) {
      Tables.loadBucketed(Seq((3L, 3L, 3.0)).toDF("k", "ts", "v"), t, Seq("k"), 2, Seq("ts"))
    })
    assert(dataIn, "old table copy must survive the crash at .replaced")
    // a SECOND crashed retry must not delete that copy (the r10 bug)
    assert(withCrash("loadbkt:aside", 1) {
      Tables.loadBucketed(Seq((3L, 3L, 3.0)).toDF("k", "ts", "v"), t, Seq("k"), 2, Seq("ts"))
    })
    assert(dataIn, "retry must keep the only copy until a commit")
    // a clean run commits the new data and clears the aside copy
    Tables.loadBucketed(Seq((3L, 3L, 3.0)).toDF("k", "ts", "v"), t, Seq("k"), 2, Seq("ts"))
    assert(!rfs.exists(replaced), ".replaced cleared after the commit")
    assert(spark.table(t).count() == 1)
  }

  test("deleteRange keeps NULL-ts rows (three-valued logic must not delete them)") {
    val path = tmp("delnull")
    Seq((Option(1L), 1.0), (Option.empty[Long], 2.0), (Option(30L), 3.0))
      .toDF("ts", "v").write.parquet(path)
    Tables.deleteRange(spark, path, "ts", lit(0L), lit(10L))
    val got = spark.read.parquet(path).select("v")
      .collect().map(_.getDouble(0)).sorted.toSeq
    assert(got == Seq(2.0, 3.0),
      "the NULL-ts row is outside every range and must survive")
  }

  test("deleteRange is O(affected range): disjoint files carried byte-identical") {
    val path = tmp("delprune")
    // 8 range-clustered files over ts 0..7999 — each covers a disjoint slice
    Tables.load((0L until 8000L).map(i => (i, i * 1.0)).toDF("ts", "v")
      .repartition(8), path, Seq(), "ts")
    val m = Tables.manifest(spark, path).get
    assert(m.files.size >= 4, s"need a multi-file layout, got ${m.files.size}")
    assert(m.files.forall(e => e.minNs.isDefined && e.maxNs.isDefined))
    val disjoint = m.files.filter(_.maxNs.get < 7000L)
    val intersecting = m.files.filterNot(_.maxNs.get < 7000L)
    assert(disjoint.nonEmpty && intersecting.nonEmpty,
      "the range must split the layout for this test to mean anything")
    val bytesBefore = dataFiles(path).map(f => (f.getName, f.length, md5(f)))
    Tables.deleteRange(spark, path, "ts", lit(7000L), lit(7999L))
    val m2 = Tables.manifest(spark, path).get
    // THE O(range) contract: every ts-disjoint file is carried live —
    // same name, same bytes (never read, never rewritten); only the
    // intersecting files were replaced
    val after = dataFiles(path).map(f => (f.getName, f.length, md5(f)))
    disjoint.foreach { e =>
      assert(m2.files.exists(_.name == e.name),
        s"disjoint file ${e.name} must stay in the live set")
      val b = bytesBefore.find(_._1 == e.name).get
      assert(after.contains(b), s"disjoint file ${e.name} was rewritten")
    }
    intersecting.foreach { e =>
      assert(!m2.files.exists(_.name == e.name),
        s"intersecting file ${e.name} must leave the live set")
    }
    assert(Tables.snapshot(spark, path).count() == 7000)
    // a range no file intersects is a pure no-op: same manifest, same files
    val preNoop = dataFiles(path).map(f => (f.getName, f.length, md5(f)))
    Tables.deleteRange(spark, path, "ts", lit(100000L), lit(200000L))
    assert(dataFiles(path).map(f => (f.getName, f.length, md5(f))) == preNoop,
      "a no-intersection delete must not touch a byte")
    assert(Tables.manifest(spark, path).get.files.map(_.name).toSet
      == m2.files.map(_.name).toSet, "a no-intersection delete must not churn")
    assert(Tables.snapshot(spark, path).count() == 7000)
  }

  test("deleteRangeNs(MinValue, cut) on a TIMESTAMP ts stays O(range)") {
    // regression (ADVICE r14, medium): the retention path's lower bound is
    // tsLit(Long.MinValue) — its Instant's epochSecond × 1e9 intermediate
    // overflowed, the Try swallowed it, bounds became None, and the delete
    // silently fell back to a FULL-TABLE rewrite for timestamp-typed ts
    // columns. The O(expiring files) contract must hold for the exact call
    // shape ingestAppendRetained issues: deleteRangeNs(MinValue, cut).
    val path = tmp("delnsmin")
    Tables.load((0L until 8000L)
      .map(i => (new java.sql.Timestamp(i * 1000L), i * 1.0)).toDF("ts", "v")
      .repartition(8), path, Seq(), "ts")
    val m = Tables.manifest(spark, path).get
    assert(m.files.size >= 4 &&
      m.files.forall(e => e.minNs.isDefined && e.maxNs.isDefined))
    val cutNs = 1000L * 1000L * 1000000L // delete ts <= second 1000
    val inWindow = m.files.filter(_.minNs.get > cutNs)
    val expiring = m.files.filterNot(_.minNs.get > cutNs)
    assert(inWindow.nonEmpty && expiring.nonEmpty,
      "the head cut must split the layout for this test to mean anything")
    val bytesBefore = dataFiles(path).map(f => (f.getName, f.length, md5(f)))
    Tables.deleteRangeNs(spark, path, "ts", Long.MinValue, cutNs)
    val m2 = Tables.manifest(spark, path).get
    val after = dataFiles(path).map(f => (f.getName, f.length, md5(f)))
    inWindow.foreach { e =>
      assert(m2.files.exists(_.name == e.name),
        s"in-window file ${e.name} must stay in the live set")
      val b = bytesBefore.find(_._1 == e.name).get
      assert(after.contains(b),
        s"in-window file ${e.name} was rewritten — the MinValue lower " +
          "bound degraded the delete to O(table)")
    }
    assert(Tables.snapshot(spark, path).count() == 8000 - 1001)
    // a REPLAYED retention delete (same bounds, nothing left in range)
    // must be a pure no-op, not another table rewrite
    val preNoop = dataFiles(path).map(f => (f.getName, f.length, md5(f)))
    Tables.deleteRangeNs(spark, path, "ts", Long.MinValue, cutNs)
    assert(dataFiles(path).map(f => (f.getName, f.length, md5(f))) == preNoop,
      "a replayed MinValue-bounded retention delete must not touch a byte")
  }

  test("delete-everything leaves a readable EMPTY table (drop.sql semantics)") {
    val path = tmp("delall")
    Tables.load((0L until 100L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    withGrace(600000L) {
      Tables.deleteRange(spark, path, "ts", lit(0L), lit(1000L))
      // the schema ANCHOR: exactly one zero-row file stays live, so the
      // table remains readable (the reference's delete-everything leaves
      // an empty table, not a missing one)
      val m = Tables.manifest(spark, path).get
      assert(m.files.size == 1, s"one anchor file expected, got ${m.files}")
      val snap = Tables.snapshot(spark, path)
      assert(snap.count() == 0)
      assert(snap.schema.fieldNames.toSet == Set("ts", "v"))
      // maintenance and re-deletes on the emptied table no-op gracefully
      Tables.compact(spark, path, Seq(), "ts")
      Tables.deleteRange(spark, path, "ts", lit(0L), lit(10L))
    }
    // plain reads also work once the retired generation is reclaimed —
    // the anchor survives vacuum (it is LIVE, not retired)
    Tables.vacuum(spark, path, graceMs = 0L)
    assert(spark.read.parquet(path).count() == 0)
    assert(Tables.snapshot(spark, path).count() == 0)
    // appends resume on the emptied table
    Tables.append(Seq((5L, 5.0)).toDF("ts", "v"), path, "ts", lit(0L))
    assert(Tables.snapshot(spark, path).count() == 1)
  }

  test("a governed dir whose every footer vanished fails with its real state") {
    // the defensive branch behind the anchor: a manifest with an empty
    // live set over a dir holding NO parquet footer at all (hand-emptied,
    // or an empty dir adopted by writeManifest) must name the condition
    // instead of AnalysisException's misleading "unable to infer schema"
    val path = tmp("emptygov")
    new java.io.File(path).mkdirs()
    Tables.writeManifest(spark, path, "ts")
    val e = intercept[RuntimeException](Tables.snapshot(spark, path))
    assert(e.getMessage.contains("EMPTY"), s"got: ${e.getMessage}")
  }

  test("registered view serves the live generation mid-grace; pinned reader completes") {
    withGrace(600000L) {
      val path = tmp("view")
      Tables.load((0L until 2000L).map(i => (i, i * 1.0)).toDF("ts", "v")
        .repartition(4), path, Seq(), "ts")
      Tables.registerView(spark, path, "g_view_t")
      assert(spark.table("g_view_t").count() == 2000)
      Tables.withReaderPin(spark, path) {
        // this reader listed the OLD generation before the delete
        val old = Tables.snapshot(spark, path)
        Tables.deleteRange(spark, path, "ts", lit(0L), lit(999L))
        // the catalog read mid-grace sees ONLY the live generation —
        // never the grace-retained intersecting files a plain
        // spark.read.parquet(dir) would double-count
        assert(spark.table("g_view_t").count() == 1000)
        assert(spark.table("g_view_t").agg(min(col("ts"))).head().getLong(0)
          == 1000L)
        // while the pinned reader still completes on its old snapshot
        assert(old.count() == 2000)
      }
    }
    // a committed STREAM batch is visible through the view immediately:
    // the in-batch invalidation runs while the retained marker still
    // subtracts the batch's files, so the post-commit re-invalidation is
    // what keeps the view from lagging the stream by one batch forever
    val path3 = tmp("view3")
    Tables.load(Seq((1L, 1.0)).toDF("ts", "v"), path3, Seq(), "ts")
    Tables.registerView(spark, path3, "g_view_t3")
    assert(Tables.appendStreamBatch(Seq((5L, 5.0)).toDF("ts", "v"),
      path3, "ts", "ckpt-view", 0L))
    assert(spark.table("g_view_t3").count() == 2,
      "the committed stream batch must be visible through the view")
    // a truncate kills the view rather than leaving it dangling — and
    // kills the REGISTRATION: a later lifecycle op must not resurrect the
    // name over a user's own view
    val path2 = tmp("view2")
    Tables.load(Seq((1L, 1.0)).toDF("ts", "v"), path2, Seq(), "ts")
    Tables.registerView(spark, path2, "g_view_t2")
    assert(spark.table("g_view_t2").count() == 1)
    Tables.truncate(spark, path2)
    assert(!spark.catalog.tableExists("g_view_t2"),
      "truncate must drop the registered view")
    spark.range(3).createOrReplaceTempView("g_view_t2") // the user's own
    Tables.load(Seq((2L, 2.0)).toDF("ts", "v"), path2, Seq(), "ts")
    assert(spark.table("g_view_t2").count() == 3,
      "a dead registration must never clobber a user's later view")
    spark.catalog.dropTempView("g_view_t2")
  }

  test("GLOBAL registered view: a second session's mid-grace read is exact") {
    // the cross-session half of the safe-read surface (VERDICT r13 item
    // 5): a GLOBAL temp view lives in the application-shared global_temp
    // database, so a lifecycle op from session A re-points what session B
    // reads — the clustered-layout analog of the bucketed catalog flip
    withGrace(600000L) {
      val path = tmp("gview")
      Tables.load((0L until 2000L).map(i => (i, i * 1.0)).toDF("ts", "v")
        .repartition(4), path, Seq(), "ts")
      Tables.registerView(spark, path, "g_xsession_v", global = true)
      val sessionB = spark.newSession()
      assert(sessionB.table("global_temp.g_xsession_v").count() == 2000)
      // session A mutates: the replaced generation stays on disk (grace)
      Tables.deleteRange(spark, path, "ts", lit(0L), lit(999L))
      // session B's CATALOG read mid-grace: exactly the live generation
      assert(sessionB.table("global_temp.g_xsession_v").count() == 1000,
        "session B must see only the live generation through the view")
      assert(sessionB.table("global_temp.g_xsession_v")
        .agg(min(col("ts"))).head().getLong(0) == 1000L)
      // the contrast that makes the view necessary: a plain directory
      // read from session B double-counts the grace-retained files
      assert(sessionB.read.parquet(path).count() > 1000,
        "plain read should see retired files mid-grace (else no contrast)")
      // re-registering the SAME path under a NEW global name drops the
      // old alias (a renamed registration must not leave a stale view)
      Tables.registerView(spark, path, "g_xsession_v2", global = true)
      assert(!spark.catalog.tableExists("global_temp.g_xsession_v"),
        "renaming a global registration must drop the old alias")
      assert(sessionB.table("global_temp.g_xsession_v2").count() == 1000)
      // cleanup
      spark.catalog.dropGlobalTempView("g_xsession_v2")
    }
  }

  test("GLOBAL registered view: lifecycle ops from a NON-registering session re-point it") {
    // VERDICT r14 item 4: the registry is keyed by path alone, so a
    // lifecycle op issued FROM session B must re-point the view session A
    // registered — append, compact, delete each re-resolve it, and a
    // truncate (from B) drops it in every session AND kills the
    // registration so later ops never resurrect the name.
    withGrace(600000L) {
      val path = tmp("gviewops")
      Tables.load((0L until 1000L).map(i => (i, i * 1.0)).toDF("ts", "v")
        .repartition(4), path, Seq(), "ts")
      Tables.registerView(spark, path, "g_ops_v", global = true)
      val sessionB = spark.newSession()
      def viewCount(s: org.apache.spark.sql.SparkSession): Long =
        s.table("global_temp.g_ops_v").count()
      assert(viewCount(sessionB) == 1000)
      // APPEND from B: both sessions' catalog reads include the new rows
      Tables.append(sessionB.createDataFrame((1000L until 1200L)
        .map(i => (i, i * 1.0))).toDF("ts", "v"), path, "ts", lit(0L))
      assert(viewCount(spark) == 1200 && viewCount(sessionB) == 1200,
        "an append from session B must re-point the view for everyone")
      // COMPACT from B mid-grace: the view serves exactly the live
      // generation — never the retired one, never both
      Tables.compactIncremental(sessionB, path, Seq(), "ts")
      assert(viewCount(spark) == 1200,
        "a compact from session B must leave the view exact (no double count)")
      assert(spark.table("global_temp.g_ops_v")
        .select(countDistinct(col("ts"))).head().getLong(0) == 1200)
      // DELETE from B: the view re-points to the shrunk generation
      Tables.deleteRange(sessionB, path, "ts", lit(0L), lit(199L))
      assert(viewCount(spark) == 1000 && viewCount(sessionB) == 1000,
        "a delete from session B must re-point the view for everyone")
      assert(spark.table("global_temp.g_ops_v")
        .agg(min(col("ts"))).head().getLong(0) == 200L)
      // TRUNCATE from B: the view dies in every session, and the
      // registration dies with it
      Tables.truncate(sessionB, path)
      assert(!spark.catalog.tableExists("global_temp.g_ops_v"),
        "truncate from session B must drop the global view")
      assert(!sessionB.catalog.tableExists("global_temp.g_ops_v"))
      // a user's OWN later global view of the same name must survive the
      // next lifecycle op on the path (the registration is dead)
      spark.range(3).createOrReplaceGlobalTempView("g_ops_v")
      Tables.load(Seq((5L, 5.0)).toDF("ts", "v"), path, Seq(), "ts")
      Tables.append(Seq((6L, 6.0)).toDF("ts", "v"), path, "ts", lit(0L))
      assert(viewCount(spark) == 3,
        "a dead global registration must never clobber a user's later view")
      spark.catalog.dropGlobalTempView("g_ops_v")
    }
  }

  test("an orphaned manifest staging rolls forward when it is the sole copy") {
    val path = tmp("stagingroll")
    Tables.load((0L until 50L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    val dir = new java.io.File(path)
    val mf = new java.io.File(dir, "_graft_manifest.json")
    val st = new java.io.File(dir, "._graft_manifest.json.staging")
    val content = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    // simulate the delete-then-rename fallback crash: target gone, the
    // staged replacement (a complete manifest) is the SOLE copy
    java.nio.file.Files.move(mf.toPath, st.toPath)
    assert(!mf.exists && st.exists)
    // any mutating op's entry recovery must roll it FORWARD, not delete it
    Tables.append(Seq((100L, 1.0)).toDF("ts", "v"), path, "ts", lit(0L))
    assert(mf.exists && !st.exists, "staged manifest must install, not vanish")
    // the rolled-forward manifest's PRE-APPEND entries are byte-for-byte
    // the captured originals (the append then extends with its own file)
    val recovered = Tables.manifest(spark, path).get
    val original = org.json4s.jackson.Serialization
      .read[graft.io.TsManifest](content)(org.json4s.DefaultFormats,
        implicitly[scala.reflect.Manifest[graft.io.TsManifest]])
    assert(recovered.ts == original.ts)
    assert(original.files.toSet.subsetOf(recovered.files.toSet),
      "roll-forward must install the staged entries intact")
    assert(Tables.snapshot(spark, path).count() == 51)
    // a TORN staging (unparseable) next to a LIVE manifest is a
    // superseded draft — swept, manifest untouched
    java.nio.file.Files.write(st.toPath, "{torn".getBytes("UTF-8"))
    Tables.append(Seq((200L, 2.0)).toDF("ts", "v"), path, "ts", lit(0L))
    assert(!st.exists, "torn draft must be swept")
    assert(Tables.manifest(spark, path).isDefined)
  }

  test("deleteRange randomized differential: split semantics == full filter") {
    // the O(range) split must be INVISIBLE semantically: for random
    // layouts and random (possibly degenerate) bounds, the surviving
    // rows equal a plain filterNot over the original data — whatever mix
    // of carried/rewritten/no-op the manifest split chose
    val rnd = new scala.util.Random(913001L)
    for (iter <- 1 to 8) {
      val path = tmp(s"deldiff$iter")
      val n = 50 + rnd.nextInt(400)
      val rows = (0L until n.toLong).map(i => (i, rnd.nextDouble()))
      Tables.load(rows.toDF("ts", "v").repartition(1 + rnd.nextInt(6)),
        path, Seq(), "ts")
      val lo = rnd.nextInt(2 * n).toLong - n / 2  // may miss everything
      val hi = lo + rnd.nextInt(n).toLong
      Tables.deleteRange(spark, path, "ts", lit(lo), lit(hi))
      val expect = rows.filterNot { case (t, _) => t >= lo && t <= hi }
        .sortBy(_._1)
      val got = Tables.snapshot(spark, path).select("ts", "v")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      assert(got == expect,
        s"iter $iter: delete [$lo,$hi] over $n rows diverged " +
          s"(got ${got.size}, want ${expect.size})")
    }
  }

  test("deleteRangeNs inclusive duals are exact on µs-grain timestamps") {
    // the typed-literal translation (ceiling lower, floor upper) must
    // delete EXACTLY the µs ticks whose ns value lies in [fromNs, tillNs]
    // — including non-µs-aligned ns bounds, where naive floor/ceil choices
    // admit or drop boundary rows depending on the file's encoding
    import org.apache.spark.sql.types.{StructField, StructType, TimestampType, DoubleType}
    val rnd = new scala.util.Random(913002L)
    for (iter <- 1 to 4) {
      val path = tmp(s"delns$iter")
      val n = 200
      val rows = (0 until n).map { i =>
        org.apache.spark.sql.Row(
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(0L, i * 1000L)),
          i.toDouble)
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3),
        StructType(Seq(StructField("ts", TimestampType), StructField("v", DoubleType))))
      Tables.load(df, path, Seq(), "ts")
      // ns bounds deliberately off the µs grid
      val fromNs = rnd.nextInt(n * 1000).toLong + (if (iter % 2 == 0) 1L else 0L)
      val tillNs = fromNs + rnd.nextInt(n * 500).toLong + 7L
      Tables.deleteRangeNs(spark, path, "ts", fromNs, tillNs)
      val expect = (0 until n).filterNot { i =>
        val ns = i * 1000L; ns >= fromNs && ns <= tillNs
      }.map(_.toDouble).sorted
      val got = Tables.snapshot(spark, path).select("v")
        .collect().map(_.getDouble(0)).sorted.toSeq
      assert(got == expect,
        s"iter $iter: deleteRangeNs [$fromNs,$tillNs] diverged " +
          s"(got ${got.size}, want ${expect.size})")
    }
  }

  test("tableStats cross-checks the filesystem through the lifecycle") {
    val path = tmp("stats")
    def fsData(): Seq[java.io.File] = dataFiles(path)
    // ungoverned/absent: zeros, governed=false
    val s0 = Tables.tableStats(spark.sparkContext.hadoopConfiguration, path)
    assert(!s0.governed && s0.live_files == 0 && s0.live_bytes == 0L)
    // load: governed, live = the on-disk files, nothing unloaded
    Tables.load((0L until 2000L).map(i => (i, i * 1.0)).toDF("ts", "v")
      .repartition(4), path, Seq(), "ts")
    val s1 = Tables.tableStats(spark.sparkContext.hadoopConfiguration, path)
    assert(s1.governed && s1.ts == "ts")
    assert(s1.live_files == fsData().size)
    assert(s1.live_bytes == fsData().map(_.length).sum)
    assert(s1.unloaded_files == 0 && s1.retired_files == 0)
    assert(s1.lease_op == "" && s1.reader_pins == 0 && s1.stream_count == 0)
    // append: the batch registers as unloaded
    Tables.append(Seq((3000L, 1.0)).toDF("ts", "v"), path, "ts", lit(3000L))
    val s2 = Tables.tableStats(spark.sparkContext.hadoopConfiguration, path)
    assert(s2.unloaded_files == 1 && s2.live_files == s1.live_files + 1)
    // delete under grace: replaced files show as retired with their bytes
    withGrace(600000L) {
      Tables.deleteRange(spark, path, "ts", lit(3000L), lit(3000L))
      val s3 = Tables.tableStats(spark.sparkContext.hadoopConfiguration, path)
      assert(s3.retired_files == 1 && s3.retired_bytes > 0L)
      assert(s3.live_files == s1.live_files)
      // a live reader pin and a held lease are both visible
      Tables.withReaderPin(spark, path) {
        val s4 = Tables.tableStats(spark.sparkContext.hadoopConfiguration, path)
        assert(s4.reader_pins == 1)
      }
      val hp = new org.apache.hadoop.fs.Path(path)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Tables.withWriterLease(fs, hp, "statsprobe") {
        val s5 = Tables.tableStats(spark.sparkContext.hadoopConfiguration, path)
        assert(s5.lease_op == "statsprobe" && s5.lease_age_ms >= 0L)
      }
    }
    // stream ingest: high-water mark and stream count surface
    val batch = Seq((5000L, 5.0)).toDF("ts", "v")
    assert(Tables.appendStreamBatch(batch, path, "ts", "ckpt-stats", 0L))
    assert(Tables.appendStreamBatch(
      Seq((6000L, 6.0)).toDF("ts", "v"), path, "ts", "ckpt-stats", 1L))
    val s6 = Tables.tableStats(spark.sparkContext.hadoopConfiguration, path)
    assert(s6.stream_count == 1 && s6.stream_high_water == 1L)
    assert(!s6.stream_pending)
    // the one-row DataFrame form matches, and the SQL surface serves it
    val row = Tables.stats(spark, path).head()
    assert(row.getAs[Long]("live_bytes") == s6.live_bytes)
    graft.sqlext.GraftFunctions.register(spark)
    val js = spark.sql(s"select cs_table_stats('$path') as j").head().getString(0)
    assert(js.contains("\"live_files\":" + s6.live_files), js)
    assert(js.contains("\"governed\":true"), js)
  }

  test("rangeScan open-ended Long bounds don't overflow the µs literal") {
    val dir = "/root/testdata/sf0.001"
    val all = Tables.read(spark, dir, "events").count()
    val got = Tables.rangeScan(spark, dir, "events",
      Long.MinValue, Long.MaxValue).count()
    assert(got == all, s"open-ended scan must return everything: $got vs $all")
  }

  test("read() sees lifecycle mutations (memoized file index invalidated)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_inval").toString
    val path = s"$dir/t.parquet"
    Tables.load((0L until 10L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    assert(Tables.read(spark, dir, "t").count() == 10)
    // append: a stale memoized InMemoryFileIndex would miss the new files
    Tables.append((10L until 15L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, "ts", lit(10L))
    assert(Tables.read(spark, dir, "t").count() == 15)
    // compact renames every file: a stale index would crash on old names
    Tables.compact(spark, path, Seq(), "ts")
    assert(Tables.read(spark, dir, "t").count() == 15)
    Tables.deleteRange(spark, path, "ts", lit(0L), lit(4L))
    assert(Tables.read(spark, dir, "t").count() == 10)
    Tables.truncate(spark, path)
    assert(!new java.io.File(path).exists)
  }

  test("loadBucketed refuses an input that reads the target table (in-place re-bucket)") {
    import spark.implicits._
    Tables.loadBucketed(Seq((1L, 1L, 1.0)).toDF("k", "ts", "v"),
      "b_selfref", Seq("k"), 2, Seq("ts"))
    val e = intercept[IllegalArgumentException] {
      Tables.loadBucketed(spark.table("b_selfref"), "b_selfref",
        Seq("k"), 4, Seq("ts"))
    }
    assert(e.getMessage.contains("reads the target table"))
    // the refused call must not have touched the table
    assert(spark.table("b_selfref").count() == 1)
  }

  test("extreme ts stats degrade to stat-less manifest entries, never wrap") {
    val path = tmp("bigts")
    // micros for year 2400 ≈ 1.36e16; ×1000 to ns overflows a Long — the
    // conversion must degrade to None (file KEPT by every pruning
    // decision), not wrap negative and flip the overlap test
    val df = spark.sql(
      "select timestamp'2400-01-01 00:00:00' as ts, 1.0 as v")
    Tables.load(df, path, Seq(), "ts")
    val m = Tables.manifest(spark, path).getOrElse(sys.error("manifest missing"))
    assert(m.files.nonEmpty)
    assert(m.files.forall(e => e.minNs.isEmpty && e.maxNs.isEmpty),
      s"out-of-ns-range stats must be dropped, got ${m.files}")
  }

  /** Run `body` with the retire grace window set to `ms`, restoring the
    * previous value (the suite default is 0 — eager reclaim).
    */
  private def withGrace[T](ms: Long)(body: => T): T = {
    // force session init FIRST: TestSpark's initializer sets the suite's
    // zero-grace default, and it runs lazily at first spark access — an
    // override set before that would be silently clobbered mid-test
    val _ = spark
    val prev = sys.props.get("graft.retire.grace.ms")
    sys.props("graft.retire.grace.ms") = ms.toString
    try body
    finally prev match {
      case Some(v) => sys.props("graft.retire.grace.ms") = v
      case None => sys.props.remove("graft.retire.grace.ms")
    }
  }

  test("readers on a mid-install crashed state serve the OLD snapshot (marker allowance)") {
    withGrace(600000L) {
      val path = tmp("midcrash")
      val rows = (0L until 800L).map(i => (i, i * 1.0))
      Tables.load(rows.toDF("ts", "v").repartition(3), path, Seq(), "ts")
      val preContent = Tables.snapshot(spark, path).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      // kill the full compact mid-move: some staged files are already in
      // the live dir, the marker is present, the manifest is still OLD —
      // the exact state a reader can land on between crash and recovery
      assert(withCrash("full:gen-moved", 1) {
        Tables.compact(spark, path, Seq(), "ts")
      })
      assert(new java.io.File(path + ".gen.commit").exists, "marker must be live")
      // a reader in this window serves the OLD generation consistently:
      // the manifest governs, the marker whitelists the half-moved staged
      // files, and no retired duplication is possible
      assert(Tables.snapshot(spark, path).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq == preContent,
        "mid-crash reader must see the old snapshot, not a torn or doubled one")
      // recovery rolls forward; content unchanged, marker consumed
      Tables.compactIncremental(spark, path, Seq(), "ts")
      assert(!new java.io.File(path + ".gen.commit").exists)
      assert(Tables.snapshot(spark, path).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq == preContent)
    }
  }

  test("maintenance installs never break in-flight readers (grace retention)") {
    withGrace(600000L) {
      val dir = java.nio.file.Files.createTempDirectory("graft_race")
      dir.toFile.deleteOnExit()
      val path = s"$dir/t.parquet"
      val base = (0L until 3000L).map(i => (i, i * 1.0))
      val hot = (3000L until 3300L).map(i => (i, i * 1.0))
      Tables.load(base.toDF("ts", "v").repartition(4), path, Seq(), "ts")
      Tables.append(hot.toDF("ts", "v"), path, "ts", lit(3000L))
      // the in-flight reader: lists the OLD generation's files (the file
      // index is built here), materializes only AFTER the install — the
      // exact interleave that died with FileNotFoundException under the
      // pre-r12 rename swap
      val reader = Tables.snapshot(spark, path)
      val preFiles = reader.inputFiles.toSeq
      assert(preFiles.nonEmpty)
      Tables.compactIncremental(spark, path, Seq(), "ts")
      // every pre-listed file is still at its path (hot ones grace-retained)
      preFiles.foreach { f =>
        assert(new java.io.File(java.net.URI.create(f)).exists,
          s"pre-install file $f vanished — reader isolation broken")
      }
      val got = reader.collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy(_._1).toSeq
      assert(got == base ++ hot, "in-flight reader must complete on its snapshot")
      // a FRESH snapshot serves the new generation — same rows, new files
      val fresh = Tables.snapshot(spark, path)
      assert(fresh.collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy(_._1).toSeq == base ++ hot)
      val m = Tables.manifest(spark, path).get
      assert(m.retired.nonEmpty, "replaced files must be recorded as retired")
      assert(m.files.forall(_.loaded))
      // rangeScan serves the live generation only (no double counting)
      assert(Tables.rangeScan(spark, dir.toString, "t", 3000L, 3300L).count() == 300)

      // deleteRange isolation: a reader that listed files pre-delete
      // completes on the undeleted snapshot
      val reader2 = Tables.snapshot(spark, path)
      assert(reader2.inputFiles.nonEmpty)
      Tables.deleteRange(spark, path, "ts", lit(100L), lit(199L))
      assert(reader2.count() == 3300L, "pre-delete reader sees its snapshot")
      assert(Tables.snapshot(spark, path).count() == 3200L)

      // vacuum reclaims the retained generations; plain dir read and the
      // snapshot then agree again
      val retired = Tables.manifest(spark, path).get.retired.size
      assert(retired > 0)
      assert(Tables.vacuum(spark, path, 0L) == retired)
      assert(Tables.manifest(spark, path).get.retired.isEmpty)
      assert(spark.read.parquet(path).count() == 3200L,
        "post-vacuum the directory holds exactly the live generation")
    }
  }

  test("full compact retains the whole replaced generation until reclaim") {
    withGrace(600000L) {
      val path = tmp("race_full")
      val rows = (0L until 1000L).map(i => (i, i * 1.0))
      Tables.load(rows.toDF("ts", "v").repartition(3), path, Seq(), "ts")
      val reader = Tables.snapshot(spark, path)
      assert(reader.inputFiles.nonEmpty)
      Tables.compact(spark, path, Seq(), "ts")
      assert(reader.count() == 1000L)
      assert(Tables.snapshot(spark, path).count() == 1000L)
      // expired entries are reclaimed by the NEXT lease-holding op: drop
      // the grace to zero and run an append — entry reclaim fires
      withGrace(0L) {
        Tables.append(Seq((5000L, 1.0)).toDF("ts", "v"), path, "ts", lit(0L))
      }
      assert(Tables.manifest(spark, path).get.retired.isEmpty,
        "the next op past the grace must reclaim retired files")
      assert(spark.read.parquet(path).count() == 1001L)
    }
  }

  test("writeManifest regen never promotes retired files back to live") {
    withGrace(600000L) {
      val path = tmp("regen")
      Tables.load((0L until 500L).map(i => (i, i * 1.0)).toDF("ts", "v"),
        path, Seq(), "ts")
      Tables.compact(spark, path, Seq(), "ts") // retires the load files
      val before = Tables.manifest(spark, path).get
      assert(before.retired.nonEmpty)
      Tables.writeManifest(spark, path, "ts")
      val after = Tables.manifest(spark, path).get
      assert(after.files.map(_.name).toSet == before.files.map(_.name).toSet,
        "regen must keep the live set unchanged")
      assert(after.retired.map(_.name).toSet == before.retired.map(_.name).toSet,
        "regen must carry the retired set, not resurrect it")
      assert(Tables.snapshot(spark, path).count() == 500L)
    }
  }

  test("a foreign write onto a grace-retained table fails loudly, never duplicates") {
    withGrace(600000L) {
      val path = tmp("race_foreign")
      Tables.load((0L until 100L).map(i => (i, i * 1.0)).toDF("ts", "v"),
        path, Seq(), "ts")
      Tables.compact(spark, path, Seq(), "ts") // leaves retired files
      assert(Tables.manifest(spark, path).get.retired.nonEmpty)
      // a foreign writer drops a stray data file into the dir: the
      // manifest no longer matches — with retired files present a plain
      // fallback would silently serve duplicates, so reads must refuse
      val stray = new java.io.File(path, "foreign-file.parquet")
      java.nio.file.Files.write(stray.toPath, Array[Byte](1, 2, 3))
      val e = intercept[RuntimeException](Tables.snapshot(spark, path).count())
      assert(e.getMessage.contains("retired"), e.getMessage)
      assert(stray.delete())
      assert(Tables.snapshot(spark, path).count() == 100L)
    }
  }

  test("compactBucketedIsolated: readers finish on the old generation; flip is atomic") {
    withGrace(600000L) {
      val t = "bkt_iso_race"
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      Tables.loadBucketed((0L until 200L).map(i => (i % 4, i, i * 1.0))
        .toDF("k", "ts", "v"), t, Seq("k"), 4, sortCols = Seq("ts"))
      Tables.appendBucketed((200L until 240L).map(i => (i % 2, i, i * 1.0))
        .toDF("k", "ts", "v"), t)
      // the in-flight reader: plans (and lists files) BEFORE the flip
      val reader = spark.table(t)
      val preFiles = reader.inputFiles.toSeq
      assert(preFiles.nonEmpty)
      val filesPre = tableLoc(t).listFiles.count(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
      val (nb, na) = Tables.compactBucketedIsolated(spark, t)
      assert(nb == filesPre && na <= 4,
        s"isolated fold must restore ≤1 file/bucket: $nb -> $na")
      // every pre-flip file is still at its path — the reader completes
      preFiles.foreach { f =>
        assert(new java.io.File(java.net.URI.create(f)).exists,
          s"pre-flip file $f vanished — bucketed reader isolation broken")
      }
      assert(reader.count() == 240L, "pre-flip reader must finish on its snapshot")
      // a fresh read serves the new generation: same rows, new location
      val fresh = spark.table(t)
      assert(fresh.count() == 240L)
      assert(fresh.inputFiles.toSet.intersect(preFiles.toSet).isEmpty,
        "the new generation must be a disjoint file set")
      // the flipped table still carries the zero-Exchange bucket layout
      val l = spark.table(t).groupBy(col("k")).agg(sum(col("v")).as("sv"))
      assert(!l.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
        s"bucketed agg must not shuffle after the flip:\n${l.queryExecution.executedPlan}")
      // the ordered-ingest contract survives the flip (manifest regenerated)
      val locNow = tableLoc(t)
      assert(new java.io.File(locNow, "_graft_manifest.json").exists,
        "flipped generation must carry a manifest")
      intercept[IllegalStateException] {
        Tables.appendBucketed(Seq((1L, 5L, 0.0)).toDF("k", "ts", "v"), t)
      }
      // reclaim: past the grace, the next bucketed op deletes the old dir
      val oldDir = new java.io.File(java.net.URI.create(preFiles.head)).getParentFile
      assert(oldDir.exists)
      withGrace(0L) {
        Tables.appendBucketed(Seq((1L, 500L, 1.0)).toDF("k", "ts", "v"), t)
      }
      assert(!oldDir.exists, "expired retired generation must be reclaimed")
      assert(spark.table(t).count() == 241L)
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
    }
  }

  test("compactBucketedIsolated crash points: un-flipped attempts leave the table intact") {
    val tags = Seq("bktiso:staged", "bktiso:ledger", "bktiso:gen-dropped",
      "bktiso:flipped")
    for ((tag, i) <- tags.zipWithIndex) {
      val t = s"bkt_iso_crash$i"
      Tables.loadBucketed((0L until 60L).map(j => (j % 3, j, j * 1.0))
        .toDF("k", "ts", "v"), t, Seq("k"), 3, sortCols = Seq("ts"))
      Tables.appendBucketed((60L until 80L).map(j => (j % 3, j, j * 1.0))
        .toDF("k", "ts", "v"), t)
      assert(withCrash(tag, 1) { Tables.compactBucketedIsolated(spark, t) },
        s"$tag must fire")
      // content must be intact at every crash point (old generation before
      // the flip, new generation after) and the retry must converge
      assert(spark.table(t).select("ts").as[Long].collect().toSet ==
        (0L until 80L).toSet, s"$tag: content diverged after crash")
      val (_, na2) = Tables.compactBucketedIsolated(spark, t)
      assert(na2 <= 3, s"$tag: retry did not fold")
      assert(spark.table(t).select("ts").as[Long].collect().toSet ==
        (0L until 80L).toSet, s"$tag: content diverged after retry")
      // with the suite's zero grace, nothing stale survives: at most the
      // current generation dir + ledger remain
      val parent = tableLoc(t).getParentFile
      val stale = parent.listFiles.filter(f =>
        f.getName.startsWith(s"bkt_iso_crash${i}__gen") &&
          f.getAbsolutePath != tableLoc(t).getAbsolutePath)
      // one more op triggers sweep+reclaim of anything left
      Tables.appendBucketed(Seq((1L, 900L, 1.0)).toDF("k", "ts", "v"), t)
      val staleAfter = parent.listFiles.filter(f =>
        f.getName.startsWith(s"bkt_iso_crash${i}__gen") &&
          f.getAbsolutePath != tableLoc(t).getAbsolutePath)
      assert(staleAfter.isEmpty,
        s"$tag: stale generations not reclaimed: ${staleAfter.mkString(",")}")
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
    }
  }

  test("reader pins defer reclamation beyond the grace (clustered and bucketed)") {
    // grace covers typical queries; a PIN covers the long tail — an
    // hours-long scan outliving any reasonable grace defers the delete
    // until it releases (or its pin goes stale: a crashed reader must
    // never block reclaim forever)
    val path = tmp("pins")
    Tables.load((0L until 400L).map(i => (i, i * 1.0)).toDF("ts", "v")
      .repartition(3), path, Seq(), "ts")
    Tables.withReaderPin(spark, path) {
      val reader = Tables.snapshot(spark, path)
      val preFiles = reader.inputFiles.toSeq
      // suite grace is ZERO — without the pin this compact would delete
      // the replaced files at op exit
      Tables.compact(spark, path, Seq(), "ts")
      preFiles.foreach { f =>
        assert(new java.io.File(java.net.URI.create(f)).exists,
          s"pinned reader's file $f reclaimed under a live pin")
      }
      assert(reader.count() == 400L, "pinned reader must finish on its snapshot")
      assert(Tables.manifest(spark, path).get.retired.nonEmpty,
        "retired entries must persist while the pin lives")
    }
    // pin released: the next op reclaims
    Tables.append(Seq((1000L, 1.0)).toDF("ts", "v"), path, "ts", lit(0L))
    assert(Tables.manifest(spark, path).get.retired.isEmpty,
      "released pin must unblock reclamation")
    // a STALE pin (crashed reader) does not block: plant one aged past TTL
    Tables.compact(spark, path, Seq(), "ts") // leaves retired under a fresh...
    val stale = new java.io.File(path + ".pin.deadbeef")
    if (Tables.manifest(spark, path).get.retired.nonEmpty) {
      java.nio.file.Files.write(stale.toPath, "{}".getBytes("UTF-8"))
      assert(stale.setLastModified(System.currentTimeMillis() - 11L * 60L * 1000L))
      Tables.append(Seq((2000L, 1.0)).toDF("ts", "v"), path, "ts", lit(0L))
      assert(Tables.manifest(spark, path).get.retired.isEmpty,
        "a stale pin must not block reclamation")
      assert(!stale.exists, "stale pins are cleaned in passing")
    }

    // bucketed generations: a pin on the pre-flip location defers the
    // retired-dir delete
    val t = "bkt_pin"
    Tables.loadBucketed((0L until 120L).map(i => (i % 4, i, i * 1.0))
      .toDF("k", "ts", "v"), t, Seq("k"), 4, sortCols = Seq("ts"))
    val loc0 = tableLoc(t)
    Tables.withReaderPin(spark, loc0.getAbsolutePath) {
      val reader = spark.table(t)
      assert(reader.inputFiles.nonEmpty)
      Tables.compactBucketedIsolated(spark, t)
      // reclaim attempt under the pin: the old generation dir survives
      Tables.appendBucketed(Seq((1L, 500L, 1.0)).toDF("k", "ts", "v"), t)
      assert(loc0.exists, "pinned retired generation reclaimed under a live pin")
      assert(reader.count() == 120L)
    }
    Tables.appendBucketed(Seq((1L, 600L, 1.0)).toDF("k", "ts", "v"), t)
    assert(!loc0.exists, "released pin must unblock generation reclaim")
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("append window is reader-atomic: marker allowance + roll-forward") {
    withGrace(600000L) {
      val path = tmp("appwin")
      Tables.load((0L until 300L).map(i => (i, i * 1.0)).toDF("ts", "v"),
        path, Seq(), "ts")
      // retire some files so a mis-read of the window would FAIL LOUDLY
      // (the pre-fix behavior) instead of silently double-counting
      Tables.append((300L until 330L).map(i => (i, i * 1.0)).toDF("ts", "v"),
        path, "ts", lit(0L))
      Tables.compactIncremental(spark, path, Seq(), "ts")
      assert(Tables.manifest(spark, path).get.retired.nonEmpty)
      // kill the next append AFTER its files moved in, BEFORE the manifest
      // extension — the exact window a concurrent reader can land on
      assert(withCrash("append:gen-moved", 1) {
        Tables.append((330L until 360L).map(i => (i, i * 1.0)).toDF("ts", "v"),
          path, "ts", lit(0L))
      })
      assert(new java.io.File(path + ".gen.commit").exists)
      // a reader in the window serves the PRE-batch snapshot — no spurious
      // "foreign writer" error, no torn view
      assert(Tables.snapshot(spark, path).count() == 330L,
        "mid-append reader must see the pre-batch snapshot")
      // the next op rolls the append FORWARD (plain appends are committed
      // data — never dropped), clears the marker, extends the manifest
      Tables.append((360L until 370L).map(i => (i, i * 1.0)).toDF("ts", "v"),
        path, "ts", lit(0L))
      assert(!new java.io.File(path + ".gen.commit").exists)
      assert(Tables.snapshot(spark, path).select("ts").as[Long].collect().toSet ==
        (0L until 370L).toSet,
        "crashed append must roll forward losslessly")
      val m = Tables.manifest(spark, path).get
      assert(m.files.map(_.name).toSet.size == m.files.size)
    }
  }

  test("append crash at each staged-move point rolls forward losslessly") {
    for ((tag, i) <- Seq("append:staged", "append:gen-marker", "append:gen-moved",
      "append:gen-manifest").zipWithIndex) {
      val path = tmp(s"appcrash$i")
      Tables.load((0L until 50L).map(j => (j, j * 1.0)).toDF("ts", "v"),
        path, Seq(), "ts")
      val fired = withCrash(tag, 1) {
        Tables.append((50L until 70L).map(j => (j, j * 1.0)).toDF("ts", "v"),
          path, "ts", lit(0L))
      }
      assert(fired, s"$tag must fire")
      // recovery = the next maintenance cycle; content must converge to
      // either pre-batch (killed before the marker) or full (after)
      Tables.compactIncremental(spark, path, Seq(), "ts")
      val got = Tables.snapshot(spark, path).select("ts").as[Long].collect().toSet
      val expect = if (tag == "append:staged") (0L until 50L).toSet
                   else (0L until 70L).toSet
      assert(got == expect, s"$tag: content diverged (got ${got.size})")
      assert(manifestConsistentHere(path), s"$tag: manifest inconsistent")
      assert(!new java.io.File(path + ".gen.commit").exists, s"$tag: marker leaked")
      assert(!new java.io.File(path + ".gen.tmp").exists, s"$tag: staging leaked")
    }
  }

  test("a crashed append into an UNGOVERNED dir stays ungoverned at recovery") {
    // regression (review): recovery's fresh-table bootstrap used to fire
    // whenever no manifest existed, adopting pre-existing unvetted files
    // as loaded entries — inventing a tail the engine never checked. It
    // must mirror the non-crash gate: bootstrap only when the batch's
    // files are the table's ONLY data files.
    val path = tmp("ungov")
    (0L until 50L).map(i => (i, i * 1.0)).toDF("ts", "v")
      .coalesce(1).write.parquet(path) // plain write: no manifest
    assert(withCrash("append:gen-moved", 1) {
      Tables.append((50L until 70L).map(i => (i, i * 1.0)).toDF("ts", "v"),
        path, "ts", lit(0L))
    })
    // the next op rolls the committed batch forward — but must NOT
    // manufacture governance over the foreign pre-existing files
    Tables.append((70L until 80L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, "ts", lit(0L))
    assert(Tables.snapshot(spark, path).select("ts").as[Long].collect().toSet ==
      (0L until 80L).toSet, "roll-forward must not lose the crashed batch")
    assert(Tables.manifest(spark, path).isEmpty,
      "recovery must not bootstrap a manifest over an ungoverned dir")
    assert(!new java.io.File(path + ".gen.commit").exists)
    assert(!new java.io.File(path + ".gen.tmp").exists)
  }

  test("live churn: concurrent readers never fail while maintenance runs") {
    // the MURSIW claim under REAL concurrency (not staged interleaves):
    // three unpinned reader threads snapshot continuously while a writer
    // churns append + both compact flavors + grace-respecting vacuum.
    // Readers must never throw (no FileNotFound from a swap, no spurious
    // foreign-writer refusal from an append window) and must only ever
    // see committed batch-aligned counts, monotone per thread.
    withGrace(600000L) {
      val path = tmp("churn")
      val batch = 50L
      Tables.load((0L until 200L).map(i => (i, i * 1.0)).toDF("ts", "v"),
        path, Seq(), "ts")
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val readers = (1 to 3).map { r =>
        val t = new Thread(() => {
          var last = 0L
          while (!stop.get && errs.isEmpty) {
            try {
              val c = Tables.snapshot(spark, path).count()
              if (c % batch != 0L || c < 200L || c < last)
                errs.add(new AssertionError(
                  s"reader $r saw a torn count $c (previous $last)"))
              last = c
            } catch { case e: Throwable => errs.add(e) }
          }
        }, s"churn-reader-$r")
        t.start(); t
      }
      try {
        var next = 200L
        for (i <- 1 to 8) {
          Tables.append((next until next + batch).map(j => (j, j * 1.0))
            .toDF("ts", "v"), path, "ts", lit(0L))
          next += batch
          if (i % 3 == 0) Tables.compact(spark, path, Seq(), "ts")
          else Tables.compactIncremental(spark, path, Seq(), "ts")
          Tables.vacuum(spark, path) // grace-respecting: reclaims nothing here
        }
      } finally { stop.set(true); readers.foreach(_.join(60000)) }
      assert(errs.isEmpty, s"concurrent reader failed: ${errs.peek()}")
      assert(Tables.snapshot(spark, path).count() == 200L + 8 * batch)
    }
  }

  test("pin-vs-destructive handshake: pins refuse under a live load/truncate lease") {
    // closes the check-then-act race (review): a pin created AFTER
    // truncate/load checked pins must observe the op's already-held lease
    // and withdraw — publish-then-check on both sides means at least one
    // side always sees the other
    val path = tmp("pinhs")
    Tables.load((0L until 20L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    def plantLease(op: String): java.io.File = {
      val f = new java.io.File(path + ".lease")
      val rec = s"""{"token":"t","op":"$op","pid":"0","acquiredMs":"0"}"""
      java.nio.file.Files.write(f.toPath, rec.getBytes("UTF-8"))
      f
    }
    // a LIVE destructive-op lease refuses the pin
    val l1 = plantLease("truncate")
    val e = intercept[IllegalStateException] {
      Tables.withReaderPin(spark, path) { fail("body must not run") }
    }
    assert(e.getMessage.contains("no stable snapshot to pin"), e.getMessage)
    assert(!new java.io.File(path).getParentFile.listFiles
      .exists(_.getName.contains(".pin.")), "the refused pin must withdraw")
    // a MAINTENANCE lease does not block pins (installs grace-retain)
    java.nio.file.Files.write(l1.toPath,
      """{"token":"t","op":"compactIncremental","pid":"0","acquiredMs":"0"}"""
        .getBytes("UTF-8"))
    Tables.withReaderPin(spark, path) {
      assert(Tables.snapshot(spark, path).count() == 20L)
    }
    // a STALE destructive lease (dead writer) does not block pins either
    val l2 = plantLease("load")
    assert(l2.setLastModified(System.currentTimeMillis() - Tables.leaseTtlMs - 60000L))
    Tables.withReaderPin(spark, path) {
      assert(Tables.snapshot(spark, path).count() == 20L)
    }
    l2.delete()
  }

  test("the in-place bucketed fold refuses while a live reader pin exists") {
    // compactBucketed rewrites the directory under any reader (its
    // documented reader-exclusive trade) — an explicit pin is the one
    // reader statement it can honor; compactBucketedIsolated remains the
    // fold that proceeds under pins (generation flip + grace retention)
    val t = "pin_bkt_fold"
    Tables.loadBucketed((0L until 64L).map(i => (i % 4, i, i * 1.0))
      .toDF("k", "ts", "v"), t, Seq("k"), 4, sortCols = Seq("ts"))
    Tables.appendBucketed((64L until 96L).map(i => (i % 4, i, i * 1.0))
      .toDF("k", "ts", "v"), t)
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).location.toString
    Tables.withReaderPin(spark, loc) {
      val e = intercept[RuntimeException](Tables.compactBucketed(spark, t))
      assert(e.getMessage.contains("pinned"), e.getMessage)
      assert(spark.table(t).count() == 96L)
    }
    val (nb, na) = Tables.compactBucketed(spark, t) // pin released: proceeds
    assert(na <= nb)
    assert(spark.table(t).count() == 96L)
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("legacy pending records (no markerBased field) parse as listing-based") {
    // wire-format pin: pre-r12 (and current bucketed) pending records
    // carry no markerBased field — they MUST parse to None (listing-based
    // rollback), never default to the marker branch, or an upgrade across
    // a mid-crash state would skip the rollback and duplicate the batch
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val legacy = org.json4s.jackson.Serialization
      .read[graft.io.PendingBatch](
        """{"streamId":"ck","batchId":3,"preFiles":["a.parquet"]}""")
    assert(legacy.markerBased.isEmpty, "absent field must parse as None")
    assert(legacy.preFiles == Seq("a.parquet"))
    val legacyEmpty = org.json4s.jackson.Serialization
      .read[graft.io.PendingBatch](
        """{"streamId":"ck","batchId":0,"preFiles":[]}""")
    assert(legacyEmpty.markerBased.isEmpty,
      "an empty pre-listing is a legitimate listing-based record (batch 0 " +
        "on an empty table), not a marker-based one")
    // and the new slim record round-trips with its flag intact
    val slim = org.json4s.jackson.Serialization.write(
      graft.io.PendingBatch("ck", 1L, Seq.empty, markerBased = Some(true)))
    assert(org.json4s.jackson.Serialization
      .read[graft.io.PendingBatch](slim).markerBased.contains(true))
  }

  test("a previous release's append-marker pending record is refused; no file is deleted") {
    // a clustered stream batch commits through its generation marker and
    // writes no pending record; one found on a clustered table was left
    // by the previous release's append-marker protocol, whose rollback
    // identity (the append marker) this release does not read. Taking it
    // as a listing would delete every data file (its pre-listing is
    // empty), so every clustered op refuses it with remediation text
    for ((rec, i) <- Seq(
        """{"streamId":"ck","batchId":2,"preFiles":[],"markerBased":true}""",
        """{"streamId":"ck","batchId":2,"preFiles":[]}""").zipWithIndex) {
      val path = tmp(s"oldpending$i")
      Tables.load((0L until 100L).map(j => (j, j * 1.0)).toDF("ts", "v"),
        path, Seq(), "ts")
      assert(Tables.appendStreamBatch((100L until 150L).map(j => (j, j * 1.0))
        .toDF("ts", "v"), path, "ts", "ck", 0L))
      assert(Tables.appendStreamBatch((150L until 200L).map(j => (j, j * 1.0))
        .toDF("ts", "v"), path, "ts", "ck", 1L))
      java.nio.file.Files.write(
        new java.io.File(path, "_graft_stream_commits.json").toPath,
        s"""{"committed":{"ck":1},"pending":$rec}""".getBytes("UTF-8"))
      val before = dataFiles(path).map(f => (f.getName, f.length)).toSet
      val next = (200L until 250L).map(j => (j, j * 1.0)).toDF("ts", "v")
      val ops: Seq[(String, () => Unit)] = Seq(
        "appendStreamBatch" -> (() => Tables.appendStreamBatch(next, path, "ts", "ck", 2L)),
        "append" -> (() => Tables.append(next, path, "ts", lit(0L))),
        "compactIncremental" -> (() => Tables.compactIncremental(spark, path, Seq(), "ts")),
        "deleteRange" -> (() => Tables.deleteRange(spark, path, "ts", lit(0L), lit(10L))))
      for ((name, op) <- ops) {
        val e = intercept[IllegalStateException](op())
        assert(e.getMessage.contains("previous release") &&
          e.getMessage.contains("no file was changed"), s"$name: ${e.getMessage}")
      }
      assert(dataFiles(path).map(f => (f.getName, f.length)).toSet == before,
        s"record $i: the refusal must not touch a data file")
      assert(Tables.snapshot(spark, path).count() == 200L)
    }
  }

  test("truncate and load refuse while a live reader pin exists") {
    val path = tmp("pinrefuse")
    Tables.load((0L until 20L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    Tables.withReaderPin(spark, path) {
      val e1 = intercept[RuntimeException](Tables.truncate(spark, path))
      assert(e1.getMessage.contains("pinned"), e1.getMessage)
      val e2 = intercept[RuntimeException] {
        Tables.load(Seq((1L, 1.0)).toDF("ts", "v"), path, Seq(), "ts")
      }
      assert(e2.getMessage.contains("pinned"), e2.getMessage)
      assert(Tables.snapshot(spark, path).count() == 20L)
    }
    // pin released: both proceed
    Tables.load(Seq((1L, 1.0)).toDF("ts", "v"), path, Seq(), "ts")
    assert(Tables.snapshot(spark, path).count() == 1L)
    Tables.truncate(spark, path)
    assert(!new java.io.File(path).exists)
  }

  // ---- lease dynamics under real concurrency (r12) ---------------------

  test("lease hammer: concurrent writers serialize or refuse — never corrupt") {
    val path = tmp("hammer")
    Tables.load((0L until 100L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    val nThreads = 4
    val opsPer = 5
    val counter = new java.util.concurrent.atomic.AtomicLong(1000L)
    val appended = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val allowed = Seq("another writer", "lost the lease race",
      "taking over", "out-of-order append")
    val threads = (1 to nThreads).map { t =>
      new Thread(() => {
        val rnd = new scala.util.Random(t * 7919L)
        for (_ <- 1 to opsPer) {
          try {
            rnd.nextInt(3) match {
              case 2 => Tables.compactIncremental(spark, path, Seq(), "ts")
              case _ =>
                val base = counter.addAndGet(10L)
                Tables.append((base until base + 5L).map(j => (j, j * 1.0))
                  .toDF("ts", "v"), path, "ts", lit(0L))
                (base until base + 5L).foreach(appended.add)
            }
          } catch {
            case e: Throwable
              if e.getMessage != null && allowed.exists(e.getMessage.contains) => ()
            case e: Throwable => unexpected.add(e)
          }
        }
      }, s"hammer-$t")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000L))
    assert(unexpected.isEmpty,
      s"unexpected failures under contention: ${unexpected.toArray.toSeq}")
    // exactly base ∪ acknowledged appends — nothing lost, nothing phantom
    import scala.jdk.CollectionConverters._
    val got = Tables.snapshot(spark, path).select("ts").as[Long].collect().toSet
    val want = (0L until 100L).toSet ++ appended.asScala
    assert(got == want, s"content diverged: missing=${want -- got} phantom=${got -- want}")
    // the table is still maintainable and consistent
    Tables.compactIncremental(spark, path, Seq(), "ts")
    assert(manifestConsistentHere(path))
    assert(!new java.io.File(path + ".lease").exists, "no lease leaked")
  }

  test("lease heartbeat keeps a live over-TTL op unbroken; release follows the body") {
    val prev = sys.props.get("graft.lease.ttl.ms")
    sys.props("graft.lease.ttl.ms") = "400"
    try {
      val path = tmp("hb")
      Tables.load(Seq((1L, 1.0)).toDF("ts", "v"), path, Seq(), "ts")
      val hp = new org.apache.hadoop.fs.Path(path)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val release = new java.util.concurrent.CountDownLatch(1)
      val holding = new java.util.concurrent.CountDownLatch(1)
      val slow = new Thread(() => Tables.withWriterLease(fs, hp, "slow") {
        holding.countDown(); release.await()
      }, "slow-writer")
      slow.start()
      assert(holding.await(10, java.util.concurrent.TimeUnit.SECONDS))
      // probe well past the TTL: the heartbeat must have refreshed the
      // lease, so a second writer still sees a LIVE holder and refuses
      Thread.sleep(900L)
      val e = intercept[IllegalStateException] {
        Tables.append(Seq((2L, 2.0)).toDF("ts", "v"), path, "ts", lit(0L))
      }
      assert(e.getMessage.contains("another writer"), e.getMessage)
      release.countDown()
      slow.join(10000L)
      // with the holder gone the next writer proceeds
      Tables.append(Seq((2L, 2.0)).toDF("ts", "v"), path, "ts", lit(0L))
      assert(Tables.snapshot(spark, path).count() == 2)
    } finally prev match {
      case Some(v) => sys.props("graft.lease.ttl.ms") = v
      case None => sys.props.remove("graft.lease.ttl.ms")
    }
  }

  test("lease excludes a writer in a SEPARATE process (cross-process arbitration)") {
    // the in-JVM hammer shares thread-locals and one filesystem object;
    // the lease's actual claim is cross-PROCESS exclusion through the
    // filesystem. Spawn a second JVM (no Spark needed — the lease is pure
    // Hadoop FS arbitration) that takes the lease and holds it; every
    // mutating op here must refuse while it lives, then proceed after it
    // exits and releases.
    val path = tmp("xproc")
    Tables.load(Seq((1L, 1.0)).toDF("ts", "v"), path, Seq(), "ts")
    val ready = java.nio.file.Files.createTempDirectory("xproc").resolve("ready")
    val java_ = s"${System.getProperty("java.home")}/bin/java"
    val proc = new ProcessBuilder(java_, "-cp",
      System.getProperty("java.class.path"), "graft.LeaseHold",
      path, "8000", ready.toString).inheritIO().start()
    try {
      val t0 = System.currentTimeMillis()
      while (!java.nio.file.Files.exists(ready) && proc.isAlive &&
        System.currentTimeMillis() - t0 < 60000L) Thread.sleep(50L)
      assert(java.nio.file.Files.exists(ready),
        "the probe process never acquired the lease")
      val e = intercept[IllegalStateException] {
        Tables.append(Seq((2L, 2.0)).toDF("ts", "v"), path, "ts", lit(0L))
      }
      assert(e.getMessage.contains("another writer"), e.getMessage)
      assert(proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) &&
        proc.exitValue == 0, "probe process did not exit cleanly")
      // released by the probe's finally — the next writer proceeds
      Tables.append(Seq((2L, 2.0)).toDF("ts", "v"), path, "ts", lit(0L))
      assert(Tables.snapshot(spark, path).count() == 2)
    } finally if (proc.isAlive) proc.destroyForcibly()
  }

  test("stale-lease break race: of N concurrent breakers at most one takes over") {
    val path = tmp("breakrace")
    Tables.load(Seq((1L, 1.0)).toDF("ts", "v"), path, Seq(), "ts")
    // plant a DEAD writer's lease, aged past the TTL
    val leaseFile = new java.io.File(path + ".lease")
    java.nio.file.Files.write(leaseFile.toPath,
      """{"token":"dead","op":"compact","pid":"0","acquiredMs":"0"}""".getBytes("UTF-8"))
    assert(leaseFile.setLastModified(System.currentTimeMillis() - 11L * 60L * 1000L))
    val successes = new java.util.concurrent.atomic.AtomicInteger(0)
    val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val allowed = Seq("another writer", "lost the lease race",
      "taking over", "out-of-order append")
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 6).map { t =>
      new Thread(() => {
        gate.await()
        try {
          Tables.append(Seq((10L + t, t * 1.0)).toDF("ts", "v"), path, "ts", lit(0L))
          successes.incrementAndGet()
        } catch {
          case e: Throwable
            if e.getMessage != null && allowed.exists(e.getMessage.contains) => ()
          case e: Throwable => unexpected.add(e)
        }
      }, s"breaker-$t")
    }
    threads.foreach(_.start())
    gate.countDown()
    threads.foreach(_.join(120000L))
    // on any failure, capture the full end state — this test flaked once
    // (1 in ~18 runs) without its detail being recorded; if it flakes
    // again the message must name the interleave
    def state(): String = {
      val lease = if (leaseFile.exists)
        scala.util.Try(new String(java.nio.file.Files.readAllBytes(
          leaseFile.toPath), "UTF-8")).getOrElse("<unreadable>")
      else "<absent>"
      val sibs = Option(new java.io.File(path).getParentFile.listFiles)
        .map(_.map(_.getName).toSeq.sorted).getOrElse(Seq())
      s"successes=${successes.get} lease=$lease siblings=$sibs " +
        s"unexpected=${unexpected.toArray.toSeq}"
    }
    assert(unexpected.isEmpty,
      s"unexpected failures in the break race: ${state()}")
    assert(successes.get >= 1,
      s"at least one breaker must take the stale lease over: ${state()}")
    // content = base + exactly the successful appends (one row each)
    val n = Tables.snapshot(spark, path).count()
    assert(n == 1L + successes.get, s"count $n after the race: ${state()}")
    assert(!leaseFile.exists, s"no lease left behind after the race: ${state()}")
  }

  test("metadataRowCount backfills pre-r16 manifests: the footer pass is paid once") {
    // VERDICT r16 item 3: a manifest written before row counts existed
    // made every metadataRowCount poll pay one footer open per live file
    // — the fallback pass must WRITE BACK what it just paid for (under
    // the writer lease, atomic install) so the second poll is pure
    // manifest arithmetic.
    val path = tmp("rowsbf")
    Tables.load(Seq((1L, 1.0), (5L, 2.0), (9L, 3.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    Tables.append(Seq((12L, 4.0), (15L, 5.0)).toDF("ts", "v"), path, "ts",
      lit(9L))
    val m0 = Tables.manifest(spark, path).get
    assert(m0.files.size >= 2, "need a multi-file table")
    assert(m0.files.forall(_.rows.isDefined), "write paths record rows")
    // simulate the pre-r16 manifest: strip every rows field
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Tables.writeSmallFileAtomic(fs,
      new org.apache.hadoop.fs.Path(hp, "_graft_manifest.json"),
      org.json4s.jackson.Serialization.write(
        m0.copy(files = m0.files.map(_.copy(rows = None)))))
    assert(Tables.manifest(spark, path).exists(_.files.forall(_.rows.isEmpty)))
    // first poll: pays exactly one footer open per live file, answers
    // correctly, and backfills the manifest
    val c0 = Tables.footerRowCountOpens.get()
    assert(Tables.metadataRowCount(spark, path).contains(5L))
    assert(Tables.footerRowCountOpens.get() - c0 == m0.files.size.toLong,
      "fallback pass must open each live file's footer exactly once")
    assert(Tables.manifest(spark, path).exists(_.files.forall(_.rows.isDefined)),
      "the paid-for counts must be written back into the manifest")
    // second poll: ZERO footer opens — manifest arithmetic only
    val c1 = Tables.footerRowCountOpens.get()
    assert(Tables.metadataRowCount(spark, path).contains(5L))
    assert(Tables.footerRowCountOpens.get() == c1,
      "a backfilled manifest must serve row counts with zero footer opens")
    // and the backfill touched nothing else (ts stats, retired set intact)
    val m1 = Tables.manifest(spark, path).get
    assert(m1.files.map(e => (e.name, e.bytes, e.minNs, e.maxNs, e.loaded)) ==
      m0.files.map(e => (e.name, e.bytes, e.minNs, e.maxNs, e.loaded)))
    assert(m1.retired == m0.retired)
  }

  test("metadataRowCount backfill stands down on a held writer lease (non-blocking read)") {
    // the backfill is opportunistic: a live stream holding the lease must
    // not make a health-check poll queue or fail — the poll still answers
    // (footer fallback), the manifest stays un-backfilled for next time
    val path = tmp("rowsbf2")
    Tables.load(Seq((1L, 1.0), (5L, 2.0)).toDF("ts", "v"), path, Seq(), "ts")
    val m0 = Tables.manifest(spark, path).get
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Tables.writeSmallFileAtomic(fs,
      new org.apache.hadoop.fs.Path(hp, "_graft_manifest.json"),
      org.json4s.jackson.Serialization.write(
        m0.copy(files = m0.files.map(_.copy(rows = None)))))
    // hold the lease from ANOTHER thread (the lease is thread-re-entrant,
    // so holding it from this thread would let the backfill ride along)
    LeaseHold.whileHeld(fs, hp, "foreign-writer") {
      assert(Tables.metadataRowCount(spark, path).contains(2L),
        "the poll itself must still answer under a foreign lease")
      assert(Tables.manifest(spark, path).exists(_.files.forall(_.rows.isEmpty)),
        "the backfill must stand down, not queue, under a foreign lease")
    }
    // lease released: the next poll backfills
    assert(Tables.metadataRowCount(spark, path).contains(2L))
    assert(Tables.manifest(spark, path).exists(_.files.forall(_.rows.isDefined)))
  }

  test("stagedPartCount: the Long.MaxValue unknown-stats sentinel falls back to inputParts (r18)") {
    val target = 128L << 20
    // the optimizer's unknown-stats sentinel (spark.sql.defaultSizeInBytes
    // = Long.MaxValue — every RDD-backed/streaming frame) must fall back
    // to the input partitioning, NOT overflow the ceiling add to 1 file
    assert(Tables.stagedPartCount(200, BigInt(Long.MaxValue), target) == 200)
    assert(Tables.stagedPartCount(200, BigInt(Long.MaxValue) * 4, target) == 200)
    // unknown/empty estimates: input partitioning
    assert(Tables.stagedPartCount(8, BigInt(0), target) == 8)
    assert(Tables.stagedPartCount(8, BigInt(-1), target) == 8)
    // small batch: one file (and the range-sampling skip that buys)
    assert(Tables.stagedPartCount(8, BigInt(1024), target) == 1)
    // sized batch: ceil(bytes/target), capped by inputParts, floored at 1
    assert(Tables.stagedPartCount(200, BigInt(target * 10 - 1), target) == 10)
    assert(Tables.stagedPartCount(4, BigInt(target * 10), target) == 4)
    assert(Tables.stagedPartCount(0, BigInt(1024), target) == 1)
  }

  test("append of an un-persisted shuffle frame runs its jobs only under the write") {
    // the staged-file-count probe reads the input's PLAN: executing an
    // adaptive input to count its partitions ran every shuffle stage
    // outside any SQL execution, and the write then ran them again
    val path = tmp("shufprobe")
    val agg = spark.range(0, 4000).select((col("id") % 97).as("k"), col("id"))
      .groupBy("k").agg(max(col("id")).as("ts"), count(lit(1)).as("n"))
    JobWatch.on(spark) { w =>
      w.measure(Tables.append(agg, path, "ts", lit(0L)))
      assert(w.count > 0, "the write itself must register")
      val outside = w.jobs.filter(_.execution.isEmpty)
      assert(outside.isEmpty, s"jobs ran outside any SQL execution:${w.describe}")
      val nonWrite = w.executions.filterNot(e =>
        w.plan(e).exists(_.contains("InsertIntoHadoopFsRelationCommand")))
      assert(nonWrite.isEmpty,
        s"executions other than the write launched jobs ($nonWrite):${w.describe}")
    }
    assert(Tables.snapshot(spark, path).count() == 97)
    // and the staged files never outnumber the input's partitions
    assert(Tables.manifest(spark, path).exists(m =>
      m.files.nonEmpty && m.files.size <= Tables.plannedPartitions(agg)))
  }

  test("load of an un-persisted shuffle frame runs its jobs only under the write") {
    // load sizes its write from the input's PLAN, as append does: counting
    // an adaptive input's partitions through Dataset.rdd ran its shuffle
    // stages outside any SQL execution, and the write then ran them again
    val path = tmp("loadshuf")
    val agg = spark.range(0, 4000).select((col("id") % 97).as("k"), col("id"))
      .groupBy("k").agg(max(col("id")).as("ts"), count(lit(1)).as("n"))
    JobWatch.on(spark) { w =>
      w.measure(Tables.load(agg, path, Seq("k"), "ts"))
      info(s"load wrote ${Tables.manifest(spark, path).map(_.files.size).getOrElse(0)} " +
        s"files for ${Tables.plannedPartitions(agg)} planned partitions")
      assert(w.count > 0, "the write itself must register")
      val outside = w.jobs.filter(_.execution.isEmpty)
      assert(outside.isEmpty, s"jobs ran outside any SQL execution:${w.describe}")
      val nonWrite = w.executions.filterNot(e =>
        w.plan(e).exists(_.contains("InsertIntoHadoopFsRelationCommand")))
      assert(nonWrite.isEmpty,
        s"executions other than the write launched jobs ($nonWrite):${w.describe}")
    }
    assert(Tables.snapshot(spark, path).count() == 97)
  }

  test("commitEmptyStreamBatch reclaims expired retired files (all-drop steady state, r18)") {
    val path = tmp("emptyreclaim")
    Tables.load((0L until 500L).map(i => (i, i * 1.0)).toDF("ts", "v"),
      path, Seq(), "ts")
    Tables.append(Seq((900L, 1.0)).toDF("ts", "v"), path, "ts", lit(900L))
    // retire the appended file under a LONG grace so it survives the
    // delete itself, then advance the stream's commit log through empty
    // batches with grace 0 — the steady state a re-crawling stream lives
    // in; the retired file must not outlive the grace window just
    // because every batch is empty
    withGrace(600000L) {
      Tables.deleteRange(spark, path, "ts", lit(900L), lit(900L))
    }
    def retiredCount: Int =
      Tables.manifest(spark, path).map(_.retired.size).getOrElse(0)
    assert(retiredCount == 1, "setup must leave one retired file")
    withGrace(0L) {
      assert(Tables.commitEmptyStreamBatch(spark, path, "s-er", 0L))
      assert(retiredCount == 0,
        "the empty-batch commit must run the per-batch reclamation beat")
      // and the commit log still advanced exactly-once (replay skips)
      assert(!Tables.commitEmptyStreamBatch(spark, path, "s-er", 0L))
    }
  }

  /** A governed `landing.parquet` table of `files` load-layout files,
    * ts = 0 until rows (int64 ns).
    */
  private def governedTable(tag: String, files: Int, rows: Long = 4000L): String = {
    val path = java.nio.file.Files.createTempDirectory(s"graft_tables_$tag")
      .toString + "/landing.parquet"
    Tables.load(spark.range(0, rows, 1, files)
      .select(col("id").as("ts"), (col("id") * 0.5).as("v")), path, Seq(), "ts")
    path
  }

  private def rowsAt(from: Long, n: Long) =
    spark.range(from, from + n, 1, 2).select(col("id").as("ts"), (col("id") * 0.5).as("v"))

  /** Every measured job ran under a SQL execution that writes parquet. */
  private def assertOnlyWriteJobs(w: JobWatch): Unit = {
    assert(w.count > 0, "the write itself must register")
    assert(w.jobs.forall(_.execution.nonEmpty),
      s"jobs ran outside any SQL execution:${w.describe}")
    val nonWrite = w.executions.filterNot(e =>
      w.plan(e).exists(_.contains("InsertIntoHadoopFsRelationCommand")))
    assert(nonWrite.isEmpty,
      s"executions other than the write launched jobs ($nonWrite):${w.describe}")
  }

  test("snapshot of a 40-file governed table is built with no Spark job") {
    val path = governedTable("snap40", 40)
    val files = Tables.liveFileNames(spark, path).get
    assert(files.size > 32, "the table must pass Spark's parallel-listing threshold")
    val df = JobWatch.on(spark) { w =>
      val df = w.measure(Tables.snapshot(spark, path))
      assert(w.count == 0, s"snapshot construction launched jobs:${w.describe}")
      df
    }
    val plain = spark.read.parquet(files.map(n => s"$path/$n"): _*)
    assert(df.schema == plain.schema)
    assert(df.inputFiles.sorted.sameElements(plain.inputFiles.sorted))
    assert(df.except(plain).isEmpty && df.count() == 4000)
  }

  test("rangeScan right after appendStreamBatch launches no parquet-read job") {
    val path = governedTable("rs40", 40)
    val dir = new java.io.File(path).getParent
    assert(Tables.appendStreamBatch(rowsAt(4000, 500), path, "ts", "rs", 0L))
    JobWatch.on(spark) { w =>
      w.measure(Tables.rangeScan(spark, dir, "landing", 3900L, 4500L))
      assert(w.count == 0, s"rangeScan construction launched jobs:${w.describe}")
      val n = w.measure(Tables.rangeScan(spark, dir, "landing", 3900L, 4500L).count())
      assert(n == 600)
      assert(w.at("parquet at Tables.scala").isEmpty,
        s"a range read ran a listing or schema-inference job:${w.describe}")
    }
  }

  test("compactIncremental launches jobs only under its write") {
    val path = governedTable("ci40", 40)
    (0 until 3).foreach(b =>
      assert(Tables.appendStreamBatch(rowsAt(4000 + b * 100, 100), path, "ts", "ci", b)))
    JobWatch.on(spark) { w =>
      val (before, after) = w.measure(
        Tables.compactIncremental(spark, path, Seq(), "ts"))
      assert(after < before, "the appended files must fold")
      assertOnlyWriteJobs(w)
    }
    assert(Tables.snapshot(spark, path).count() == 4300)
  }

  test("deleteRange launches jobs only under its rewrite write; a no-op delete none") {
    val path = governedTable("dr40", 40)
    JobWatch.on(spark) { w =>
      w.measure(Tables.deleteRange(spark, path, "ts", lit(0L), lit(149L)))
      assertOnlyWriteJobs(w)
      w.measure(Tables.deleteRange(spark, path, "ts", lit(100000L), lit(200000L)))
      assert(w.count == 0, s"a delete touching no file launched jobs:${w.describe}")
    }
    val ts = Tables.snapshot(spark, path).select("ts").as[Long].collect()
    assert(ts.length == 3850 && ts.min == 150L)
  }

  test("governed frames take the head footer's schema: equal to the inferring read's") {
    def inferred(path: String): org.apache.spark.sql.types.StructType =
      spark.read.parquet(Tables.liveFileNames(spark, path).get
        .map(n => s"$path/$n"): _*).schema
    val base = spark.range(0, 300, 1, 3)
    val shapes = Seq(
      "longns" -> base.select((col("id") * 1000L).as("ts"), col("id").as("k")),
      "ltz" -> base.select(timestamp_micros(col("id")).as("ts"), col("id").as("k")),
      "ntz" -> base.select(timestamp_micros(col("id")).cast("timestamp_ntz").as("ts"),
        col("id").as("k")),
      "nested" -> base.select((col("id") * 1000L).as("ts"),
        struct(col("id").as("a"), array(col("id"), col("id") + 1).as("b")).as("s"),
        array(struct(col("id").as("x"), lit("y").as("y"))).as("arr"),
        map(col("id"), array(lit(1.5))).as("m")))
    shapes.foreach { case (tag, df) =>
      val path = tmp(s"schema_$tag")
      Tables.load(df, path, Seq(), "ts")
      assert(Tables.snapshot(spark, path).schema == inferred(path), tag)
    }
    // a foreign writer's file carries no Spark row schema in its footer:
    // the head schema falls back to the inferring read
    val path = tmp("schema_foreign")
    new java.io.File(path).mkdirs()
    val msg = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 ts; optional binary name (UTF8); " +
        "optional group pt { required double x; } }")
    val out = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(
      org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$path/part-0.parquet"),
        spark.sparkContext.hadoopConfiguration)).withType(msg).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
    try (0 until 10).foreach { i =>
      val g = groups.newGroup().append("ts", i.toLong).append("name", s"n$i")
      g.addGroup("pt").append("x", i * 1.0)
      out.write(g)
    } finally out.close()
    Tables.writeManifest(spark, path, "ts")
    JobWatch.on(spark) { w =>
      val df = w.measure(Tables.snapshot(spark, path))
      assert(df.schema == inferred(path))
      assert(w.count > 0, "the foreign footer must take the inferring read")
      assert(df.count() == 10)
    }
  }
}
