package graft

import org.apache.spark.sql.functions._

/** Scale-up smoke: multiply sf0.1 by `factor` (default 20 → ~12M lineitem
  * rows / ~200 MB parquet across many files) and re-run headline operator
  * shapes, printing partition counts and wall times. The point is
  * EVIDENCE for the scale claims, not a benchmark: the byte-proportional
  * cache sizing must move from the few-partition small-SF regime to
  * core-count parallelism on its own, plans must stay shape-identical,
  * and runtimes must grow far slower than data (parallel headroom).
  *
  * Usage: graft.ScaleSmoke [factor] [workDir]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    // zero retention grace: the smoke times maintenance walls, and eager
    // reclaim (delete replaced files in-op) matches the pre-retention
    // records the A/B comparisons were built on
    sys.props.getOrElseUpdate("graft.retire.grace.ms", "0")
    val factor = args.headOption.flatMap(_.toIntOption).getOrElse(20)
    val work = args.drop(1).headOption.getOrElse(
      s"${System.getProperty("java.io.tmpdir")}/graft_scale_smoke")
    val spark = Session(Session.benchCores, 32)
    spark.sparkContext.setLogLevel("ERROR")
    // loadavg head BEFORE each section: on a shared box a co-tenant burst
    // inflates a section's wall time — the snapshot lets a reader qualify
    // each number (our own 32 threads only show up in the NEXT section's
    // snapshot; a high start value means the box was already busy)
    def load(): Double = scala.util.Try(
      scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble).getOrElse(-1.0)
    def time[T](label: String)(f: => T): T = {
      val l0 = load(); val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.3f s " +
        f"(loadavg at start $l0%.2f)"); r
    }
    // optional 3rd arg: comma-separated label substrings — run only the
    // matching query sections (setup always runs). Lets the big factors
    // (x100) target one pipeline without paying for the whole battery:
    //   ScaleSmoke 100 /tmp/work "window join,passage,mixture"
    val only: Option[Set[String]] = args.drop(2).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def run(label: String)(f: => Unit): Unit =
      if (only.forall(_.exists(label.contains))) time(label)(f)
      else println(s"$label: skipped (filter)")

    // ×factor lineitem: replicate with perturbed keys so group/join
    // cardinalities scale with the data (not constant groups)
    val base = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    val big = base
      .withColumn("__rep", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("l_orderkey", col("l_orderkey") * factor + col("__rep"))
      .drop("__rep")
    // SPARK_GRAFT_REUSE=1 skips the replicate+write when the workdir
    // already holds this factor's data (re-measuring after interference)
    val reuse = sys.env.get("SPARK_GRAFT_REUSE").contains("1") &&
      new java.io.File(s"$work/lineitem.parquet/_SUCCESS").exists()
    if (reuse) println(s"write x$factor lineitem: reused $work")
    else time(s"write x$factor lineitem") {
      big.write.mode("overwrite").parquet(s"$work/lineitem.parquet")
    }
    val li = graft.io.Tables.read(spark, work, "lineitem")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = time("load+cache")(li.count())
    // a reused workdir from a DIFFERENT factor would silently mislabel
    // every measurement (x20 data recorded as x100) — fail loud instead
    if (reuse) {
      val want = base.count() * factor
      require(rows == want, s"reused $work holds $rows rows but factor " +
        s"$factor needs $want — wrong-factor data; drop SPARK_GRAFT_REUSE " +
        "or point at the right workdir")
    }
    println(s"rows = $rows, cached partitions = ${li.rdd.getNumPartitions} " +
      s"(sized by bytes/2.5MB clamped to cores — was 4-5 at sf0.1)")

    run("q1-shape agg (warm 1)") {
      li.filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    run("q1-shape agg (warm 2)") {
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    run("filtered count") {
      li.filter(col("l_extendedprice") > col("l_quantity") * lit(1000.0))
        .agg(count(lit(1))).write.format("noop").mode("overwrite").save()
    }
    run("3-key hash agg") {
      li.groupBy(col("l_returnflag"), col("l_linestatus"), year(col("l_shipdate")))
        .agg(count(lit(1)), sum("l_extendedprice"), min("l_quantity"), max("l_quantity"))
        .write.format("noop").mode("overwrite").save()
    }

    // union collapse at scale (round 8): concat of 3 disjoint returnflag
    // slices then a grand agg — stock Catalyst scans the cached table once
    // PER ARM; UnionDisjointFilterCollapse folds the arms into one
    // IN-filtered pass. Expect the collapsed wall to approach 1/3 the
    // uncollapsed (scan-bound shape). Rule removed/installed explicitly so
    // the A/B is deterministic regardless of section ordering.
    def concatSum(): Unit = {
      Seq("A", "N", "R")
        .map(f => li.filter(col("l_returnflag") === f).select(col("l_extendedprice")))
        .reduce(_ unionByName _)
        .agg(sum("l_extendedprice"))
        .write.format("noop").mode("overwrite").save()
    }
    run("concat-sum 3 slices (union, 3 scans)") {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.UnionDisjointFilterCollapse)
      concatSum()
    }
    run("concat-sum 3 slices (collapsed, 1 scan)") {
      graft.plans.UnionDisjointFilterCollapse.install(spark)
      concatSum()
    }

    // keyless series ops at scale: pos numbering + trailing window + as-of
    // via the ranged scans (partition-count parallelism, no global window)
    lazy val series = graft.series.Series.attachPosRanged(
      li.select(col("l_orderkey").as("k"), col("l_extendedprice").as("value")),
      Seq(), Seq(col("k")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    run("keyless pos numbering (ranged)")(series.count())
    run("keyless trailing window (scan)") {
      graft.window.Moving.windowAgg(series, Seq(), "value", 10)
        .write.format("noop").mode("overwrite").save()
    }
    run("keyless EMA (parallel prefix)") {
      graft.window.Moving.ema(series, Seq(), "value", 10)
        .write.format("noop").mode("overwrite").save()
    }
    lazy val l = series.filter(col("k") % 2 === 0).select(col("k").as("ts"), col("value"))
    lazy val r = series.filter(col("k") % 2 === 1)
      .groupBy((col("k") - 1).as("ts")).agg(max("value").as("value"))
    // every keyless as-of, whatever its value type, is one ranged carry
    // scan (AsofMerge.keylessAsof: a side-tagged union under an
    // OrderedScan with the row-carry kernel)
    run("keyless as-of (carry scan)") {
      graft.join.Align.asofJoin(l, r, Seq(), "ts", "value")
        .write.format("noop").mode("overwrite").save()
    }
    // the same shape with STRING, ARRAY and STRUCT values: the same scan
    // carrying wider values; compare with the numeric section above for
    // the cost of the value width
    run("keyless string as-of (carry scan)") {
      val rs = r.withColumn("value",
        format_number(col("value"), 2)).select(col("ts"), col("value"))
      graft.plans.AsofMerge.asofJoin(l.select(col("ts")), rs, Seq(), "ts", "value")
        .write.format("noop").mode("overwrite").save()
    }
    run("keyless array as-of (carry scan)") {
      val ra = r.select(col("ts"),
        array(col("value"), col("value") / 2).as("value"))
      graft.plans.AsofMerge.asofJoin(l.select(col("ts")), ra, Seq(), "ts", "value")
        .write.format("noop").mode("overwrite").save()
    }
    run("keyless struct as-of (carry scan)") {
      val rst = r.select(col("ts"),
        struct(col("value").as("v"),
          format_number(col("value"), 0).as("tag")).as("value"))
      graft.plans.AsofMerge.asofJoin(l.select(col("ts")), rst, Seq(), "ts", "value")
        .write.format("noop").mode("overwrite").save()
    }
    // round-5 alignment parity shapes at scale: nearest = two carry
    // scans; stretch0 = one full outer join — both partition-parallel
    run("keyless nearest as-of (two carry scans)") {
      graft.join.Align.asofJoinNearest(l, r, Seq(), "ts", "value")
        .write.format("noop").mode("overwrite").save()
    }
    run("stretch0 union merge (full outer)") {
      graft.join.Align.stretch0(l, r, Seq(), "ts", "value", lit(-1.0))
        .write.format("noop").mode("overwrite").save()
    }

    // keyed as-of at scale: the merge exec (graft.plans.AsofMergeJoin)
    // on ~#orderkey keys — one shuffle + sort per side, then the
    // per-partition two-cursor merge
    val kl = li.select(col("l_orderkey").as("key"),
      col("l_linenumber").cast("long").as("ts"), col("l_extendedprice").as("v"))
    val kr = kl.select(col("key"), (col("ts") - 1).as("ts"), col("v"))
    run("keyed as-of merge exec") {
      graft.plans.AsofMerge.asofJoin(kl, kr, Seq("key"), "ts", "v")
        .write.format("noop").mode("overwrite").save()
    }

    // bucketized interval join at scale: 12M points vs ~3M per-key
    // intervals — a shuffled hash join on (key, slot), never a nested loop
    val ivs = li.filter(col("l_linenumber") === 1)
      .select(col("l_orderkey").as("key"), lit(1L).as("start"),
        lit(5L).as("end"), col("l_extendedprice").as("tag"))
    run("bucketized interval join") {
      graft.join.Align.rangeJoin(kl.select(col("key"), col("ts")), ivs,
          Seq("key"), "ts", "start", "end", bucket = 4L, rightCols = Seq("tag"))
        .write.format("noop").mode("overwrite").save()
    }
    // window join at scale (round 6): per-row ±2 interval stats over the
    // same 12M×12M keyed frames — interval replication stays the
    // (span/bucket) constant, one shuffled equi-join + one hash agg
    run("window join (kdb wj)") {
      graft.join.Align.windowJoin(
          kl.groupBy(col("key"), col("ts")).agg(max(col("v")).as("v")), kl,
          Seq("key"), "ts", before = 2L, after = 2L, "v", bucket = 4L)
        .write.format("noop").mode("overwrite").save()
    }
    // passage dedup at scale (round 6): 12M rows → ~36M passages; the
    // boilerplate passage appears 12M times and must reduce map-side
    // (partial count on the passage hash), never pile on one task
    run("passage dedup (hot boilerplate)") {
      val docs = li.select(col("l_orderkey").as("doc_id"),
        concat_ws("\n", col("l_extendedprice").cast("string"),
          lit("COMMON FOOTER"), col("l_partkey").cast("string")).as("text"))
      graft.dedup.Dedup.passageDedup(docs, "doc_id", "text", maxDocs = 2)
        .write.format("noop").mode("overwrite").save()
    }
    // mixture downsampling at scale (round 6): two corpus passes, the
    // counting one reading ONE pruned column; gate is map-only
    run("mixture downsample") {
      val src = li.select(col("l_orderkey").as("doc_id"),
        (col("l_orderkey") % 3).cast("string").as("source"),
        col("l_extendedprice").cast("string").as("text"))
      graft.text.TextOps.mixtureSample(src, "source", "text",
        Map("0" -> 0.5, "1" -> 0.3, "2" -> 0.2))
        .write.format("noop").mode("overwrite").save()
    }
    // TABLE_get at scale (round 8): ingest ×factor events through
    // Tables.load (range shuffle + per-file sort → disjoint ts slices,
    // int64-ns encoding), then compare a full-scan aggregate against a
    // 1-day rangeScan — the COLD read path both times (no cache), since
    // pruning is a property of the scan, not of cached data. Expect the
    // slice time to track the slice, not the table.
    lazy val tableGetFrom: Long = {
      val evBig = graft.io.Tables.read(spark, "/root/testdata/sf0.1", "events")
        .withColumn("__rep", explode(sequence(lit(0), lit(factor - 1))))
        .withColumn("ts", col("ts") + col("__rep") * lit(1000L))
        .withColumn("event_id", col("event_id") * factor + col("__rep"))
        .drop("__rep")
      time(s"TABLE_load x$factor events (clustered ingest)") {
        graft.io.Tables.load(
          evBig.repartition(spark.sparkContext.defaultParallelism),
          s"$work/events.parquet", Seq(), "ts")
      }
      val r = spark.read.parquet(s"$work/events.parquet")
        .agg(min("ts"), max("ts")).head()
      val dayNs = 86400L * 1000000000L
      r.getLong(0) + ((r.getLong(1) - r.getLong(0)) / 2 / dayNs) * dayNs
    }
    run("table_get full scan (cold)") {
      tableGetFrom // ensure the loaded layout exists
      spark.read.parquet(s"$work/events.parquet")
        .agg(count(lit(1)), sum("value"))
        .write.format("noop").mode("overwrite").save()
    }
    run("table_get rangeScan 1 day (cold)") {
      val from = tableGetFrom
      graft.io.Tables.rangeScan(spark, work, "events",
          from, from + 86400L * 1000000000L)
        .agg(count(lit(1)), sum("value"))
        .write.format("noop").mode("overwrite").save()
    }
    // compact at scale (round 9): same ×factor events layout; append a
    // small batch above the tail, then A/B the maintenance cost.
    // compactIncremental's wall must track the APPEND (fold the batch +
    // rename the cold files); the full compact re-clusters the whole
    // table. The ratio is the 100 TB claim measured: steady-state
    // maintenance ∝ appended data, not table size.
    run("compact: incremental (small append) vs full") {
      val path = s"$work/events.parquet"
      tableGetFrom // ensure the loaded layout + manifest exist
      val mx = spark.read.parquet(path).agg(max("ts")).head().getLong(0)
      def appendBatch(offset: Long): Unit = {
        val batch = graft.io.Tables.read(spark, "/root/testdata/sf0.1", "events")
          .filter(col("event_id") % 20 === 0) // 5k rows regardless of ×factor
          .withColumn("ts", lit(mx + offset) + (col("event_id") % 1000000L))
        graft.io.Tables.append(batch, path, "ts", lit(0L))
      }
      // the staged append itself, timed (r12): the stage-then-move
      // protocol's metadata ops (marker write+delete, O(batch-files)
      // renames, manifest extension, tail check from the manifest alone)
      // must keep the wall ∝ the 5k-row batch at ANY ×factor — growth of
      // this line across the ×20/×100 logs would mean an O(table) step
      // leaked into the append path
      time("  staged append 5k rows (O(batch) claim)")(appendBatch(1L))
      val (ib, ia) = time("  compactIncremental (folds the batch)") {
        graft.io.Tables.compactIncremental(spark, path, Seq(), "ts")
      }
      println(s"  incremental files: $ib -> $ia")
      appendBatch(2000000L)
      val (fb, fa) = time("  full compact (re-clusters everything)") {
        graft.io.Tables.compact(spark, path, Seq(), "ts")
      }
      println(s"  full files: $fb -> $fa")
    }
    // bucketed lifecycle at scale (round 10): the zero-shuffle as-of
    // layout must survive growth. Append rows for a FEW keys (≤5 of the
    // 64 buckets go hot), then A/B the per-bucket fold against the full
    // re-bucket a user without the lifecycle would pay. Fold wall must
    // track the HOT buckets' data; the re-bucket re-shuffles the table.
    run("bucketed fold (hot buckets) vs full re-bucket") {
      tableGetFrom // ensure the ×factor events layout exists
      val evB = graft.io.Tables.read(spark, work, "events")
      time(s"  loadBucketed x$factor events (pay-once ingest)") {
        graft.io.Tables.loadBucketed(evB, "smoke_bkt", Seq("user_id"), 64,
          sortCols = Seq("ts"))
      }
      val someKeys = evB.select("user_id").distinct().limit(5)
        .collect().map(_.getLong(0))
      // the batch rides ABOVE the stored tail (ts-shifted past max) — the
      // ordered-ingest contract appendBucketed enforces since r11
      val span = {
        val mm = evB.agg(min(col("ts")), max(col("ts"))).head()
        mm.getLong(1) - mm.getLong(0) + 1L
      }
      val batch = evB.filter(col("user_id").isin(someKeys: _*))
        .withColumn("ts", col("ts") + lit(span))
      println(s"  append batch: ${batch.count()} rows over ${someKeys.length} keys")
      time("  appendBucketed (few keys)") {
        graft.io.Tables.appendBucketed(batch, "smoke_bkt")
      }
      val (b1, a1) = time("  compactBucketed (per-bucket fold)") {
        graft.io.Tables.compactBucketed(spark, "smoke_bkt")
      }
      println(s"  fold files: $b1 -> $a1")
      time("  full re-bucket (what no-lifecycle costs)") {
        graft.io.Tables.loadBucketed(spark.table("smoke_bkt"), "smoke_bkt2",
          Seq("user_id"), 64, sortCols = Seq("ts"))
      }
    }
    // deleteRange at scale (round 13): the retention delete's wall must
    // track the AFFECTED RANGE, not the table — the manifest split carries
    // every ts-disjoint file untouched and rewrites only the appended
    // span's files. Growth of this line across the ×20/×100 logs would
    // mean the O(range) claim broke (the pre-r13 behavior rewrote the
    // whole ×factor table here). The full-compact line above is the
    // O(table) comparator at the same factor.
    run("deleteRange: retention delete of one appended span (O(range) claim)") {
      val path = s"$work/events.parquet"
      tableGetFrom // ensure the ×factor events layout + manifest exist
      val mx = spark.read.parquet(path).agg(max("ts")).head().getLong(0)
      val batch = graft.io.Tables.read(spark, "/root/testdata/sf0.1", "events")
        .filter(col("event_id") % 20 === 0) // 5k rows regardless of ×factor
        .withColumn("ts", lit(mx + 1L) + (col("event_id") % 1000000L))
      graft.io.Tables.append(batch, path, "ts", lit(0L))
      val pre = graft.io.Tables.manifest(spark, path).get.files.map(_.name).toSet
      time("  deleteRange of exactly the appended span") {
        graft.io.Tables.deleteRange(spark, path, "ts",
          lit(mx + 1L), lit(Long.MaxValue))
      }
      val post = graft.io.Tables.manifest(spark, path).get
      val carriedN = post.files.count(e => pre(e.name))
      println(s"  carried $carriedN of ${pre.size} files untouched; " +
        s"rewrote ${pre.size - carriedN} (the appended span's)")
    }
    // stream-ingest overhead (round 13, VERDICT r12 #6): the same rows
    // landed as K micro-batches through the exactly-once commit-log path
    // vs ONE plain append — the delta / K is the per-batch metadata cost
    // (the commit-log read and the commit record written in the install).
    run("stream ingest: 4 micro-batches vs one batch append") {
      val pA = s"$work/stream_ab_batch.parquet"
      val pB = s"$work/stream_ab_stream.parquet"
      val ev01 = graft.io.Tables.read(spark, "/root/testdata/sf0.1", "events")
      val mm2 = ev01.agg(min(col("ts")), max(col("ts"))).head()
      val (t0v, t1v) = (mm2.getLong(0), mm2.getLong(1))
      val cut = t1v - (t1v - t0v) / 20
      val batch = ev01.filter(col("ts") >= cut)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"  batch rows: ${batch.count()}")
      for (p <- Seq(pA, pB)) {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
        graft.io.Tables.load(ev01.filter(col("ts") < cut), p, Seq(), "ts")
      }
      val tOne = time("  one plain append") {
        val t0 = System.nanoTime()
        graft.io.Tables.append(batch, pA, "ts", lit(Long.MinValue))
        (System.nanoTime() - t0) / 1e9
      }
      val k = 4
      val span = t1v - cut + 1
      val step = (span + k - 1) / k
      val tK = time(s"  $k stream micro-batches (commit-log path)") {
        val t0 = System.nanoTime()
        for (j <- 0 until k) {
          val lo = cut + j * step
          graft.io.Tables.appendStreamBatch(
            batch.filter(col("ts") >= lo && col("ts") < (lo + step)),
            pB, "ts", "smoke-stream", j.toLong)
        }
        (System.nanoTime() - t0) / 1e9
      }
      println(f"  per-micro-batch overhead vs one append: " +
        f"${(tK - tOne) / k}%.3f s (metadata ops + smaller write jobs)")
      batch.unpersist()
    }
    // dedup-ingest corpus probe at scale (round 14, VERDICT r13 #1): the
    // per-batch stored-corpus check must NOT grow with the retained
    // corpus. A/B on bucket tables built at x1 and x`factor` row counts
    // (the probe never reads document text, so the tables are built
    // directly from band buckets — the steady-state layout a folded
    // ingest maintains), each with its bloom sidecar: the rewritten
    // probe (driver-side bloom check → exact verify of positives only,
    // broadcast flip, column pruning) should stay ~FLAT across the
    // growth — a no-collision batch reads nothing at any corpus size —
    // while the r13 shape (full-scan left_semi with the corpus on the
    // right — scan + shuffle of every stored row per batch) grows with
    // the table. Hits are printed so both shapes provably do the work.
    run("dedup-ingest probe: sublinear vs retained corpus") {
      val docsSrc = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val corpus = docsSrc.limit(20000).select(col("doc_id").as("id"), col("text"))
      val bb1 = graft.dedup.Dedup.bandBuckets(corpus, "id", "text", 5, 8, 2)
        .withColumn("ts", col("id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"  x1 bucket rows: ${bb1.count()}")
      val p1 = s"$work/probe_bkt_x1.parquet"
      val pN = s"$work/probe_bkt_x$factor.parquet"
      for (p <- Seq(p1, pN)) {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
      }
      graft.io.Tables.load(bb1, p1, Seq("band", "bucket"), "ts")
      // xfactor: replicate rows with re-hashed buckets (uniform 64-bit
      // either way — the probe's cost model only sees row count and
      // bucket distribution, never text)
      val bbN = bb1
        .withColumn("__rep", explode(sequence(lit(0), lit(factor - 1))))
        .withColumn("bucket", when(col("__rep") === 0, col("bucket"))
          .otherwise(xxhash64(col("bucket"), col("__rep"))))
        .withColumn("id", col("id") * factor + col("__rep"))
        .withColumn("ts", col("id"))
        .drop("__rep")
      val x1Rows = bb1.count()
      time(s"  build x$factor bucket table (${x1Rows * factor} rows)") {
        graft.io.Tables.load(bbN, pN, Seq("band", "bucket"), "ts")
      }
      // sidecars sized to each table (what a folded ingest maintains
      // incrementally; built here in one shot via the rebuild utility)
      time("  bloom sidecar rebuild x1")(
        graft.streaming.DedupBloom.rebuild(spark, p1))
      time(s"  bloom sidecar rebuild x$factor")(
        graft.streaming.DedupBloom.rebuild(spark, pN))
      // the probe batch: 1000 unseen docs (reversed text = different
      // char shingles), hashed ONCE — the per-batch cost under test is
      // the stored-corpus check, not the banding
      val fresh = docsSrc.limit(1000)
        .select((col("doc_id") + 10000000L).as("id"), reverse(col("text")).as("text"))
      val bbF = graft.dedup.Dedup.bandBuckets(fresh, "id", "text", 5, 8, 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bbF.count()
      def newProbe(p: String): Long =
        graft.streaming.Streams.probeStoredBuckets(spark, p, bbF,
          Seq("band", "bucket")).count()
      def oldProbe(p: String): Long = {
        val stored = graft.io.Tables.snapshot(spark, p)
        bbF.join(stored.select(col("band"), col("bucket")),
          Seq("band", "bucket"), "left_semi").select(col("id")).distinct().count()
      }
      newProbe(p1) // codegen warm-up
      time("  probe (rewritten) vs x1")(println(s"    hits=${newProbe(p1)}"))
      time(s"  probe (rewritten) vs x$factor")(println(s"    hits=${newProbe(pN)}"))
      oldProbe(p1)
      time("  probe (r13 full-scan shape) vs x1")(println(s"    ids=${oldProbe(p1)}"))
      time(s"  probe (r13 full-scan shape) vs x$factor")(println(s"    ids=${oldProbe(pN)}"))
      bbF.unpersist(); bb1.unpersist()
    }
    // probe POSITIVE path at scale (round 15, VERDICT r14 item 2): the
    // x100 A/B above measures the bloom-CLEARED path (unseen docs, zero
    // scan). This one measures an ALL-COLLIDING batch — a re-crawl of
    // window-0 docs, every bucket value a true positive — where the
    // verify scan used to read the whole (band, bucket) projection. The
    // corpus is `factor` ts-disjoint windows, each one bucket-clustered
    // file (the steady-state layout a folded ingest maintains); per-file
    // bloom sidecars let the probe read ~window-0's file regardless of
    // how many windows follow, vs the unpruned shape reading all of them.
    run("dedup-ingest probe: all-colliding (re-crawl) batch, file-pruned") {
      val docsSrc = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val corpus = docsSrc.limit(5000).select(col("doc_id").as("id"), col("text"))
      val bbW = graft.dedup.Dedup.bandBuckets(corpus, "id", "text", 5, 8, 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"  window bucket rows: ${bbW.count()}")
      val p1 = s"$work/probe_fb_x1.parquet"
      val pN = s"$work/probe_fb_x$factor.parquet"
      for (p <- Seq(p1, pN); sfx <- Seq("", ".bloom", ".fblooms")) {
        val hp = new org.apache.hadoop.fs.Path(p + sfx)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
      }
      // window stride from the ACTUAL max id, not a fixed 10^7: raw
      // doc_ids at or above a fixed stride would interleave the windows'
      // ts ranges and the ordered-append contract would reject the build
      // — a data-shape failure masquerading as a regression (ADVICE r15)
      val idStride = bbW.agg(max("id")).head().getLong(0) + 1L
      def window(w: Int) = {
        val win = if (w == 0) bbW else bbW
          .withColumn("bucket", xxhash64(col("bucket"), lit(w)))
          .withColumn("id", col("id") + w.toLong * idStride)
        win.withColumn("ts", col("id"))
          .repartition(1).sortWithinPartitions("band", "bucket")
      }
      graft.io.Tables.append(window(0), p1, "ts", lit(0L))
      time(s"  build x$factor windowed corpus + sidecars") {
        // at factor 1 the two paths coincide — window 0 is already in
        for (w <- (if (factor == 1) 1 else 0) until factor)
          graft.io.Tables.append(window(w), pN, "ts", lit(0L))
        for (p <- Seq(p1, pN).distinct) {
          graft.streaming.DedupBloom.rebuild(spark, p)
          graft.streaming.FileBlooms.sync(spark, p)
        }
      }
      // the re-crawl batch: 1000 window-0 docs under new ids — every
      // bucket value collides with the stored window-0 rows
      val re = corpus.limit(1000)
        .select((col("id") + 900000000L).as("id"), col("text"))
      val bbF = graft.dedup.Dedup.bandBuckets(re, "id", "text", 5, 8, 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bbF.count()
      def probe(p: String): (Long, Int) = {
        val pr = graft.streaming.Streams.probeStoredBuckets(spark, p, bbF,
          Seq("band", "bucket"))
        (pr.count(), pr.inputFiles.length)
      }
      // warm-up per path: codegen + the one-time sidecar loads (global
      // bloom + per-file blooms populate the driver caches on first
      // touch; the per-BATCH steady state the cost model cares about
      // runs against warm caches, sidecars re-read only on version moves)
      probe(p1); probe(pN)
      def show(tag: String, r: (Long, Int)): Unit =
        println(s"    $tag hits=${r._1} filesRead=${r._2}")
      time("  re-crawl probe (file-pruned) vs x1")(show("x1", probe(p1)))
      time(s"  re-crawl probe (file-pruned) vs x$factor")(
        show(s"x$factor", probe(pN)))
      sys.props("graft.dedup.fbloom.enabled") = "false"
      try {
        probe(p1); probe(pN)
        time("  re-crawl probe (unpruned shape) vs x1")(show("x1", probe(p1)))
        time(s"  re-crawl probe (unpruned shape) vs x$factor")(
          show(s"x$factor", probe(pN)))
      } finally sys.props.remove("graft.dedup.fbloom.enabled")
      bbF.unpersist(); bbW.unpersist()
    }

    // positive-path prune at FILE-COUNT scale (round 16, VERDICT r15 #1):
    // the re-crawl A/B above scales corpus ROWS; this one scales FILE
    // COUNT at a FIXED corpus size — the dimension the old bloom-loop
    // budget silently degraded on (positives × files past 64M reverted
    // the probe to the full live-set scan). With the footer range index
    // deciding first, an all-colliding batch reads ~the one overlapping
    // file and the prune DECISION stays ~flat from 1 to 100 files —
    // including with the bloom second level forced OVER BUDGET (range
    // arithmetic only), the regime a multi-TB table at ~1 GB files
    // actually runs in.
    run("dedup-ingest probe: fixed corpus, x1/x10/x100 file counts") {
      val totalRows = 400000L
      def build(files: Int): String = {
        val p = s"$work/probe_fc_$files.parquet"
        for (sfx <- Seq("", ".bloom", ".fblooms")) {
          val hp = new org.apache.hadoop.fs.Path(p + sfx)
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
        }
        val per = totalRows / files
        for (w <- 0 until files) {
          val df = spark.range(per).select(
            (lit(w * per) + col("id")).as("id"),
            (col("id") % 8).cast("int").as("band"),
            (lit(w * 10000000L) + col("id")).as("bucket"),
            (lit(w * per) + col("id")).as("ts"))
            .repartition(1).sortWithinPartitions("band", "bucket")
          graft.io.Tables.append(df, p, "ts", lit(0L))
        }
        graft.streaming.DedupBloom.rebuild(spark, p)
        graft.streaming.FileBlooms.sync(spark, p)
        p
      }
      // the batch: 1000 (band, bucket) pairs all inside window 0 —
      // every value a true positive, the re-crawl shape
      val bbF = spark.range(1000).select(
        (col("id") % 8).cast("int").as("band"), col("id").as("bucket"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bbF.count()
      def probe(p: String): (Long, Int) = {
        val pr = graft.streaming.Streams.probeStoredBuckets(spark, p, bbF,
          Seq("band", "bucket"))
        (pr.count(), pr.inputFiles.length)
      }
      def show(tag: String, r: (Long, Int)): Unit =
        println(s"    $tag hits=${r._1} filesRead=${r._2}")
      for (files <- Seq(1, 10, 100)) {
        val p = time(s"  build ${files}-file corpus ($totalRows rows)")(build(files))
        probe(p) // warm caches per layout (sidecar loads are one-time)
        time(s"  probe (range+bloom) vs $files files")(show(s"f$files", probe(p)))
        sys.props("graft.dedup.fbloom.probe.budget") = "1"
        try time(s"  probe (range only, bloom over budget) vs $files files")(
          show(s"f$files", probe(p)))
        finally sys.props.remove("graft.dedup.fbloom.probe.budget")
        sys.props("graft.dedup.fbloom.enabled") = "false"
        try { probe(p); time(s"  probe (unpruned shape) vs $files files")(
          show(s"f$files", probe(p))) }
        finally sys.props.remove("graft.dedup.fbloom.enabled")
      }
      bbF.unpersist()
    }

    // bucketed ts-slice at scale (round 11): the manifest's file pruning
    // must pay at growth — a recent-data slice reads only the appended
    // batch's files while the unpruned filter scans every bucket file of
    // the ×factor table. The gap widens linearly with table size; the
    // slice side stays ∝ the batch.
    run("bucketed ts-slice: manifest pruning vs full filter") {
      tableGetFrom // ensure the ×factor events layout exists
      val evB = graft.io.Tables.read(spark, work, "events")
      // plain loadBucketed, NOT IfAbsent: the spec-match reuse check is
      // factor-blind, so a persistent-warehouse re-run at ×100 would
      // silently measure the stale ×20 table (and same-factor re-runs
      // would accumulate one appended batch per run, drifting the
      // baseline). Fresh ingest per run keeps the section honest.
      graft.io.Tables.loadBucketed(evB, "smoke_bkt_slice",
        Seq("user_id"), 64, sortCols = Seq("ts"))
      val mx = spark.table("smoke_bkt_slice").agg(max("ts")).head().getLong(0)
      val batch = graft.io.Tables.read(spark, "/root/testdata/sf0.1", "events")
        .filter(col("event_id") % 20 === 0) // 5k rows regardless of ×factor
        .withColumn("ts", lit(mx + 1L) + (col("event_id") % 1000000L))
      graft.io.Tables.appendBucketed(batch, "smoke_bkt_slice")
      val sliced = graft.io.Tables.rangeScanBucketed(
        spark, "smoke_bkt_slice", mx + 1L, Long.MaxValue)
      println(s"  slice reads ${sliced.inputFiles.length} files " +
        "(the appended batch's buckets only)")
      time("  rangeScanBucketed (manifest-pruned)") {
        sliced.agg(count(lit(1)), sum("value"))
          .write.format("noop").mode("overwrite").save()
      }
      time("  full-table filter (no file pruning)") {
        spark.table("smoke_bkt_slice").filter(col("ts") > lit(mx))
          .agg(count(lit(1)), sum("value"))
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
