package graft.io

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructType, TimestampNTZType, TimestampType}

/** One data file's recorded ts range in the table manifest: epoch-ns
  * bounds (None when the file had no usable stats — such a file is KEPT
  * by every pruning decision), whether the file belongs to the
  * established load layout (`loaded=true`) or was appended since
  * (`loaded=false` — the set [[Tables.compactIncremental]] folds), and
  * its footer ROW COUNT (recorded from the same footer open that reads
  * the ts stats, so metadata row counts — [[Tables.metadataRowCount]] —
  * are one manifest read with zero per-file RPCs; None on pre-r16
  * manifests and stat-less files, served by a footer fallback).
  */
case class TsFileEntry(name: String, bytes: Long, minNs: Option[Long],
                       maxNs: Option[Long], loaded: Boolean,
                       rows: Option[Long] = None)

/** A replaced data file grace-retained in place for in-flight readers:
  * the file stays at its original path (excluded from the live set) until
  * `retiredMs + grace` passes, then the next lease-holding op reclaims it.
  */
case class RetiredEntry(name: String, retiredMs: Long)

/** The table's ts min/max manifest — a `_graft_manifest.json` sidecar
  * inside the table directory (underscore-prefixed: Spark's parquet
  * reader ignores it as data). Written at load/compact/delete, extended
  * at append; lets readers prune files WITHOUT per-file footer RPCs and
  * lets incremental compact know which files the load layout owns. A
  * manifest is advisory: every consumer first checks it against the live
  * listing (names + sizes) and falls back to footer reads — or a full
  * rewrite — when they disagree (e.g. a foreign writer touched the dir).
  *
  * `files` is the LIVE generation; `retired` lists replaced files still
  * present on disk for in-flight readers (the reader half of the
  * reference's MURSIW contract, imcs.c:879-905) — engine reads serve
  * `files` only, and a retired entry whose file is already gone (reclaim
  * crashed mid-delete) is tolerated, never required.
  */
case class TsManifest(version: Int, ts: String, files: Seq[TsFileEntry],
                      retired: Seq[RetiredEntry] = Seq.empty)

/** The generation-install commit marker (`<path>.gen.commit` sibling),
  * the one install of a clustered table ([[Tables.installGeneration]]):
  * written AFTER the new files are fully staged, deleted after the
  * install completes — its presence means roll FORWARD (finish moving
  * `newFiles` in, install the manifest retiring `replaced`, record the
  * stream commit). `loaded` is the new entries' flag (a rewrite's files
  * and a fresh table's first batch are the load layout; an append's are
  * not), `manifest` is false for an append into an ungoverned dir (which
  * stays manifest-less), and `stream` is the micro-batch the install
  * commits, if any. A marker written before these fields existed parses
  * as a rewrite: loaded, manifest-governed, no stream.
  */
case class GenMarker(ts: String, newFiles: Seq[String], replaced: Seq[String],
                     loaded: Boolean = true, manifest: Boolean = true,
                     stream: Option[StreamCommit] = None)

/** One stream's micro-batch commit: `batchId` becomes `streamId`'s
  * high-water mark in the stream-commit log ([[StreamCommits]]).
  */
case class StreamCommit(streamId: String, batchId: Long)

/** TRANSIENT writer-lease contention — another live writer holds (or just
  * took) the lease. Every contention outcome of [[Tables.withWriterLease]]
  * throws THIS type, so retry loops key on the type rather than matching
  * message substrings (review r15: the message-matching retry missed the
  * break-race variants, and a streaming query died over a transient
  * conflict its retry budget was meant to absorb). Still an
  * IllegalStateException, so existing fail-loud call sites and specs see
  * the same contract.
  */
class LeaseContentionException(msg: String) extends IllegalStateException(msg)

/** A BUCKETED streaming micro-batch append in flight: written to the
  * stream-commit sidecar BEFORE the batch's data, cleared after the
  * commit record — its survival means the attempt crashed, and recovery
  * rolls the partial batch BACK (deletes every data file not in
  * `preFiles`, the pre-batch listing) so the replay re-appends exactly
  * once. A clustered batch writes no pending record: it commits through
  * its generation marker ([[GenMarker]] `stream`) and rolls forward.
  * `markerBased` is read only to recognize a previous release's
  * clustered record, whose rollback identity was an append marker this
  * release no longer writes or reads — such a record is refused, never
  * taken as a listing (json4s leaves an absent field's Option at None).
  */
case class PendingBatch(streamId: String, batchId: Long,
                        preFiles: Seq[String],
                        markerBased: Option[Boolean] = None)

/** The stream-ingest commit log (`_graft_stream_commits.json` sidecar in
  * the table dir): highest committed micro-batch id per stream (keyed by
  * checkpoint location), plus at most one in-flight bucketed
  * [[PendingBatch]]. A clustered batch's commit lands inside its
  * generation install, after the manifest; a crash past the marker rolls
  * both forward, so the replay is skipped.
  */
case class StreamCommits(committed: Map[String, Long],
                         pending: Option[PendingBatch] = None)

/** A superseded bucketed-table generation directory grace-retained for
  * in-flight readers after [[Tables.compactBucketedIsolated]]'s location
  * flip; reclaimed past the grace by the next bucketed lifecycle op.
  */
case class RetiredDir(path: String, retiredMs: Long)

/** One managed table's operational snapshot — the engine's analog of the
  * reference's cs_used_memory / cs_profile introspection
  * (imcs.c:5716-5767): what the store holds (live vs grace-retained
  * bytes, fold backlog), what is flowing in (stream high-water marks),
  * and who is working on it (lease, reader pins). Snake_case fields on
  * purpose: they are the column names of [[Tables.stats]]' one-row frame
  * and of the `cs_table_stats` SQL surface. All values are metadata-only
  * reads (listing + sidecars) — no data bytes are touched.
  */
case class TableStats(
    path: String, governed: Boolean, ts: String,
    live_files: Int, live_bytes: Long, unloaded_files: Int,
    retired_files: Int, retired_bytes: Long,
    stream_count: Int, stream_high_water: Long, stream_pending: Boolean,
    lease_op: String, lease_age_ms: Long, reader_pins: Int)

/** Table lifecycle over Parquet — the Spark equivalents of the reference's
  * load / append / delete / truncate generated functions
  * (imcs--1.1.sql:33-430, imcs.c:4177-4412; SURVEY.md §2.1).
  *
  * The reference bulk-loads a PG table into per-column B-trees ordered by
  * the timestamp column. Here a "registered" table is a Parquet directory
  * written sorted within files by (key, ts) so that min/max page stats make
  * timestamp-range scans prunable — the columnar layout itself is Parquet's.
  * At cluster scale the same layout partitioned by a date bucket gives
  * partition pruning on top of row-group pruning.
  */
object Tables {

  /** events.parquet's ts column has shipped as both TIMESTAMP(NANOS)
    * (readable only with `spark.sql.legacy.parquet.nanosAsLong=true`, set
    * once at session build by [[graft.Session]], NOT here: a read helper
    * mutating session config is racy with concurrent sessions) and TIMESTAMP(MICROS). `read` normalizes either to int64
    * epoch-nanos (see normalizeNsTs); ordering and equality over the long
    * are isomorphic to the timestamp, and the DuckDB oracle maps via
    * epoch_ns(ts) when the column must be compared.
    *
    * Memoized per (session, dir, table): re-building the read per query
    * repeats file listing + footer schema inference (~tens of ms) BEFORE
    * CacheManager can even match the plan — pure fixed overhead on every
    * query. The strong session key pins the session (same reasoning as
    * SparkEntry's series cache).
    *
    * Undersized sources are re-split at first read: the testdata tables
    * are single parquet files with ONE row group, which Spark cannot split
    * (a row group is the atomic read unit), so every downstream scan —
    * including the in-memory cache built from it — would be one task. At
    * cluster scale the file/row-group layout provides this parallelism
    * already (the branch is a no-op there); the round-robin shuffle here
    * is the load-time cost of giving the columnar cache partition-level
    * parallelism, paid once and amortized over every query.
    */
  private val readCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]
  /** Tables whose downstream operators are CPU-per-row heavy (shingling,
    * regex scans, embedding dot products): even when tiny by bytes they
    * carry real per-row compute, so they get a few-way split floor where
    * the bytes rule would serialize them. Measured at sf0.1: a finer
    * split (8-32) costs more in per-task overhead than the extra
    * parallelism returns; at real scale the bytes rule dominates anyway.
    */
  private val cpuHeavy = Set("documents", "embeddings")
  /** Bytes of cached columnar data per partition for scan-bound tables:
    * small enough for parallelism on mid-size tables, large enough that
    * per-task overhead (~ms each, measured) doesn't dominate sub-second
    * scans. Partition count therefore grows LINEARLY with data volume up
    * to the core count — the property that makes the same code correct at
    * 100 TB, where the file layout already splits past `dp` and this whole
    * branch is a no-op.
    */
  private val bytesPerPart = 5L << 19 // 2.5 MB
  /** Below 8 partitions a finer 256 KB rule applies: a mid-size table
    * (events at sf0.1 is 2.2 MB ≈ 500k rows) would otherwise cache as ONE
    * partition and serialize every scan over it. A/B bench totals at
    * sf0.1 are parity within noise (3.15 vs 3.22 s), so this is a
    * structural call, not a measured local win: a serial scan is the
    * wrong default shape, and any larger slice makes the extra partitions
    * pay. Above 8 partitions the 2.5 MB rule resumes (per-task overhead,
    * not parallelism, is the binding constraint there — round-4
    * measurement).
    */
  private val fineBytesPerPart = 1L << 18 // 256 KB
  private val fineCap = 8L

  /** Collision-safe suffix for keying pay-once artifacts (bucketed
    * catalog tables, dumped series) to their source directory: hex MD5 of
    * the path. A 32-bit String.hashCode (the previous scheme) admits
    * collisions between two source dirs, under which a stale warehouse
    * entry keyed to one dir could silently serve the other's rows.
    */
  def dirKey(path: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Partition count proportional to on-disk bytes, clamped to [1, cores].
    * On a manifest-governed table this is the LIVE generation's bytes —
    * a mid-grace directory also holds the retained (excluded) generation,
    * which would inflate the target ~2x right after every compact.
    */
  def sizedParts(spark: SparkSession, path: String): Int = {
    val bytes = governedLive(spark, path).map(_.files.map(_.bytes).sum).getOrElse {
      val hp = new Path(path)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(hp).getLength
    }
    val dp = spark.sparkContext.defaultParallelism
    val coarse = (bytes + bytesPerPart - 1) / bytesPerPart
    val fine = math.min(fineCap, (bytes + fineBytesPerPart - 1) / fineBytesPerPart)
    math.max(1L, math.min(dp.toLong, math.max(coarse, fine))).toInt
  }

  /** Raw (pre-normalization) read — the `ts` column keeps whatever type
    * the parquet carries. Range scans that need parquet filter pushdown
    * on `ts` start here (see `rangeScan`), because a pushed-down parquet
    * predicate must compare a plain attribute against a same-typed
    * literal — a filter over the normalized `unix_micros(ts)*1000`
    * projection never reaches the scan.
    */
  def readRaw(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readCache.getOrElseUpdate((spark, sfDir, name + "#raw"), {
      val path = s"$sfDir/$name.parquet"
      // snapshot, not a plain directory read: a manifest-governed table
      // mid-grace holds retired (replaced) files a plain read would
      // double-count; ungoverned paths (the testdata tables) read plainly
      val raw = snapshot(spark, path)
      val sized = sizedParts(spark, path)
      val target =
        if (cpuHeavy(name)) math.max(sized, math.min(4, spark.sparkContext.defaultParallelism))
        else sized
      // the one read that plans at construction (an `rdd` execution, no
      // job), once per memoized frame; never coalesce DOWN — a source that
      // already splits finer keeps its natural parallelism
      if (raw.rdd.getNumPartitions < target) raw.repartition(target) else raw
    })


  /** The engine's internal timestamp convention is int64 epoch-nanos (the
    * reference's `timestamp` arithmetic is integral too — imcs.h:104-120).
    * Earlier testdata shipped events.ts as parquet TIMESTAMP(NANOS), which
    * `nanosAsLong` already surfaced as int64; current testdata ships
    * TIMESTAMP(MICROS), which Spark reads as a timestamp type — normalize
    * it to epoch-ns at the read boundary so every downstream operator
    * (window frames, as-of tolerances, grid buckets — all ns-denominated)
    * is unchanged. The DuckDB oracle maps via epoch_ns(ts), which yields
    * the same µs-precision ns values. The NTZ→LTZ cast is value-preserving
    * because every harness pins spark.sql.session.timeZone=UTC.
    */
  private def normalizeNsTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case _ => df
    }

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readCache.getOrElseUpdate((spark, sfDir, name),
      normalizeNsTs(readRaw(spark, sfDir, name)))

  /** Drop memoized reads of `path` and refresh Spark's own cached file
    * indexes/plans for it. Every MUTATING lifecycle op calls this: the
    * memoized DataFrames pin an InMemoryFileIndex snapshot, so without
    * invalidation a read after append misses the new files and a read
    * after compact/delete crashes on renamed-away ones (a full-battery
    * ScaleSmoke run hits exactly that ordering).
    */
  private def invalidateRead(spark: SparkSession, path: String): Unit = {
    // compare QUALIFIED paths, not raw strings: the same directory
    // addressed as "file:/x/t" by the mutator and "/x/t" by the reader
    // (or with a trailing slash) must still evict — a missed eviction
    // leaves a memoized frame pinning a dead InMemoryFileIndex, exactly
    // the stale-read crash this eviction exists to prevent
    def qual(p: String): String =
      scala.util.Try {
        val hp = new Path(p)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .makeQualified(hp).toString
      }.getOrElse(p)
    val target = qual(path)
    readCache.keys.foreach { case k @ (_, dir, nameKey) =>
      val name = nameKey.stripSuffix("#raw")
      if (qual(s"$dir/$name.parquet") == target) readCache.remove(k)
    }
    scala.util.Try(spark.catalog.refreshByPath(path))
    refreshRegisteredView(spark, path, target)
  }

  // ---- registered views over the live generation ------------------------

  /** Session-scoped registrations, weakly keyed by the SESSION so a
    * stopped/dropped SparkSession never pins its registrations (ADVICE
    * r14: the old (SparkSession, path) tuple keys retained sessions
    * forever). Inner map: qualified path → view name.
    */
  private val viewRegistry =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, String]]()

  /** Application-scoped registrations (global temp views): qualified path
    * → view name, refreshed on a mutation from ANY session.
    */
  private val globalViewRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Register `name` as a temp view that ALWAYS serves `path`'s LIVE
    * generation: every mutating lifecycle op re-resolves the view from
    * the post-install manifest, so a catalog read mid-grace never sees
    * retired files — the safe read path becomes the obvious one (the
    * bucketed layout gets this for free from its catalog location flip;
    * this closes the same hole for the clustered layout, where a plain
    * `spark.read.parquet(dir)` during the grace window would
    * double-count). A truncate drops the view. Re-registering the same
    * path under a new name drops the old view first — a renamed
    * registration must not leave a never-refreshed alias serving stale
    * generations (ADVICE r14).
    *
    * `global = false`: a SESSION temp view (`spark.table(name)`),
    * refreshed when THIS session mutates the table.
    *
    * `global = true`: a GLOBAL temp view
    * (`anySession.table("global_temp.<name>")`) — the CROSS-SESSION safe
    * read for the clustered layout. Global temp views live in the
    * application-shared global_temp database, so every session of this
    * SparkContext (`newSession()`, concurrent jobs, foreachBatch clones)
    * reads the same definition, and a lifecycle op from ANY session
    * re-points it — the clustered-layout analog of the bucketed layout's
    * catalog-location flip, matching the reference's shared-memory MURSIW
    * visibility (imcs.c:879-905) within one engine instance. Across
    * APPLICATIONS (separate driver JVMs) a flat shared-file directory
    * cannot express "live files only" as a location-backed catalog table
    * — that needs a metastore-backed file manifest (the Delta/Iceberg
    * design point); the documented rule stands: foreign applications read
    * through the engine (Tables.snapshot) or the bucketed layout.
    */
  def registerView(spark: SparkSession, path: String, name: String,
                   global: Boolean = false): Unit = {
    val hp = new Path(path)
    val q = scala.util.Try(
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(hp).toString).getOrElse(path)
    if (global) {
      Option(globalViewRegistry.put(q, name)).filter(_ != name)
        .foreach(old => scala.util.Try(spark.catalog.dropGlobalTempView(old)))
      snapshot(spark, path).createOrReplaceGlobalTempView(name)
    } else {
      val m = viewRegistry.synchronized {
        var inner = viewRegistry.get(spark)
        if (inner == null) {
          inner = new java.util.concurrent.ConcurrentHashMap[String, String]()
          viewRegistry.put(spark, inner)
        }
        inner
      }
      Option(m.put(q, name)).filter(_ != name)
        .foreach(old => scala.util.Try(spark.catalog.dropTempView(old)))
      snapshot(spark, path).createOrReplaceTempView(name)
    }
  }

  private def refreshRegisteredView(spark: SparkSession, path: String,
                                    qualified: String): Unit = {
    def rebuild(name: String, replace: org.apache.spark.sql.DataFrame => Unit,
                drop: () => Unit, deregister: () => Unit): Unit =
      scala.util.Try(snapshot(spark, path)) match {
        case scala.util.Success(df) => replace(df)
        case scala.util.Failure(_) =>
          // truncated/emptied: the view dies AND the registration dies
          // with it — a stale registry entry would resurrect the name on
          // the next lifecycle op and could clobber a user's own later
          // temp view of the same name (r13 review finding #3)
          deregister()
          scala.util.Try(drop())
      }
    val sessionName = viewRegistry.synchronized {
      Option(viewRegistry.get(spark)).flatMap(m => Option(m.get(qualified)))
    }
    sessionName.foreach { name =>
      rebuild(name, _.createOrReplaceTempView(name),
        () => spark.catalog.dropTempView(name),
        () => viewRegistry.synchronized {
          Option(viewRegistry.get(spark)).foreach(_.remove(qualified))
        })
    }
    Option(globalViewRegistry.get(qualified)).foreach { name =>
      rebuild(name, _.createOrReplaceGlobalTempView(name),
        () => spark.catalog.dropGlobalTempView(name),
        () => globalViewRegistry.remove(qualified))
    }
  }

  /** Epoch-ns bound as a literal of the RAW ts column's type, so the
    * comparison needs no cast around the attribute and translates to a
    * parquet pushdown predicate (row-group min/max pruning).
    *
    * Timestamp columns are µs-grain, so a ns bound quantizes — with a
    * CEILING, for both ends of rangeScan's [fromNs, tillNs): a µs value u
    * satisfies u*1000 >= fromNs iff u >= ceil(fromNs/1000), and
    * u*1000 < tillNs iff u < ceil(tillNs/1000). Flooring (the naive
    * Instant truncation) would both admit sub-bound rows and drop
    * in-range rows for non-µs-aligned ns bounds, making results depend
    * on the file's ts encoding.
    */
  private def tsLit(ns: Long, dt: DataType): Column =
    dt match {
      case TimestampNTZType | TimestampType =>
        // overflow-free ceil(ns/1000): `ns + 999` wraps for ns within 999
        // of Long.MaxValue, which would turn an open-ended upper bound
        // into a hugely negative literal (empty scan)
        val us = Math.floorDiv(ns, 1000L) +
          (if (Math.floorMod(ns, 1000L) != 0L) 1L else 0L)
        val inst = java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
        if (dt == TimestampType) lit(inst)
        else lit(java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC))
      case _ => lit(ns)
    }

  /** TABLE_get's scan shape (btree.c range search → parquet row-group
    * pruning): the [fromNs, tillNs) range predicate is applied to the RAW
    * ts column — where it reaches the scan as PushedFilters — and the
    * frame is then normalized to the int64-ns convention.
    *
    * Row-group pruning effectiveness depends on the FILE's ts encoding
    * (measured, PLANS.md round 8): int64-ns and LTZ-µs layouts prune to
    * the slice (~6% of rows for a 1-day cut of 30 days); NTZ-annotated
    * files (isAdjustedToUTC=false — the raw testdata shape) list the
    * pushed filter but Spark builds no parquet FilterPredicate for NTZ,
    * so every row group is read regardless of read schema or rebase mode.
    * For NTZ sources the engine therefore prunes at FILE level itself:
    * footers' ts column stats select the overlapping files before the
    * scan (ntzPrunedRead below). The preferred scale path is still the
    * reference's own model — ingest via Tables.load (normalized int64-ns,
    * time-clustered) and range-scan the loaded table.
    *
    * Job budget: on a governed table, constructing the frame launches 0
    * Spark jobs — one manifest + listing read, the schema from the
    * memoized head footer ([[liveFrame]]).
    */
  def rangeScan(spark: SparkSession, sfDir: String, name: String,
                fromNs: Long, tillNs: Long): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    // engine-written layouts carry a ts manifest: file-level pruning from
    // ONE sidecar read instead of O(files) driver footer RPCs — and it
    // works for every ts encoding, not only the NTZ special case. The
    // pruned frame is built from that same view (liveFrame), so a
    // governed range read never builds the whole-table frame
    val base = governedLive(spark, path, Some("ts")).filter(_.files.nonEmpty) match {
      case Some(live) => liveFrame(spark, live, live.overlapping(fromNs, tillNs))
      case None =>
        val raw = readRaw(spark, sfDir, name)
        if (raw.schema("ts").dataType == TimestampNTZType)
          ntzPrunedRead(spark, path, raw.schema, fromNs, tillNs)
        else raw
    }
    val dt = base.schema("ts").dataType
    normalizeNsTs(base.filter(col("ts") >= tsLit(fromNs, dt) &&
      col("ts") < tsLit(tillNs, dt)))
  }

  /** File-level ts pruning the parquet reader won't do for NTZ columns:
    * read each part file's footer, keep files whose ts min/max stats
    * overlap [fromNs, tillNs), and scan only those. Footer reads are
    * per-file metadata RPCs on the driver (parallelized; the same order
    * of work as the file listing Spark already does) — at cluster scale
    * file-level pruning is the dominant win anyway, row groups within a
    * kept file second-order. Files without usable ts stats are kept
    * (pruning must never change results); the exact range filter is
    * re-applied by the caller regardless.
    */
  private def ntzPrunedRead(spark: SparkSession, path: String,
                            schema: StructType,
                            fromNs: Long, tillNs: Long): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf)
    val st = fs.getFileStatus(hp)
    val listing = if (st.isFile) Array(st) else fs.listStatus(hp)
    // a nested layout (partitionBy directories, multi-level writes)
    // cannot be pruned by per-file reads — reading part files directly
    // would also DROP directory-encoded partition columns. Fall back to
    // the plain unpruned read; date-partitioned layouts get directory
    // pruning from Spark itself (LayoutSpec). Same definition of
    // "nested" as the manifest reader (hidden dirs are not data).
    if (hasPartitionDirs(listing.toSeq))
      return spark.read.schema(schema).parquet(path)
    val parts =
      if (st.isFile) listing
      else listing.filter(s => s.isFile && isDataFile(s.getPath.getName))
    // files without usable stats are kept (pruning never changes results);
    // the Try mirrors scanEntries — one unreadable footer must degrade to
    // keep-the-file, never abort the whole scan
    def overlaps(p: Path): Boolean =
      scala.util.Try(tsFileStatsNs(p, conf, "ts")).toOption.flatten
        .forall { case (mn, mx) => mx >= fromNs && mn < tillNs }
    val kept = {
      import scala.collection.parallel.CollectionConverters._
      parts.toSeq.par.filter(s => overlaps(s.getPath)).seq
    }
    filesFrame(spark, schema, kept)
  }

  /** Part-file predicate shared by every direct-listing consumer. */
  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  // ---- ts min/max manifest -------------------------------------------

  private val ManifestName = "_graft_manifest.json"

  /** One file's ts column stats in epoch-NS, merged across row groups.
    * The conversion factor comes from the parquet logical annotation —
    * TIMESTAMP(MICROS/MILLIS/NANOS) scale to ns exactly; a plain INT64
    * ts is the engine's own epoch-ns convention and passes through.
    * None when the column is missing, non-INT64 (e.g. INT96, which has
    * no usable min/max), an unknown annotation, or any row group lacks
    * stats — callers must KEEP such files in every pruning decision.
    */
  private def tsFileStatsNs(p: Path, conf: org.apache.hadoop.conf.Configuration,
                            ts: String): Option[(Long, Long)] =
    tsFileFooterNs(p, conf, ts)._1

  /** [[tsFileStatsNs]] plus the footer's total row count from the SAME
    * reader open — the append path needs both (stats for the manifest,
    * row count to drop row-less staged files) and must not pay two footer
    * opens per file for them.
    */
  private def tsFileFooterNs(p: Path, conf: org.apache.hadoop.conf.Configuration,
                             ts: String): (Option[(Long, Long)], Option[Long]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try {
      val rows = scala.util.Try(reader.getRecordCount).toOption
      val schema = reader.getFooter.getFileMetaData.getSchema
      // case-insensitive, like Spark's own column resolution and
      // seriesTsOf — a sortCols casing differing from the schema must not
      // silently produce an all-stat-less manifest. AMBIGUITY is the one
      // exception: a case-sensitive schema can hold both 'ts' and 'TS';
      // binding to the wrong one would record the wrong column's min/max
      // and let pruning drop in-range files, so exact match wins and an
      // unresolvable tie degrades to stat-less (keep every file).
      val ciMatches = schema.getFields.asScala
        .filter(_.getName.equalsIgnoreCase(ts)).toSeq
      val factor: Option[Long] = ciMatches.find(_.getName == ts)
        .orElse(if (ciMatches.size == 1) ciMatches.headOption else None)
        .filter(_.isPrimitive).map(_.asPrimitiveType)
        .filter(_.getPrimitiveTypeName == PrimitiveTypeName.INT64)
        .flatMap { pt =>
          pt.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit match {
                case LogicalTypeAnnotation.TimeUnit.NANOS => Some(1L)
                case LogicalTypeAnnotation.TimeUnit.MICROS => Some(1000L)
                case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(1000000L)
                case _ => None
              }
            case null => Some(1L) // plain int64: the engine's epoch-ns
            case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation => Some(1L)
            case _ => None
          }
        }
      val stats = factor.flatMap { f =>
        // resolve the chunk by the FIELD's recorded name (the unambiguous
        // one chosen above), so the stats always come from that column
        val fieldName = ciMatches.find(_.getName == ts)
          .orElse(ciMatches.headOption).map(_.getName).getOrElse(ts)
        val bounds = reader.getFooter.getBlocks.asScala.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == fieldName)
            .map(_.getStatistics) match {
            case Some(s) if s != null && s.hasNonNullValue && !s.isEmpty =>
              (s.genericGetMin, s.genericGetMax) match {
                case (mn: java.lang.Long, mx: java.lang.Long) =>
                  // overflow-checked: corrupt/sentinel stats (×1e6 for
                  // MILLIS wraps Long) must degrade to the stat-less
                  // keep-the-file path, never flip an overlap test —
                  // pruning is not allowed to change results
                  try Some((Math.multiplyExact(mn.longValue, f),
                    Math.multiplyExact(mx.longValue, f)))
                  catch { case _: ArithmeticException => None }
                case _ => None
              }
            case _ => None
          }
        }
        if (bounds.isEmpty || bounds.exists(_.isEmpty)) None
        else Some((bounds.map(_.get._1).min, bounds.map(_.get._2).max))
      }
      (stats, rows)
    } finally reader.close()
  }

  /** Footer-scan `files` into manifest entries (driver-side, parallelized
    * — paid ONCE at write time so reads never repeat it).
    */
  private def scanEntries(conf: org.apache.hadoop.conf.Configuration,
                          ts: String, files: Seq[FileStatus],
                          loaded: Boolean): Seq[TsFileEntry] =
    scanEntriesWithRows(conf, ts, files, loaded).map(_._1)

  /** [[scanEntries]] plus each file's footer row count (None on a footer
    * -read failure), from the SAME single footer open per file — the
    * append path uses the counts to drop row-less staged files without a
    * second I/O pass. Input order is preserved (par.map keeps ordering).
    */
  private def scanEntriesWithRows(conf: org.apache.hadoop.conf.Configuration,
                                  ts: String, files: Seq[FileStatus],
                                  loaded: Boolean): Seq[(TsFileEntry, Option[Long])] = {
    import scala.collection.parallel.CollectionConverters._
    files.par.map { s =>
      val (st, rows) = scala.util.Try(tsFileFooterNs(s.getPath, conf, ts))
        .getOrElse((None, None))
      (TsFileEntry(s.getPath.getName, s.getLen, st.map(_._1), st.map(_._2),
        loaded, rows), rows)
    }.seq
  }

  /** One data file's parquet footer row count (None on a footer-read
    * failure) — a single driver-side footer open, no column scan. Used by
    * per-file structure builders (e.g. [[graft.streaming.FileBlooms]]) to
    * size a sketch without paying a Spark count job per file.
    */
  /** Test-visible tally of driver-side footer opens on the ROW-COUNT
    * fallback path — how TablesSpec asserts the rows backfill actually
    * eliminated the per-poll footer pass (a filesystem-level witness the
    * Spark job listener cannot see).
    */
  private[graft] val footerRowCountOpens =
    new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] def footerRowCount(
      conf: org.apache.hadoop.conf.Configuration, p: Path): Option[Long] = {
    footerRowCountOpens.incrementAndGet()
    scala.util.Try {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try reader.getRecordCount finally reader.close()
    }.toOption
  }

  /** A governed table's LIVE row count from METADATA only — the
    * consistency-checked manifest file list plus one parquet footer open
    * per live file, ZERO Spark jobs (VERDICT r15 wrong #2: a one-row
    * health check launching full-table count jobs is a trap for an
    * operator polling it at 100 TB file counts). None when the path is
    * ungoverned or any footer is unreadable — callers fall back to a
    * real scan, which stays the always-correct shape.
    */
  private[graft] def metadataRowCount(spark: SparkSession,
                                      path: String): Option[Long] = {
    val hp = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = hp.getFileSystem(conf)
    governedLive(spark, path).flatMap { m =>
      // the manifest carries each file's footer row count (recorded at
      // write time, review r16) — the common case is ZERO per-file RPCs;
      // entries from pre-r16 manifests or stat-less writes fall back to
      // one footer open each, and any unreadable footer degrades the
      // whole answer to None (the caller's scan fallback)
      import scala.collection.parallel.CollectionConverters._
      val counts = m.files.par
        .map(e => e.name ->
          e.rows.orElse(footerRowCount(conf, new Path(hp, e.name))))
        .seq
      if (counts.exists(_._2.isEmpty)) None
      else {
        // opportunistic rows BACKFILL (VERDICT r16 item 3): the footer
        // pass just paid for the counts a pre-r16 manifest lacks — write
        // them back so a long-lived table pays the O(files) pass ONCE,
        // not on every health-check poll. Best-effort and non-blocking:
        // a held lease (live stream mid-batch) skips the backfill — the
        // next poll retries; a read path must never queue behind writers.
        if (m.files.exists(_.rows.isEmpty))
          backfillManifestRows(fs, hp, counts.toMap)
        Some(counts.flatMap(_._2).sum)
      }
    }
  }

  /** Patch footer row counts into manifest entries that lack them, under
    * the writer lease (atomic install; entries matched by NAME — data
    * files are immutable and uniquely named, so a count read from a
    * file's footer is valid for that entry whenever it still appears).
    * The manifest is RE-READ under the lease: concurrent maintenance may
    * have moved it since the caller's view, and only still-present
    * row-less entries are touched. Failures (lease contention included)
    * are swallowed — the backfill is an accelerator, never a gate.
    */
  private def backfillManifestRows(fs: FileSystem, hp: Path,
                                   rows: Map[String, Option[Long]]): Unit =
    scala.util.Try {
      withWriterLease(fs, hp, "manifestRowsBackfill") {
        readManifest(fs, hp).foreach { cur =>
          val patched = cur.files.map(e =>
            if (e.rows.isEmpty) rows.get(e.name).flatten
              .map(r => e.copy(rows = Some(r))).getOrElse(e)
            else e)
          if (patched != cur.files)
            writeManifestFile(fs, hp, cur.copy(files = patched))
        }
      }
    }.failed.foreach {
      case _: LeaseContentionException => () // a writer is live — next poll
      case e => System.err.println(
        s"[tables] manifest rows backfill skipped for $hp: ${e.getMessage}")
    }

  /** A manifest-FILE-pruned snapshot slice over [fromNs, tillNs] of a
    * governed table — the dedup verify's candidate-window read: the
    * landing protocol knows the colliding stored docs' ts span (bucket
    * rows carry the doc ts), so fetching their texts/vectors must read
    * the overlapping files, not the whole doc table (at 100 TB the
    * verify read would otherwise scan every file's row-group stats for
    * an In over ids the layout is not clustered by). Falls back to the
    * full [[snapshot]] when the path is ungoverned. Pruning only drops
    * files whose recorded ts range cannot overlap — the caller applies
    * its exact predicates regardless, so this can never change results.
    */
  private[graft] def snapshotSliceNs(spark: SparkSession, path: String,
                                     fromNs: Long, tillNs: Long,
                                     ts: String = "ts"): DataFrame = {
    val till = if (tillNs == Long.MaxValue) Long.MaxValue else tillNs + 1
    governedLive(spark, path, Some(ts)).filter(_.files.nonEmpty)
      .map(live => liveFrame(spark, live, live.overlapping(fromNs, till)))
      .getOrElse(snapshot(spark, path))
  }

  /** One data file's int64-column min/max plus its footer row count, from
    * a SINGLE driver-side footer open — the per-file index builders
    * ([[graft.streaming.FileBlooms]]) need both (the range for the prune
    * index, the row count to size the bloom) and must not pay two footer
    * RPCs per file. Stats are None when the column is missing, non-INT64,
    * or any row group lacks stats — consumers must KEEP such files in
    * every pruning decision (the same safe contract as the ts manifest).
    */
  private[graft] def footerLongStatsWithRows(
      conf: org.apache.hadoop.conf.Configuration, p: Path,
      colName: String): (Option[(Long, Long)], Option[Long]) =
    scala.util.Try(tsFileFooterNs(p, conf, colName))
      .getOrElse((None, None))

  /** The schema `spark.read.parquet(file)` infers for one data file, read
    * from its footer on the driver: Spark-written files carry their row
    * schema as footer metadata, which is what the inference uses too
    * (made nullable, as file reads always are) — without the
    * schema-inference Spark job that read launches per call. Files with
    * no such metadata (foreign writers) take the inferring read.
    */
  private[graft] def fileSchema(spark: SparkSession, file: Path): StructType = {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    def nullable(t: DataType): DataType = t match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
        valueContainsNull = true)
      case other => other
    }
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
        spark.sparkContext.hadoopConfiguration))
    val json = try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata"))
    finally reader.close()
    json.flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
      .collect { case st: StructType => nullable(st).asInstanceOf[StructType] }
      .getOrElse(spark.read.parquet(file.toString).schema)
  }

  private implicit val jsonFormats: org.json4s.Formats = org.json4s.DefaultFormats

  /** Test-only fault-injection seam for the staged-commit protocols: a
    * hook that THROWS at a named protocol step simulates a crash exactly
    * there, letting the crash-recovery fuzz (TablesSpec) kill the
    * load/append/compact marker protocol at ARBITRARY steps instead of
    * only the hand-picked ones. Production cost is a None check per
    * protocol step — a handful per maintenance op, zero per query.
    */
  @volatile private[graft] var crashHook: Option[String => Unit] = None
  private def crashPoint(tag: String): Unit = crashHook.foreach(_(tag))

  /** Torn-write-free small-file install: stage then rename, so neither a
    * reader nor crash recovery can ever observe a HALF-WRITTEN file. The
    * commit marker's roll-FORWARD semantics depend on this — a torn
    * marker read as "zero cold files" would let recovery delete the cold
    * layout — and the marker is always created FRESH (recoverCompact
    * consumes any predecessor), so its install never takes the replace
    * path.
    *
    * REPLACING an existing target must ALSO be atomic since the manifest
    * became the live-vs-retired source of truth (r12): the pre-r12
    * delete→rename had a window with NO manifest present, during which a
    * lock-free reader degrades to a plain directory read and serves
    * grace-retained retired files as live rows (ADVICE r12, high). The
    * replace therefore tries, in order:
    *  1. a plain rename onto the existing target — POSIX rename(2)
    *     semantics on the local FS (RawLocalFileSystem delegates to
    *     File.renameTo first), which atomically replaces;
    *  2. FileContext's Options.Rename.OVERWRITE — the documented atomic
    *     overwrite on HDFS-like filesystems where FileSystem.rename
    *     refuses an existing destination;
    *  3. the legacy delete→rename ONLY when neither API can replace —
    *     paired with the reader-side staging-sibling wait in
    *     [[liveEntries]] that covers the residual window.
    */
  private[graft] def writeSmallFileAtomic(fs: FileSystem, target: Path, text: String): Unit = {
    // a ChecksumFileSystem (the local FS) pairs every file with a .crc
    // sidecar that CANNOT be replaced atomically alongside the data —
    // a rename-over leaves the OLD crc against the NEW bytes and every
    // later read fails "Checksum error". Small sidecars therefore write
    // through the RAW filesystem (no crc; a torn/corrupt JSON is still
    // detected loudly by the parse), retiring any stale sidecar a
    // checksummed predecessor left so verified reads don't trip on it.
    val (wfs, crcOf): (FileSystem, Option[Path => Path]) = fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem =>
        (c.getRawFileSystem, Some(p => c.getChecksumFile(p)))
      case other => (other, None)
    }
    val tmp = new Path(target.getParent, "." + target.getName + ".staging")
    val out = wfs.create(tmp, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    crcOf.foreach { f =>
      wfs.delete(f(target), false); wfs.delete(f(tmp), false)
    }
    if (wfs.rename(tmp, target)) return
    if (wfs.exists(target)) {
      val replaced = scala.util.Try {
        org.apache.hadoop.fs.FileContext.getFileContext(wfs.getUri, wfs.getConf)
          .rename(wfs.makeQualified(tmp), wfs.makeQualified(target),
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      }.isSuccess
      if (replaced) return
      wfs.delete(target, false) // last resort: non-atomic window (see doc)
    }
    if (!wfs.rename(tmp, target)) sys.error(s"cannot install $target")
  }

  private[graft] def readSmallText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** A partition subdirectory (non-hidden child dir) means the layout is
    * nested: per-file reads would drop directory-encoded columns and
    * subdir rows, so manifest management refuses it — Spark's own
    * directory pruning covers those layouts (LayoutSpec).
    */
  private def hasPartitionDirs(listing: Seq[FileStatus]): Boolean =
    listing.exists(s => s.isDirectory && isDataFile(s.getPath.getName))

  /** Entries a compact rewrite may NOT silently destroy. The rename-aside
    * + delete(old) swap deletes the whole original directory, so anything
    * the engine doesn't own must stop the compact loudly first:
    *  - ANY subdirectory (the engine never nests inside a table dir —
    *    staging dirs are siblings): a non-hidden one is a partitioned
    *    layout, a hidden one is a foreign artifact (e.g. a snapshot dir);
    *  - hidden/underscore files other than the engine's own sidecars
    *    (manifest + its staging temp) and Spark's write markers.
    * Non-hidden FILES are not listed here on purpose: untracked ones
    * already fail manifestConsistent, routing compactIncremental to the
    * full compact — whose parquet read either folds them (parquet data)
    * or fails loudly (anything else); never a silent delete.
    */
  private def foreignEntries(listing: Seq[FileStatus]): Seq[String] =
    listing.filter { s =>
      val n = s.getPath.getName
      if (s.isDirectory) true
      else !isDataFile(n) && n != ManifestName && n != "_SUCCESS" &&
        !n.endsWith(".crc") && n != "." + ManifestName + ".staging" &&
        n != StreamCommitsName && n != "." + StreamCommitsName + ".staging" &&
        n != RetiredDirsName && n != "." + RetiredDirsName + ".staging"
    }.map(_.getPath.getName)

  /** The two-rename install retained for the BUCKETED maintenance flavor
    * and legacy crash recovery (the clustered ops moved to the in-place
    * generation install, [[installGeneration]], for reader isolation —
    * a catalog-integrated bucketed scan cannot exclude co-located retired
    * files, so the bucketed fold keeps the reader-exclusive swap): move
    * the live dir aside to `old`, move the staged `tmp` in, delete `old`.
    * Its one caller ([[installBucketedFold]]) holds a commit marker that
    * promises roll-forward — tmp holds carried originals renamed in — so
    * a failed rename leaves everything in place for [[recoverCompact]].
    */
  private def swapInstall(fs: FileSystem, live: Path, tmp: Path, old: Path,
                          op: String, tag: String): Unit = {
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(live, old))
      sys.error(s"$op: cannot move $live aside; original left in place")
    crashPoint(s"$tag:aside")
    if (!fs.rename(tmp, live))
      sys.error(s"$op: cannot install staged layout at $live " +
        "(recoverable: rerun — the commit marker rolls forward)")
    crashPoint(s"$tag:installed")
    fs.delete(old, true)
  }

  /** Shared entry guard for the swap-installing rewrites ([[compact]],
    * [[compactIncremental]], [[compactBucketed]], [[deleteRange]]):
    * refuse to run when the directory holds content the swap would
    * destroy. One exception is CLEANED rather than flagged: committer
    * scratch (`_temporary`, `.spark-staging-*`) left by a write job that
    * died mid-flight holds only uncommitted task attempts — deleting it
    * is what the committer itself would do, and flagging it would brick
    * every future maintenance op after any crashed append/load write.
    */
  private def guardCompactable(fs: FileSystem, hp: Path): Unit = {
    fs.listStatus(hp).foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && (n == "_temporary" || n.startsWith(".spark-staging")))
        fs.delete(s.getPath, true)
    }
    val foreign = foreignEntries(fs.listStatus(hp).toSeq)
    if (foreign.nonEmpty)
      sys.error(s"compact: $hp holds entries the rewrite would silently " +
        s"destroy (${foreign.mkString(", ")}) — a partitioned layout " +
        "cannot be compacted (Spark's directory pruning covers it); " +
        "remove or relocate foreign artifacts first")
  }

  // ---- writer lease ----------------------------------------------------

  /** Cross-process writer exclusion for the MUTATING lifecycle ops — the
    * role the reference's MURSIW (multiple-readers-single-writer) lock
    * plays (imcs.c:879-905). Readers take no lock: installs are atomic
    * (manifest rename for the clustered generation protocol, dir rename
    * for the bucketed swap), so a reader plans against the old or the new
    * layout, never a torn one — and the clustered layout grace-retains
    * replaced files so mid-scan readers finish too ([[installGeneration]]).
    * Two LIVE writers racing a compact/append interleave is
    * the case the staged-swap machinery cannot save — both stage against
    * the same listing and the second install destroys the first's rows —
    * so append, deleteRange, truncate, both compact flavors and the
    * bucketed append/compact each hold this lease for the op's duration.
    *
    * The lease is a SIBLING file `<dir>.lease`, not an entry inside the
    * table dir: the swap protocols replace the live dir wholesale (a
    * lease inside would vanish mid-op) and the foreign-entry guard would
    * have to whitelist it.
    *
    * Acquisition: create-if-absent with a unique token, then read back
    * and confirm the token — the read-back arbitrates the local
    * filesystem's check-then-create window (HDFS create is atomic; the
    * read-back is belt-and-braces there). A present lease younger than
    * the TTL is a LIVE writer → fail loudly, never queue (the reference
    * blocks on its LWLock; a distributed job failing fast and retrying
    * beats silently serializing hours-long maintenance). Older is a DEAD
    * writer — a real kill, since a mere exception releases in the
    * `finally` — and is broken and taken over, which is safe because
    * every protocol is crash-recoverable at any step (crash-point fuzz).
    * Re-entrant per thread: callers outside this object (the landing
    * bridge in `Streams`, `DedupBloom`, `Bench`) hold a table's lease
    * across several ops, and [[loadBucketed]] leases two directories
    * that can be the same one.
    *
    * Staleness is judged by comparing the CHECKER's clock against an
    * mtime stamped by the HOLDER's heartbeat — on a shared filesystem
    * across hosts this assumes clocks synchronized (NTP) well within
    * `TTL − heartbeat period` (~6-7 min at the defaults); skew beyond
    * that can make a live writer's lease look dead and get broken. Raise
    * the TTL on deployments with weaker clock discipline.
    */
  private[graft] def leaseTtlMs: Long = sys.props.get("graft.lease.ttl.ms")
    .flatMap(_.toLongOption).getOrElse(10L * 60L * 1000L)

  /** Start a daemon thread refreshing `p`'s mtime every TTL/3 (floored at
    * 50 ms so the sub-second TTLs the test knob configures stay covered);
    * returns a stop handle. Shared by the writer lease and reader pins —
    * staleness for both is judged by mtime against the TTL.
    */
  private def startHeartbeat(fs: FileSystem, p: Path,
                             name: String): () => Unit = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hb = new Thread(() => {
      while (!stop.get) {
        try Thread.sleep(math.max(50L, leaseTtlMs / 3))
        catch { case _: InterruptedException => }
        if (!stop.get)
          try fs.setTimes(p, System.currentTimeMillis(), -1)
          catch { case _: Throwable => () } // a lost file heals at release
      }
    }, name)
    hb.setDaemon(true)
    hb.start()
    () => { stop.set(true); hb.interrupt() }
  }

  private val heldLeases = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue(): scala.collection.mutable.Set[String] =
      scala.collection.mutable.Set.empty[String]
  }

  private[graft] def withWriterLease[T](fs: FileSystem, dir: Path, op: String)(
      body: => T): T = {
    // re-entrancy keys on the QUALIFIED path: the same dir reached as
    // "file:/x/t" (catalog location) and "/x/t" (defaultTablePath) must
    // count as one lease, or a nested op would deadlock-fail against its
    // own caller's lease file
    val key = scala.util.Try(fs.makeQualified(dir).toString).getOrElse(dir.toString)
    if (heldLeases.get.contains(key)) return body // re-entrant (same thread)
    val lease = new Path(dir.getParent, dir.getName + ".lease")
    val token = java.util.UUID.randomUUID().toString
    val record = org.json4s.jackson.Serialization.write(Map(
      "token" -> token, "op" -> op,
      "pid" -> java.lang.ProcessHandle.current().pid().toString,
      "acquiredMs" -> System.currentTimeMillis().toString))
    // ATOMIC create-if-absent: on HDFS fs.create(overwrite=false) is
    // atomic; the local RawLocalFileSystem's is check-then-create (two
    // racing creates could both "succeed", the second truncating the
    // first), so local paths go through NIO's O_CREAT|O_EXCL instead.
    // The token read-back stays as belt-and-braces on both.
    def tryCreate(): Boolean =
      (try {
        if (fs.getUri.getScheme == "file") {
          val local = java.nio.file.Paths.get(lease.toUri.getPath)
          // NIO does not create parents (fs.create on HDFS does) — a
          // load to a fresh nested path must not die on the lease
          Option(local.getParent)
            .foreach(p => java.nio.file.Files.createDirectories(p))
          java.nio.file.Files.write(local,
            record.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            java.nio.file.StandardOpenOption.CREATE_NEW)
          true
        } else {
          val out = fs.create(lease, false)
          try { out.write(record.getBytes(java.nio.charset.StandardCharsets.UTF_8)); true }
          finally out.close()
        }
      } catch { case _: java.io.IOException => false }) &&
        // read back: whoever's token survived owns the lease
        scala.util.Try(readSmallText(fs, lease)).toOption.exists(_.contains(token))
    def acquire(canBreak: Boolean): Unit =
      if (!tryCreate()) {
        val st = scala.util.Try(fs.getFileStatus(lease)).toOption
        if (st.isEmpty) {
          // the holder finished between our failed create and this check —
          // the lease is gone, not held; one retry acquires it (without
          // this, a vacuous age check would throw "another writer, age -1")
          if (!canBreak || !tryCreate())
            throw new LeaseContentionException(
              s"$op: lost the lease race on $dir — another writer took it; retry")
        } else {
          val ageMs = System.currentTimeMillis() - st.get.getModificationTime
          if (ageMs < leaseTtlMs || !canBreak) {
            val holder = scala.util.Try(readSmallText(fs, lease)).getOrElse("<unreadable>")
            throw new LeaseContentionException(
              s"$op: another writer holds the lease on $dir " +
                s"(age ${ageMs}ms, ttl ${leaseTtlMs}ms): $holder — " +
                "concurrent lifecycle writers are not supported (the reference " +
                "holds an exclusive lock here, imcs.c:879-905); retry after it " +
                "finishes or expires")
          }
          // stale: a DEAD writer's lease. Break it by ATOMIC RENAME-ASIDE —
          // of N writers racing the break, exactly one rename succeeds (the
          // source vanishes for the rest), so a loser can never delete the
          // winner's fresh lease (the delete-then-create shape had exactly
          // that hole). The dead writer's partial state is what the entry
          // recovery/cleanup paths handle.
          //
          // RE-STAT immediately before the rename (r12 — found by the
          // break-race hammer): the age above may have been read
          // arbitrarily long ago, and in between a WINNING breaker can
          // have created a FRESH lease at the same name — renaming that
          // aside would break a live writer. After the rename, verify the
          // aside really was stale; a fresh one that slipped into the
          // re-stat→rename window is restored (or, if a third writer
          // occupied the name meanwhile — a double microsecond race —
          // refuse loudly WITHOUT taking over; we never write unleased).
          val st2 = scala.util.Try(fs.getFileStatus(lease)).toOption
          val age2 = st2.map(s => System.currentTimeMillis() - s.getModificationTime)
          if (st2.isEmpty) {
            // holder finished between the checks — the name is free
            if (!tryCreate())
              throw new LeaseContentionException(
                s"$op: lost the lease race on $dir — another writer took it; retry")
          } else if (age2.exists(_ < leaseTtlMs)) {
            throw new LeaseContentionException(
              s"$op: another writer took over the lease on $dir while its " +
                "staleness was being confirmed; retry")
          } else {
            val aside = new Path(dir.getParent, dir.getName + s".lease.broken.$token")
            // Try, not a bare call: on a local FS a rename whose SOURCE
            // vanished mid-race falls back to FileUtil.copy and THROWS
            // FileNotFoundException rather than returning false — to a
            // racing breaker both mean the same thing (someone else won)
            if (!scala.util.Try(fs.rename(lease, aside)).getOrElse(false))
              throw new LeaseContentionException(
                s"$op: lost the stale-lease break race on $dir — another " +
                  "writer is taking over; retry")
            val asideAge = scala.util.Try(fs.getFileStatus(aside)).toOption
              .map(s => System.currentTimeMillis() - s.getModificationTime)
            if (asideAge.exists(_ < leaseTtlMs)) {
              // we renamed a FRESH lease (created in the re-stat→rename
              // window) — restore it and stand down. If the restore loses
              // to a THIRD writer's create (a double microsecond race),
              // the aside is LEFT IN PLACE: the wronged holder's record is
              // forensic evidence of the residual TOCTOU (deleting it
              // would only erase the trail; either way we never proceed —
              // this writer takes nothing over)
              scala.util.Try(fs.rename(aside, lease))
              throw new LeaseContentionException(
                s"$op: another writer took the lease on $dir mid-break; " +
                  "its lease was restored — retry")
            }
            scala.util.Try(fs.delete(aside, false))
            acquire(canBreak = false)
          }
        }
      }
    acquire(canBreak = true)
    heldLeases.get += key
    // HEARTBEAT: staleness is judged by the lease file's mtime, so a LIVE
    // op running longer than the TTL (a petabyte compact) must refresh it
    // or a second writer would classify it dead, break the lease, and
    // re-open the exact concurrent-writer corruption the lease prevents.
    // A real kill stops the heartbeat and the lease goes stale honestly.
    val stopHb = startHeartbeat(fs, lease, s"graft-lease-heartbeat-${dir.getName}")
    try body
    finally {
      stopHb()
      heldLeases.get -= key
      // delete only OUR lease: if this op overran the TTL and a successor
      // broke it, theirs is not ours to remove. Residual window: between
      // this read and the delete a successor could break-and-retake —
      // that needs a >TTL overrun AND a microsecond interleave; the
      // rename-aside break keeps even that from cascading (a third
      // writer's break of the then-deleted lease just fails its rename).
      // Try: the file can vanish between the ownership read and the
      // delete (a successor's break), and ChecksumFileSystem.delete stats
      // its target — a missing-file throw here would mask the body's result
      if (scala.util.Try(readSmallText(fs, lease)).toOption.exists(_.contains(token)))
        scala.util.Try(fs.delete(lease, false))
    }
  }

  private def writeManifestFile(fs: FileSystem, dir: Path, m: TsManifest): Unit =
    writeSmallFileAtomic(fs, new Path(dir, ManifestName),
      org.json4s.jackson.Serialization.write(m))

  /** (Re)generate the manifest from the directory's current data files —
    * every file becomes part of the established layout (`loaded=true`).
    * Called after load/compact/delete rewrites; also the adoption path
    * for a FOREIGN parquet directory (one footer pass now buys every
    * future rangeScan manifest-level pruning there too). Footer-scan
    * failures on individual files degrade to stat-less entries, never to
    * a write failure: the manifest is an accelerator, not a gate.
    */
  def writeManifest(spark: SparkSession, path: String, ts: String): Unit = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing = fs.listStatus(hp).toSeq
    require(!hasPartitionDirs(listing),
      s"writeManifest: $path holds partition subdirectories — a nested " +
        "layout cannot be manifest-managed (per-file reads would drop " +
        "directory-encoded columns); Spark's directory pruning covers it")
    // a regen over a dir holding grace-retained files must not promote
    // them back to live (they would double-count every retired row) —
    // carry the previous manifest's retired set and exclude those names
    val prevRetired = readManifest(fs, hp).map(_.retired).getOrElse(Seq.empty)
    val retiredNames = prevRetired.map(_.name).toSet
    val files = listing.filter(s => s.isFile &&
      isDataFile(s.getPath.getName) && !retiredNames(s.getPath.getName))
    val entries = scanEntries(spark.sparkContext.hadoopConfiguration, ts, files,
      loaded = true)
    writeManifestFile(fs, hp, TsManifest(1, ts, entries,
      prevRetired.filter(r => fs.exists(new Path(hp, r.name)))))
  }

  /** Read-only view of a table's ts manifest — None when absent or
    * unreadable. Callers must treat it as advisory (see [[TsManifest]]).
    */
  def manifest(spark: SparkSession, path: String): Option[TsManifest] = {
    val hp = new Path(path)
    readManifest(hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  /** The LIVE generation's data-file names for a manifest-governed table —
    * the consistency-checked view (grace-retained retired files
    * excluded), exactly the file set
    * [[snapshot]] would read. None for ungoverned paths. Consumers that
    * build per-file structures (e.g. the dedup probe's per-file bloom
    * sidecars, [[graft.streaming.FileBlooms]]) key on these names.
    */
  private[graft] def liveFileNames(spark: SparkSession,
                                   path: String): Option[Seq[String]] =
    governedLive(spark, path).map(_.names)

  private def readManifest(fs: FileSystem, dir: Path): Option[TsManifest] = {
    val p = new Path(dir, ManifestName)
    if (!fs.exists(p)) None
    else scala.util.Try(
      org.json4s.jackson.Serialization.read[TsManifest](readSmallText(fs, p))
    ) match {
      case scala.util.Success(m) => Some(m)
      // LOUD, not a silent un-govern: the manifest is written atomically,
      // so an unparseable one is external corruption — and ignoring it on
      // a table holding grace-retained files would serve every retired
      // row as a live duplicate (recovery paths would also lose the
      // retired ledger). Restore the file, or delete it to re-adopt the
      // directory (writeManifest) once its contents are verified.
      case scala.util.Failure(e) => sys.error(
        s"unreadable table manifest $p — it is written atomically, so " +
          s"this is external corruption (${e.getMessage}); restore it, or " +
          "verify the directory and delete the manifest to re-adopt it")
    }
  }

  /** The manifest is trusted only when every LIVE entry is on disk with
    * its recorded size and every on-disk data file is accounted for —
    * live, grace-retained (`retired`), or staged by a LIVE generation
    * install (`extraAllowed`, the gen marker's new-file names, present on
    * disk mid-move before the new manifest lands). A retired entry whose
    * file is already gone is tolerated (reclaim deletes files first,
    * updates the manifest second — the crash-safe order). Anything else
    * means a foreign writer touched the directory and the manifest is
    * stale.
    */
  private def manifestConsistent(m: TsManifest, files: Seq[FileStatus],
                                 extraAllowed: Set[String] = Set.empty): Boolean = {
    val live = files.map(s => (s.getPath.getName, s.getLen)).toMap
    m.files.forall(e => live.get(e.name).contains(e.bytes)) && {
      val known = m.files.map(_.name).toSet ++ m.retired.map(_.name) ++ extraAllowed
      files.forall(s => known(s.getPath.getName))
    }
  }

  private def genMarkerPath(path: String): Path = new Path(path + ".gen.commit")
  private def genTmpPath(path: String): Path = new Path(path + ".gen.tmp")

  /** Staging file count for one append batch: ceil(estBytes /
    * targetBytes), CAPPED by the input partition count (an unknown or
    * overblown estimate can never stage more files than the pre-r18
    * one-file-per-upstream-partition behavior) and floored at 1. ALL
    * arithmetic stays in BigInt: the optimizer's unknown-stats sentinel
    * is Long.MaxValue (spark.sql.defaultSizeInBytes — every RDD-backed /
    * streaming micro-batch frame), which `isValidLong` does NOT reject,
    * and the Long form of the ceiling add overflowed it NEGATIVE — a
    * large unknown-stats batch then staged through ONE task instead of
    * falling back to its input partitioning (review r18).
    */
  private[graft] def stagedPartCount(inputParts: Int, estBytes: BigInt,
                                     targetBytes: Long): Int = {
    if (estBytes <= 0) return math.max(1, inputParts)
    val needed = (estBytes + (targetBytes - 1)) / targetBytes
    if (!needed.isValidLong || needed >= inputParts) math.max(1, inputParts)
    else math.max(1, needed.toInt)
  }

  /** `df`'s partition count read from its PLAN, launching no Spark job.
    * `queryExecution.toRdd` on an adaptive plan runs every shuffle stage
    * to reach the final plan — outside any SQL execution, and again in
    * the write that follows — so an adaptive plan is walked instead:
    * exchanges report their planned count (an upper bound on what
    * coalescing leaves), loaded caches their block count, leaf scans
    * their split count (RDD construction only, no job). Non-adaptive
    * plans keep `toRdd`, whose RDD construction runs no shuffle stage.
    */
  private[graft] def plannedPartitions(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec =>
        val cache = m.relation.cacheBuilder
        if (cache.isCachedColumnBuffersLoaded) cache.cachedColumnBuffers.getNumPartitions
        else walk(cache.cachedPlan)
      case _ if p.outputPartitioning.numPartitions > 0 => p.outputPartitioning.numPartitions
      case u: UnionExec => u.children.map(walk).sum
      case _ if p.children.isEmpty =>
        if (p.supportsColumnar) p.executeColumnar().getNumPartitions
        else p.execute().getNumPartitions
      case _ => p.children.map(walk).max
    }
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => walk(a)
      case _ => df.queryExecution.toRdd.getNumPartitions
    }
  }

  /** Grace window for retired (replaced) data files — how long an
    * in-flight reader that listed the OLD generation may keep scanning it
    * after a maintenance op installs the new one. Defaults to the lease
    * TTL; size it to the longest expected query against the table. Zero
    * disables retention (replaced files reclaimed at the end of the op —
    * the pre-r12 behavior).
    */
  private[graft] def retireGraceMs: Long = sys.props.get("graft.retire.grace.ms")
    .flatMap(_.toLongOption).getOrElse(leaseTtlMs)

  /** The LIVE view of a manifest-governed directory: Some(manifest) when
    * a trustworthy manifest exists (consistency judged modulo retired
    * files and a mid-install gen marker), None for ungoverned dirs. A
    * manifest that no longer matches the listing while retired files
    * exist FAILS LOUDLY instead of degrading: a plain-read fallback there
    * would silently serve retired duplicates as live rows.
    *
    * Lock-free reader protocol: the sequence manifest-read →
    * listing+marker-read → consistency check is not atomic, and an entire
    * install can land INSIDE the window (new files moved in, new manifest
    * installed, marker already deleted) — the stale first manifest then
    * looks torn against the advanced listing. On a mismatch the manifest
    * is RE-READ: if it moved, the evaluation retries against the fresh
    * one (bounded — each retry needs another full install in the window);
    * only a STABLE mismatch is a real foreign modification.
    */
  private def liveEntries(fs: FileSystem, hp: Path,
                          tsName: Option[String]): Option[LiveSet] = {
    val maxRetries = 5
    var attempt = 0
    while (true) {
      val mOpt = readManifest(fs, hp)
      mOpt match {
        case None =>
          // an ABSENT manifest with its .staging sibling present may be a
          // replace in flight on a filesystem where neither plain rename
          // nor FileContext OVERWRITE could replace atomically (the
          // writeSmallFileAtomic fallback) — degrading to a plain
          // directory read inside that window would serve grace-retained
          // retired files as live rows (ADVICE r12, high). Wait it out
          // (bounded); an ORPHANED staging file (writer crashed before
          // its rename) exhausts the retries and degrades as before —
          // crash cleanup is the next lease holder's job, not a reader's.
          val staging = new Path(hp, "." + ManifestName + ".staging")
          if (attempt < maxRetries && scala.util.Try(fs.exists(staging))
                .getOrElse(false)) {
            Thread.sleep(25L * (attempt + 1)); attempt += 1
          } else return None
        case Some(m) if !tsName.forall(_ == m.ts) =>
          // a ts-name mismatch on a table holding retired files must fail
          // LOUDLY like the inconsistent case — the ungoverned fallback
          // would list retired files as data and duplicate every row
          if (m.retired.nonEmpty) sys.error(
            s"table $hp is governed by ts column '${m.ts}' but the " +
              s"operation addressed '${tsName.getOrElse("")}' while " +
              "grace-retained retired files exist — an ungoverned " +
              "fallback would serve retired duplicates; use the " +
              "manifest's ts column (or vacuum first)")
          return None
        case Some(m) =>
          val listing = fs.listStatus(hp).toSeq
          if (hasPartitionDirs(listing)) return None
          val files = listing.filter(s => s.isFile && isDataFile(s.getPath.getName))
          // in-flight allowance: an install's staged names serve the OLD
          // manifest (the pre-op snapshot) while the files move in. Its
          // manifest lands only AFTER the moves and rolls FORWARD, so a
          // manifest that lists them is committed — never a dirty read
          val genNames: Set[String] =
            scala.util.Try(org.json4s.jackson.Serialization.read[GenMarker](
              readSmallText(fs, genMarkerPath(hp.toString)))).toOption
              .map(_.newFiles.toSet).getOrElse(Set.empty)
          if (manifestConsistent(m, files, genNames)) {
            val byName = files.map(s => s.getPath.getName -> s).toMap
            return Some(LiveSet(hp, m,
              m.files.map(e => e.name -> byName(e.name)).toMap))
          }
          val mNow = readManifest(fs, hp)
          if (mNow == mOpt || attempt >= maxRetries) {
            if (m.retired.nonEmpty) sys.error(
              s"table $hp holds grace-retained retired files but its manifest " +
                "no longer matches the live listing — a foreign writer modified " +
                "the directory, and reads can no longer distinguish live from " +
                "retired data. Restore the manifest (or move the foreign " +
                "content aside and run Tables.vacuum) before reading")
            return None
          }
          attempt += 1 // the manifest moved mid-evaluation: re-evaluate
      }
    }
    None // unreachable
  }

  /** A governed table's live generation as ONE [[liveEntries]] evaluation
    * saw it: the consistency-checked manifest plus the listing's status of
    * every live file, so a frame built from it ([[liveFrame]]) lists
    * nothing again.
    */
  private[graft] final case class LiveSet(dir: Path, manifest: TsManifest,
                                          status: Map[String, FileStatus]) {
    def files: Seq[TsFileEntry] = manifest.files
    def retired: Seq[RetiredEntry] = manifest.retired
    def names: Seq[String] = files.map(_.name)
    /** Live files whose recorded ts range can overlap [fromNs, tillNs);
      * stat-less entries are kept (pruning never changes results).
      */
    def overlapping(fromNs: Long, tillNs: Long): Seq[String] =
      files.filter { e =>
        (e.minNs, e.maxNs) match {
          case (Some(mn), Some(mx)) => mx >= fromNs && mn < tillNs
          case _ => true
        }
      }.map(_.name)
  }

  /** The live view of `path` when it is a manifest-governed directory
    * (see [[liveEntries]]; `tsName` additionally requires the manifest's ts
    * column), None for ungoverned or absent paths.
    */
  private[graft] def governedLive(spark: SparkSession, path: String,
                                  tsName: Option[String] = None): Option[LiveSet] = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isDir =
      try fs.getFileStatus(hp).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    if (isDir) liveEntries(fs, hp, tsName) else None
  }

  /** Live-generation schema memo: table path → (head file name, schema).
    * Data files are immutable and uniquely named, so the schema read from
    * a given head never changes, and any rewrite of the layout changes
    * the head name — the entry is then REPLACED, never accumulated per
    * generation. Only successful footer reads are stored.
    */
  private val headSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  /** The schema of the governed table at `dir` whose live head file is
    * `head`: one driver-side footer read per (table, head) through
    * [[fileSchema]], then memoized. Engine layouts keep one schema per
    * table (an existing table always keeps its own layout), so the head's
    * schema is the live generation's. An unreadable footer THROWS — a
    * guessed schema would silently change the layout a writer appends.
    */
  private[graft] def headSchema(spark: SparkSession, dir: Path,
                                head: String): StructType = {
    val key = dir.toString
    Option(headSchemas.get(key)).filter(_._1 == head).map(_._2).getOrElse {
      val s = fileSchema(spark, new Path(dir, head))
      headSchemas.put(key, (head, s))
      s
    }
  }

  /** Spark's file-status cache, primed with statuses the caller already
    * listed: the file index built over them finds every root path here
    * and lists nothing (no driver round-trips, and no distributed listing
    * job past `parallelPartitionDiscoveryThreshold` files). A refresh
    * clears it, so a refreshed index lists the filesystem as usual.
    */
  private final class KnownStatuses(files: Seq[FileStatus])
      extends org.apache.spark.sql.execution.datasources.FileStatusCache {
    private val byPath = new java.util.concurrent.ConcurrentHashMap[Path, Array[FileStatus]]()
    files.foreach(s => byPath.put(s.getPath, Array(s)))
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      Option(byPath.get(path))
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit =
      byPath.put(path, leafFiles)
    override def invalidateAll(): Unit = byPath.clear()
  }

  /** Exactly `files` read under `schema`, in the layout's own
    * partitioning and with no query planning at construction: the
    * relation `spark.read.schema(schema).parquet(files)` resolves to,
    * over a file index primed with the given statuses. No files is an
    * empty LOCAL relation, which the optimizer propagates (a join or
    * aggregate over it plans no scan and launches no job).
    */
  private def filesFrame(spark: SparkSession, schema: StructType,
                         files: Seq[FileStatus]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)
    else {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
      val index = new InMemoryFileIndex(spark, files.map(_.getPath), Map.empty,
        Some(schema), new KnownStatuses(files))
      spark.baseRelationToDataFrame(HadoopFsRelation(index,
        index.partitionSchema, schema, None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        Map.empty)(spark))
    }

  /** The live files `names` of a governed table as a DataFrame, built from
    * the manifest view alone: file statuses from `live`'s listing, schema
    * from the live head's footer ([[headSchema]]) unless `schema` is
    * given. Starts no SQL execution — no listing, schema-inference or
    * split-planning probe. Every governed multi-file read (snapshot,
    * rangeScan, the compact/delete rewrite inputs, the landing probe) is
    * built here.
    */
  private[graft] def liveFrame(spark: SparkSession, live: LiveSet,
                               names: Seq[String],
                               schema: Option[StructType] = None): DataFrame =
    filesFrame(spark,
      schema.getOrElse(headSchema(spark, live.dir, live.files.head.name)),
      names.map(live.status))

  /** The live generation of `path` as a DataFrame: manifest-governed
    * directories serve EXACTLY the manifest's live files — grace-retained
    * retired files excluded — so a read taken after a maintenance op
    * never sees the replaced generation; ungoverned paths read plainly.
    * This (and the read/rangeScan paths built on it) is the engine's read
    * contract for managed tables: a plain `spark.read.parquet(dir)`
    * during the grace window sees retired files too (the same rule every
    * table format imposes — read through the engine, not the directory).
    *
    * Job budget: constructing the frame of a governed table with live
    * files starts no SQL execution ([[liveFrame]]).
    */
  def snapshot(spark: SparkSession, path: String): DataFrame =
    governedLive(spark, path).map { live =>
      if (live.files.isEmpty)
        // an EMPTY live set still needs a schema. Directory inference
        // covers the common case (grace-retained files still on
        // disk); a fully-reclaimed empty table has no footer left
        // anywhere — fail with the table's actual state instead of
        // AnalysisException's misleading "unable to infer schema"
        // (ADVICE r12, low)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          scala.util.Try(spark.read.parquet(path).schema).getOrElse(
            sys.error(s"table $path is governed but EMPTY (its live " +
              "set has zero files and no parquet footer remains to " +
              "derive a schema from) — load data before reading, or " +
              "truncate it")))
      else liveFrame(spark, live, live.names)
    }.getOrElse(spark.read.parquet(path))

  // ---- reader pins -----------------------------------------------------

  /** A live reader pin on `dir` defers reclamation of its grace-retained
    * files/generations: the grace window covers typical queries, pins
    * cover the long tail (an hours-long scan outliving any reasonable
    * grace). A pin is a sibling file `<dir>.pin.<uuid>` whose mtime a
    * heartbeat refreshes (same machinery and TTL as the writer lease), so
    * a crashed reader's pin ages out instead of blocking reclaim forever.
    * Pins never block INSTALLS — maintenance proceeds and the pinned
    * reader keeps its snapshot; only the deferred delete waits.
    *
    * Arbitration against the DESTRUCTIVE ops (truncate, load overwrite,
    * loadBucketed replacement, the reader-exclusive in-place
    * compactBucketed fold)
    * is a publish-then-check handshake, the same shape the writer lease
    * uses: the pin file is created FIRST, then the table's lease is read
    * — a live lease held by a destructive op means that op already passed
    * its pin check, so the pin withdraws and throws. Symmetrically the
    * destructive op checks pins AFTER acquiring its lease. Whatever the
    * interleave, at least one side observes the other's published file:
    * a pin created before the op's check is seen and refuses the op; a
    * pin created after it sees the op's (already-held) lease and refuses
    * itself. Ordinary maintenance leases (append/compact/delete/vacuum)
    * never block a pin — their installs grace-retain, so the pinned
    * snapshot survives them.
    */
  def withReaderPin[T](spark: SparkSession, path: String)(body: => T): T = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pin = new Path(hp.getParent,
      hp.getName + ".pin." + java.util.UUID.randomUUID().toString)
    val out = fs.create(pin, false)
    try out.write(("{\"holder\":\"reader\",\"pid\":\"" +
      java.lang.ProcessHandle.current().pid() + "\"}")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // publish-then-check: only AFTER the pin is visible, look for a live
    // destructive-op lease (age under TTL, op ∈ {load, truncate})
    val lease = new Path(hp.getParent, hp.getName + ".lease")
    val destructive = scala.util.Try(fs.getFileStatus(lease)).toOption
      .filter(st => System.currentTimeMillis() - st.getModificationTime < leaseTtlMs)
      .flatMap(_ => scala.util.Try(
        org.json4s.jackson.Serialization.read[Map[String, String]](
          readSmallText(fs, lease))).toOption)
      .flatMap(_.get("op"))
      .exists(o => o == "truncate" || o == "load" ||
        o == "loadBucketed" || o == "compactBucketed")
    if (destructive) {
      scala.util.Try(fs.delete(pin, false))
      throw new IllegalStateException(
        s"withReaderPin: $path is being truncated, overwritten, or folded " +
          "in place (live destructive-op lease) — there will be no stable " +
          "snapshot to pin; retry after the operation completes")
    }
    val stopHb = startHeartbeat(fs, pin, s"graft-reader-pin-${hp.getName}")
    try body
    finally {
      stopHb()
      scala.util.Try(fs.delete(pin, false))
    }
  }

  /** The whole-table destructive ops ([[truncate]], [[load]]'s overwrite)
    * cannot defer around a pin the way reclaim does — they refuse loudly
    * while a live pin exists, honoring the pin contract ("the pinned
    * reader keeps its snapshot") the only way a full-directory delete can.
    */
  private def requireNoLivePins(fs: FileSystem, hp: Path, op: String): Unit =
    if (livePinsExist(fs, hp)) sys.error(
      s"$op: $hp is pinned by a live reader (sibling .pin.* file) — this " +
        "operation deletes the data the pin protects; retry after the " +
        "reader releases (a crashed reader's pin expires with the lease TTL)")

  /** Whether any LIVE reader pin (age under the lease TTL) exists for
    * `dir` — reclaim defers while one does; stale pins (crashed readers)
    * are cleaned up in passing.
    */
  private def livePinsExist(fs: FileSystem, dir: Path): Boolean = {
    val parent = dir.getParent
    if (parent == null || !fs.exists(parent)) return false
    val now = System.currentTimeMillis()
    // glob, not a full parent listing: a warehouse dir can hold thousands
    // of sibling tables ('.' is literal in Hadoop globs, and pin UUIDs
    // contain no glob metacharacters)
    val pins = scala.util.Try(
      fs.globStatus(new Path(parent, dir.getName + ".pin.*"))).toOption
      .map(_.toSeq).getOrElse(Seq.empty)
    pins.exists { s =>
      s.isFile && {
        val live = now - s.getModificationTime < leaseTtlMs
        if (!live) scala.util.Try(fs.delete(s.getPath, false))
        live
      }
    }
  }

  /** Delete grace-expired retired files and drop their manifest entries.
    * Crash-safe order: files first, manifest second — a crash in between
    * leaves retired entries pointing at missing files, which
    * [[manifestConsistent]] tolerates and the next reclaim clears. Runs
    * under the lease at the entry AND exit of every retiring op (so a
    * zero grace reproduces eager deletion), and via [[vacuum]].
    */
  private def reclaimRetired(fs: FileSystem, hp: Path, graceMs: Long): Int = {
    readManifest(fs, hp).map { m =>
      if (m.retired.isEmpty) 0
      else if (livePinsExist(fs, hp)) 0 // a pinned reader defers the delete
      else {
        val now = System.currentTimeMillis()
        val (expired, kept) = m.retired.partition(r => now - r.retiredMs >= graceMs)
        if (expired.nonEmpty) {
          expired.foreach { r =>
            val p = new Path(hp, r.name)
            if (fs.exists(p)) fs.delete(p, false)
            crashPoint("retire:reclaimed")
          }
          writeManifestFile(fs, hp, m.copy(retired = kept))
        }
        expired.size
      }
    }.getOrElse(0)
  }

  /** Reclaim retired files older than `graceMs` (default: the configured
    * grace window; 0 = reclaim everything now). Holds the writer lease —
    * reclamation deletes data files, so it must never race an install.
    * Returns the number of files reclaimed.
    */
  def vacuum(spark: SparkSession, path: String,
             graceMs: Long = retireGraceMs): Int = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLease(fs, hp, "vacuum") {
      val n = reclaimRetired(fs, hp, graceMs)
      if (n > 0) invalidateRead(spark, path)
      n
    }
  }

  /** The rewrites' install (full compact, incremental compact's fold,
    * deleteRange): one footer pass over the staged tmp dir's files, then
    * [[installGeneration]] of `base`'s live set minus `replaced` plus
    * the staged files, `replaced` grace-retained. Returns the new live
    * set.
    */
  private def installRewrite(spark: SparkSession, fs: FileSystem, hp: Path,
                             tmp: Path, base: TsManifest,
                             replaced: Seq[String], tag: String): Seq[TsFileEntry] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // one footer pass serves manifest stats AND the zero-row drop (the
    // same fold appendBody's staging does): a rewrite that empties a
    // file — deleteRange removing every row a file held — must not
    // install a stat-less 0-row entry that degrades every future
    // metadata-only decision. A footer-read failure keeps the file.
    // EXCEPTION: a rewrite that empties the whole TABLE (delete-all)
    // keeps ONE zero-row file as the schema anchor — the reference's
    // delete-everything leaves a readable empty table (drop.sql), and a
    // file-less governed dir has no schema source; the anchor's lone
    // stat-less entry folds away at the table's next non-empty rewrite.
    val stagedListing = fs.listStatus(tmp)
      .filter(s => s.isFile && isDataFile(s.getPath.getName)).toSeq
    val scanned = scanEntriesWithRows(conf, base.ts, stagedListing, loaded = true)
    val (zeros, nonzero) = scanned.partition(_._2.contains(0L))
    val gone = replaced.toSet
    val kept =
      if (nonzero.isEmpty && base.files.forall(e => gone(e.name)) && zeros.nonEmpty)
        // the anchor's stats are the EMPTY-SET sentinel (min = +∞,
        // max = −∞), which is vacuously correct for every consumer — a
        // range scan always prunes it (MinValue >= fromNs is false), the
        // metadata tail check never raises the tail from it, and every
        // delete range is disjoint from it (carried untouched). A
        // stat-LESS entry here would instead disable every metadata-only
        // decision on the table forever — the tail check degrades to a
        // per-append max(ts) scan and ingestAppendRetained's retention
        // silently never runs (second r13 review pass, finding #2).
        zeros.take(1).map { case (e, r) =>
          (e.copy(minNs = Some(Long.MaxValue), maxNs = Some(Long.MinValue)), r)
        }
      else nonzero
    val entries = kept.map(_._1)
    val keptNames = entries.map(_.name).toSet
    zeros.filterNot(z => keptNames(z._1.name)).foreach { case (e, _) =>
      fs.delete(new Path(tmp, e.name), false)
    }
    // job-unique part names make a collision with an existing file a sign
    // of corruption (the same job wrote both) — stop, never overwrite
    val existing = fs.listStatus(hp).filter(_.isFile)
      .map(_.getPath.getName).toSet
    entries.foreach { e =>
      if (existing(e.name)) sys.error(
        s"$tag: staged file ${e.name} collides with an existing " +
          s"file in $hp — refusing to install")
    }
    installGeneration(fs, hp, tmp, GenMarker(base.ts, entries.map(_.name), replaced),
      Some(base), entries, tag).fold(Seq.empty[TsFileEntry])(_.files)
  }

  /** The one install of a clustered table: the rewrites
    * ([[installRewrite]]) and the appends ([[appendBody]]) all commit
    * here. The staged files sit in the sibling tmp dir, `entries` are
    * their manifest entries from the caller's one footer pass (nothing
    * is listed or scanned again). The gen marker commits them (the
    * roll-forward point, [[recoverGen]]); a first batch's install then
    * creates the table dir (`createDir` — so a table exists only from
    * its first committed file on, never as an empty dir that readers
    * cannot infer a schema from); the files move INTO the live directory
    * under their own job-unique names; the
    * manifest installs atomically ([[nextGeneration]] of `base`; none
    * when `base` is None — an ungoverned dir stays manifest-less); the
    * marker's stream commit, if any, advances the commit log (`log`,
    * when the caller read it under this lease); the marker clears.
    * Replaced files never move — an in-flight reader that listed the old
    * generation keeps scanning it until the grace expires (the reader
    * half of the reference's MURSIW contract, imcs.c:879-905);
    * manifest-governed readers flip to the new generation at the
    * manifest rename. Returns the installed manifest.
    */
  private def installGeneration(fs: FileSystem, hp: Path, tmp: Path,
                                marker: GenMarker, base: Option[TsManifest],
                                entries: Seq[TsFileEntry], tag: String,
                                log: Option[StreamCommits] = None,
                                createDir: Boolean = false): Option[TsManifest] = {
    writeSmallFileAtomic(fs, genMarkerPath(hp.toString),
      org.json4s.jackson.Serialization.write(marker))
    crashPoint(s"$tag:gen-marker")
    if (createDir) fs.mkdirs(hp)
    entries.foreach { e =>
      if (!fs.rename(new Path(tmp, e.name), new Path(hp, e.name)))
        sys.error(s"$tag: cannot move staged file ${e.name} from $tmp into $hp")
      crashPoint(s"$tag:gen-moved")
    }
    val installed = base.map(nextGeneration(_, marker, entries))
    installed.foreach(writeManifestFile(fs, hp, _))
    crashPoint(s"$tag:gen-manifest")
    marker.stream.foreach { sc =>
      commitStream(fs, hp, sc, log.getOrElse(readStreamCommits(fs, hp)))
      crashPoint("stream:committed")
    }
    fs.delete(genMarkerPath(hp.toString), false)
    fs.delete(tmp, true)
    installed
  }

  /** The manifest a generation install leaves: `m`'s live files minus the
    * marker's replaced and new names, plus `entries`, with the replaced
    * files grace-retained from now.
    */
  private def nextGeneration(m: TsManifest, gm: GenMarker,
                             entries: Seq[TsFileEntry]): TsManifest = {
    val gone = (gm.replaced ++ gm.newFiles).toSet
    val now = System.currentTimeMillis()
    TsManifest(1, gm.ts, m.files.filterNot(e => gone(e.name)) ++ entries,
      m.retired ++ gm.replaced.map(n => RetiredEntry(n, now)))
  }

  /** Crash recovery for the generation install, run at entry of every
    * mutating op (before the legacy swap recoveries): a gen marker means
    * the new files were fully staged — roll FORWARD (finish moving them
    * in, install the manifest when the marker says one is kept — its
    * entries from one footer pass with the marker's `loaded` flag —
    * then record the marker's stream commit); staging without a marker
    * is uncommitted garbage. Every step is idempotent, and no step ever
    * deletes a replaced (old-generation) file — those wait for reclaim
    * past the grace.
    */
  private def recoverGen(spark: SparkSession, fs: FileSystem, path: String): Unit = {
    val hp = new Path(path)
    val marker = genMarkerPath(path)
    val tmp = genTmpPath(path)
    if (fs.exists(marker)) {
      // atomically-written marker: unreadable means external corruption
      val gm = scala.util.Try(org.json4s.jackson.Serialization.read[GenMarker](
        readSmallText(fs, marker))).getOrElse(
        sys.error(s"gen recovery: unreadable marker $marker — inspect manually"))
      if (!fs.exists(hp)) fs.mkdirs(hp) // a first batch killed before its dir
      gm.newFiles.foreach { n =>
        val dst = new Path(hp, n)
        if (!fs.exists(dst)) {
          val src = new Path(tmp, n)
          if (!fs.exists(src) || !fs.rename(src, dst))
            sys.error(s"gen recovery: staged file $n present in neither " +
              s"$tmp nor $hp — cannot roll forward; inspect manually")
        }
      }
      if (gm.manifest) {
        val mOpt = readManifest(fs, hp)
        val isNew = mOpt.exists(m =>
          gm.newFiles.forall(n => m.files.exists(_.name == n)) &&
            gm.replaced.forall(n => !m.files.exists(_.name == n)))
        if (!isNew) {
          val newSet = gm.newFiles.toSet
          val staged = fs.listStatus(hp)
            .filter(s => s.isFile && newSet(s.getPath.getName)).toSeq
          val entries = scanEntries(spark.sparkContext.hadoopConfiguration, gm.ts,
            staged, loaded = gm.loaded)
          writeManifestFile(fs, hp, nextGeneration(
            mOpt.getOrElse(TsManifest(1, gm.ts, Seq.empty)), gm, entries))
        }
      }
      gm.stream.foreach(commitStream(fs, hp, _, readStreamCommits(fs, hp)))
      fs.delete(marker, false)
      if (fs.exists(tmp)) fs.delete(tmp, true)
    } else if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** TABLE_load: ingest range-clustered and sorted by (keys, ts) — the
    * reference's `order by <timestamp>` load (imcs.c:4265), which pays a
    * B-tree build per column at ingest so that range scans descend instead
    * of scanning. The Spark analog pays ONE range shuffle at ingest so
    * that each output file covers a disjoint (keys, ts) slice — parquet
    * min/max stats then prune rangeScan to the touched slice (measured,
    * PLANS.md round 8: ~6% of rows read for a 1-day cut of a 30-day
    * int64-ns layout vs 100% for an unclustered or NTZ one). A
    * sortWithinPartitions alone leaves round-robin input partitions each
    * spanning the FULL ts range — every file's min/max covers everything
    * and pruning is a no-op, precisely the layouts that break at 100 TB.
    * Single-partition frames skip the shuffle (nothing to cluster).
    */
  def load(df: DataFrame, path: String, keys: Seq[String], ts: String): Unit = {
    val spark = df.sparkSession
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // load replaces the whole layout — the most destructive mutation, so
    // it holds the writer lease like every other lifecycle op (racing a
    // compact's staged swap unleased could resurrect pre-load files or
    // tear the fresh layout)
    withWriterLease(fs, hp, "load") {
      recoverMutations(spark, fs, path)
      if (fs.exists(hp)) requireNoLivePins(fs, hp, "load")
      writeClustered(df, path, (keys :+ ts).map(col), plannedPartitions(df))
      // the load layout's ts manifest: one footer pass at write time buys
      // every future rangeScan its file pruning without driver footer RPCs,
      // and records the layout-membership compactIncremental folds against
      writeManifest(df.sparkSession, path, ts)
      invalidateRead(df.sparkSession, path)
    }
  }

  /** The load layout writer: range-cluster into `parts` files (skipped
    * when there is nothing to cluster), sort within each, write.
    */
  private def writeClustered(df: DataFrame, path: String, cols: Seq[Column],
                             parts: Int,
                             mode: SaveMode = SaveMode.Overwrite): Unit = {
    // a single-partition frame targeting one file has nothing to cluster;
    // a MULTI-partition frame targeting one file still must fold (compact).
    // The partition-count probe reads the plan and runs no job
    // (plannedPartitions)
    val clustered =
      if (parts <= 1 && plannedPartitions(df) <= 1) df
      else df.repartitionByRange(math.max(1, parts), cols: _*)
    clustered.sortWithinPartitions(cols: _*)
      .write.mode(mode).parquet(path)
  }

  /** Compact an appended table back to the load layout. Steady append
    * ingest accumulates one file set per batch; at scale the FILE COUNT —
    * footer reads, listing, per-file task scheduling — starts to dominate
    * scans long before data volume does, and per-file ts ranges from many
    * small batches interleave less cleanly than one clustered rewrite.
    * The reference never fragments (B-tree pages absorb appends in place,
    * btree.c:644-745); the parquet analog is this explicit rewrite:
    * range-recluster on (keys, ts) into byte-proportional files of
    * ~targetBytes. The new layout is fully written to a sibling tmp dir
    * first, so any failure before the install leaves the original
    * intact; the install is the generation install
    * ([[installGeneration]]), which the next op's entry rolls forward
    * after a crash. Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, path: String, keys: Seq[String], ts: String,
              targetBytes: Long = 128L << 20): (Int, Int) =
    clusteredOp(spark, path, "compact") { (fs, hp) =>
      guardCompactable(fs, hp)
      fullCompact(spark, fs, hp, path, keys, ts, targetBytes)
    }

  /** [[compact]]'s body, run under its entry — and under
    * [[compactIncremental]]'s when that table has no trustworthy manifest.
    */
  private def fullCompact(spark: SparkSession, fs: FileSystem, hp: Path,
                          path: String, keys: Seq[String], ts: String,
                          targetBytes: Long): (Int, Int) = {
    def dataFiles(p: Path): Array[FileStatus] =
      fs.listStatus(p).filter(s => s.isFile && isDataFile(s.getPath.getName))
    // the rewrite's input is the LIVE generation: a governed manifest's
    // live set (retired files excluded — folding them would duplicate
    // rows). An UNGOVERNED (or stale-manifest, retired-free) dir is
    // ADOPTED first — manifest written BEFORE staging — so engine readers
    // racing the install see the old generation via the manifest + marker
    // allowance instead of a torn old+new mix during the move window (the
    // pre-r12 dir swap was trivially atomic here; the in-place install
    // buys its reader atomicity with the manifest; one footer pass is the
    // documented adoption cost)
    val listing = dataFiles(hp)
    val mOpt = liveEntries(fs, hp, Some(ts)).orElse {
      writeManifest(spark, path, ts)
      liveEntries(fs, hp, Some(ts))
    }
    val live = mOpt.getOrElse(LiveSet(hp,
      TsManifest(1, ts, listing.toSeq.map(s =>
        TsFileEntry(s.getPath.getName, s.getLen, None, None, loaded = true))),
      listing.map(s => s.getPath.getName -> s).toMap))
    val liveNames = live.names
    // an EMPTY live set (every row deleted, retired files reclaimed) has
    // nothing to fold (ADVICE r12, low)
    if (liveNames.isEmpty) return (0, 0)
    val liveBytes = live.files.map(_.bytes).sum
    val parts = math.max(1L, (liveBytes + targetBytes - 1) / targetBytes).toInt
    val tmp = genTmpPath(path) // the entry's recoverGen cleared it
    writeClustered(liveFrame(spark, live, liveNames),
      tmp.toString, (keys :+ ts).map(col), parts)
    crashPoint("full:staged")
    val after = installRewrite(spark, fs, hp, tmp, live.manifest,
      replaced = liveNames, tag = "full")
    reclaimRetired(fs, hp, retireGraceMs)
    invalidateRead(spark, path)
    (liveNames.length, after.length)
  }

  /** deleteRange's staging-provenance tag: a sibling marker file created
    * BEFORE the rewrite dir is written and removed after the swap. It is
    * the discriminator the dot-less `__tmp` suffix cannot provide by
    * name: a TAGGED `__tmp` is provably this engine's delete rewrite
    * (adopt when it is the only copy, clean otherwise); an UNTAGGED one
    * is unknown provenance — a user's own sibling table, or a strand
    * from the pre-tag legacy protocol — and is never touched silently
    * (deleteRange refuses loudly with remediation instead).
    */
  private def deleteStagingTag(path: String): Path = new Path(path + "__tmp.graft")

  /** deleteRange's legacy (pre-r12) entry recovery (mirrors
    * recoverCompact's no-marker branch). With the live dir present, a
    * surviving `.delete.old` is the superseded copy of an
    * already-completed swap — cleanup, not data. The PRE-swap legacy
    * protocol (delete-then-rename) could crash with the rewrite stranded
    * in `__tmp` as the ONLY copy (no live dir, no .old) — adopt it rather
    * than discard it; a re-delete of the same range is idempotent over
    * the adopted content.
    */
  private def recoverDelete(fs: FileSystem, path: String): Unit = {
    val p = new Path(path)
    val tmp = new Path(path + "__tmp")
    val old = new Path(path + ".delete.old")
    val tag = deleteStagingTag(path)
    if (!fs.exists(p) && fs.exists(old) && !fs.rename(old, p))
      sys.error(s"deleteRange: cannot recover $old back to $path")
    if (fs.exists(p) && fs.exists(old)) fs.delete(old, true)
    if (fs.exists(tmp) && fs.exists(tag)) {
      // engine-tagged staging: the only copy is adopted, anything else
      // is an uncommitted rewrite — garbage
      if (!fs.exists(p)) {
        if (!fs.rename(tmp, p))
          sys.error(s"deleteRange: cannot adopt stranded rewrite $tmp at $path")
      } else fs.delete(tmp, true)
    }
    // untagged tmp: left strictly alone (see deleteStagingTag)
    if (fs.exists(tag) && !fs.exists(tmp)) fs.delete(tag, false)
  }

  /** Entry recovery for EVERY mutating op on a clustered path: complete
    * or clean any predecessor's crash state from BOTH swap families
    * before new work. This must not be limited to the compact flavors —
    * an append or load that ignores a committed compact marker would
    * have its fresh files swept aside (and deleted) when the NEXT
    * compact rolls the stale staged layout forward, and an append after
    * a deleteRange mid-swap crash would recreate the live dir so the
    * next delete treats `.delete.old` — the only full copy — as
    * superseded cleanup. Silent data loss both ways; recovery first.
    */
  private def recoverMutations(spark: SparkSession, fs: FileSystem,
                               path: String): Unit = {
    sweepManifestStaging(fs, new Path(path))
    recoverStreamPending(fs, path, clustered = true)
    recoverGen(spark, fs, path)
    recoverCompact(fs, path)
    recoverDelete(fs, path)
  }

  /** The entry of every clustered op that keeps the table (append, the
    * stream appends, both compacts, deleteRange): writer lease, entry
    * recovery, then reclaim of grace-expired retired files — any
    * lease-holding op reclaims, so retention never outlives the grace for
    * long. Runs once per op: a body never enters another op's entry,
    * whose recovery would sweep the caller's own staging dir.
    * [[load]] and [[truncate]] replace the whole table and take
    * the lease and recovery without the reclaim.
    */
  private def clusteredOp[T](spark: SparkSession, path: String, op: String)(
      body: (FileSystem, Path) => T): T = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLease(fs, hp, op) {
      recoverMutations(spark, fs, path)
      reclaimRetired(fs, hp, retireGraceMs)
      body(fs, hp)
    }
  }

  /** Resolve an ORPHANED manifest-staging sibling (a writer crashed
    * inside writeSmallFileAtomic) at every mutator's entry, both layouts
    * — under the caller's lease no replace can be in flight, and leaving
    * the orphan would tax every manifest-less read with liveEntries'
    * replace-in-flight wait forever (r13 review finding #4). Two crash
    * states look identical by name but need OPPOSITE treatment (second
    * r13 review pass, finding #1):
    *  - manifest PRESENT: the staging is a superseded or torn draft —
    *    delete it (the live manifest is authoritative either way);
    *  - manifest ABSENT: on the delete-then-rename fallback path the
    *    staging may be the SOLE surviving copy — including the retired
    *    ledger, whose loss would resurrect grace-retained files as live
    *    duplicates at the next bootstrap. A staging that parses as a
    *    manifest rolls FORWARD (rename into place); only an unparseable
    *    (torn mid-write, so no replace was in flight and no manifest
    *    ever existed here) one is garbage.
    */
  private def sweepManifestStaging(fs: FileSystem, hp: Path): Unit = {
    val staging = new Path(hp, "." + ManifestName + ".staging")
    if (!scala.util.Try(fs.exists(staging)).getOrElse(false)) return
    val target = new Path(hp, ManifestName)
    if (fs.exists(target)) { fs.delete(staging, false); return }
    val parses = scala.util.Try(
      org.json4s.jackson.Serialization.read[TsManifest](
        readSmallText(fs, staging))).isSuccess
    if (parses) {
      if (!fs.rename(staging, target))
        sys.error(s"manifest recovery: cannot roll staged manifest " +
          s"$staging forward to $target")
    } else fs.delete(staging, false)
  }

  /** Crash recovery shared by [[compact]] and [[compactIncremental]] —
    * run at entry, before any new work:
    *  - a COMMIT MARKER (`path + ".compact.commit"`) means an incremental
    *    compact was fully staged and must roll FORWARD: finish moving the
    *    marker's cold files into the staged dir, complete the two-rename
    *    swap, clean up (every step idempotent);
    *  - a staged tmp dir WITHOUT a marker is uncommitted garbage — delete;
    *  - a missing live dir with a `.compact.old` sibling is the legacy
    *    full-compact mid-swap crash — move the original back.
    */
  private def recoverCompact(fs: FileSystem, path: String): Unit = {
    val hp = new Path(path)
    val old = new Path(path + ".compact.old")
    val tmp = new Path(path + ".compact.tmp")
    val marker = new Path(path + ".compact.commit")
    if (fs.exists(marker)) {
      // the marker is written ATOMICALLY (stage+rename), so an unreadable
      // one means external corruption, not a torn write — and it must
      // NEVER be read as "zero cold files": rolling forward with an empty
      // cold list would rename the live dir (cold data and all) aside and
      // delete it
      val coldNames: Option[Seq[String]] = scala.util.Try(
        org.json4s.jackson.Serialization.read[Seq[String]](
          readSmallText(fs, marker))).toOption
      coldNames match {
        case Some(cold) =>
          if (fs.exists(tmp)) {
            cold.foreach { n =>
              val src = new Path(hp, n)
              val dst = new Path(tmp, n)
              if (fs.exists(src) && !fs.exists(dst) && !fs.rename(src, dst))
                sys.error(s"compact recovery: cannot move cold file $src to $dst")
            }
            if (fs.exists(old)) fs.delete(old, true)
            if (fs.exists(hp) && !fs.rename(hp, old))
              sys.error(s"compact recovery: cannot move $path aside")
            if (!fs.rename(tmp, hp))
              sys.error(s"compact recovery: cannot install staged layout at $path")
            fs.delete(old, true)
          } else {
            // the swap completed before the crash — only cleanup remained
            if (fs.exists(old)) fs.delete(old, true)
          }
          fs.delete(marker, false)
        case None if !fs.exists(hp) && fs.exists(tmp) =>
          // live→old already happened, which the flow only does AFTER all
          // cold moves completed — tmp provably holds cold + folded, so
          // finishing the swap is lossless even without the cold list
          if (!fs.rename(tmp, hp))
            sys.error(s"compact recovery: cannot install staged layout at $path")
          if (fs.exists(old)) fs.delete(old, true)
          fs.delete(marker, false)
        case None if fs.exists(hp) && !fs.exists(tmp) =>
          // swap completed; only cleanup remained
          if (fs.exists(old)) fs.delete(old, true)
          fs.delete(marker, false)
        case None if !fs.exists(hp) && !fs.exists(tmp) =>
          // nothing staged, nothing live: the legacy `.compact.old`
          // fallback is the only recoverable source — restore it if it
          // exists, otherwise there is genuinely nothing left here
          if (fs.exists(old)) {
            if (!fs.rename(old, hp))
              sys.error(s"compact recovery: cannot restore $old back to $path")
            fs.delete(marker, false)
          } else sys.error(s"compact recovery: unreadable commit marker " +
            s"$marker and no table, staging, or .compact.old data at " +
            s"$path — nothing to recover from; inspect manually")
        case None =>
          sys.error(s"compact recovery: unreadable commit marker $marker " +
            s"with both $path and its staging dir present — cannot " +
            "determine which cold files moved; inspect and resolve " +
            "manually (the marker should hold a JSON list of cold names)")
      }
    } else {
      if (fs.exists(tmp)) fs.delete(tmp, true) // uncommitted staging
      if (!fs.exists(hp) && fs.exists(old) && !fs.rename(old, hp))
        sys.error(s"compact: cannot recover $old back to $path")
      // live + old with no marker: the swap installed but the crash hit
      // before swapInstall's final delete — old is the SUPERSEDED copy.
      // Consume it here, not lazily: a later truncate that removed the
      // live dir would otherwise turn this leftover into a resurrection
      // source for the restore branch above.
      else if (fs.exists(hp) && fs.exists(old)) fs.delete(old, true)
    }
  }

  /** Partition-scoped compact: fold ONLY the files appended since the
    * load layout was last established (`loaded=false` in the manifest)
    * into clustered files; the cold load-layout files are carried over by
    * RENAME — metadata operations, bytes untouched, names and lengths
    * preserved. This is the 100 TB maintenance shape: the reference never
    * pays a full rewrite because its B-tree pages absorb appends in place
    * (btree.c:644-745), and a petabyte table cannot re-cluster wholesale
    * every cycle — steady-state work here is proportional to the APPENDED
    * data, not the table. Appends only land at/above the stored ts tail
    * (the [[append]] guard), so folding them alone preserves the global
    * range-disjointness pruning needs.
    *
    * Crash safety + reader isolation (the generation install,
    * [[installGeneration]]): the folded files are fully staged in a
    * sibling tmp dir; the gen marker commits (roll-forward point,
    * [[recoverGen]]); staged files move INTO the live dir under their
    * job-unique names; the manifest — the live-set source of truth —
    * installs atomically with the folded hot files live and the replaced
    * ones grace-retained as `retired`. Cold load-layout files are NOT
    * TOUCHED AT ALL, and replaced files never move, so an in-flight
    * reader that listed the old generation finishes on its snapshot (the
    * reader half of the reference's MURSIW contract, imcs.c:879-905);
    * manifest-governed readers flip atomically at the manifest rename.
    * Retired files are reclaimed by the next lease-holding op past the
    * grace window ([[retireGraceMs]]) or by [[vacuum]].
    *
    * Falls back to the full [[compact]] when there is no trustworthy
    * manifest (absent, stale, or untracked data files present). Content
    * neither compact flavor may touch — any subdirectory, or hidden
    * artifacts that are not the engine's own sidecars — stops BOTH loudly
    * at entry (guardCompactable). Returns (liveBefore, liveAfter); a
    * table with nothing appended is a no-op.
    *
    * Single-writer maintenance op (like [[compact]]). The protocol needs
    * only FILE renames (atomic on HDFS/ABFS/POSIX; small-object copies on
    * S3A — viable, unlike the directory renames the pre-r12 swap needed),
    * but on object stores a table format with metadata swaps remains the
    * better host for compaction.
    *
    * Job budget: on a governed table, the only Spark jobs are those of
    * the staged rewrite's write; building its input launches none.
    */
  def compactIncremental(spark: SparkSession, path: String, keys: Seq[String],
                         ts: String, targetBytes: Long = 128L << 20): (Int, Int) =
    clusteredOp(spark, path, "compactIncremental") { (fs, hp) =>
      guardCompactable(fs, hp)
      liveEntries(fs, hp, Some(ts)) match {
        case None => fullCompact(spark, fs, hp, path, keys, ts, targetBytes)
        case Some(m) if m.files.forall(_.loaded) => (m.files.length, m.files.length)
        case Some(m) =>
          val hot = m.files.filterNot(_.loaded)
          // the cold load-layout files are NOT TOUCHED AT ALL — they stay
          // live at their paths, carried in the manifest verbatim (the
          // pre-r12 swap renamed them through a staging dir, which broke
          // in-flight readers' paths; zero moves is both the isolation
          // and less rename work)
          val bytes = hot.map(_.bytes).sum
          val parts = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
          val tmp = genTmpPath(path) // the entry's recoverGen cleared it
          writeClustered(liveFrame(spark, m, hot.map(_.name)),
            tmp.toString, (keys :+ ts).map(col), parts)
          crashPoint("incr:staged")
          val after = installRewrite(spark, fs, hp, tmp, m.manifest,
            replaced = hot.map(_.name), tag = "incr")
          reclaimRetired(fs, hp, retireGraceMs)
          invalidateRead(spark, path)
          (m.files.length, after.length)
      }
    }

  /** TABLE_append: rows with ts >= from appended (imcs--1.1.sql:211-217).
    * `from` is a Column bound so it works for both Timestamp and int64-ns
    * encodings of the timestamp column.
    *
    * Like the reference's insert trigger (imcs.c:4617-4740; user_guide
    * "When data is loaded..."), an append BELOW the stored series tail is
    * an error, not a silent corruption: per-key series positions and
    * range-scan pruning both assume the timestamp column only grows.
    *
    * The stored tail comes from the MANIFEST when one is present,
    * consistent with the live listing, and every entry carries ts stats —
    * max over the recorded per-file maxima, a metadata lookup that reads
    * ZERO data bytes (TablesSpec proves it by garbaging the stored data
    * files in place). Only a manifest-less or stat-less table pays the
    * fallback: one max(ts) column scan over the stored side (on a
    * Delta/Iceberg deployment that too is a metadata lookup). The
    * incoming side is one small min() aggregate either way.
    */
  def append(df: DataFrame, path: String, ts: String, from: Column): Unit =
    clusteredOp(df.sparkSession, path, "append") { (fs, hp) =>
      appendBody(fs, hp, df.filter(col(ts) >= from), path, ts, None)
      invalidateRead(df.sparkSession, path)
    }

  /** The append protocol, run under the caller's entry ([[append]],
    * [[appendStreamBatch]]): tail check, staging into the gen tmp dir,
    * one footer pass, then the generation install ([[installGeneration]])
    * that commits the batch — and `stream`'s batch id with it, added to
    * the commit log the caller read under this lease. Returns the
    * installed files' names.
    */
  private def appendBody(fs: FileSystem, hp: Path, incoming: DataFrame,
                         path: String, ts: String,
                         stream: Option[(StreamCommit, StreamCommits)]): Seq[String] = {
    val spark = incoming.sparkSession
    val dirExists = fs.exists(hp)
    val preFiles =
      if (dirExists)
        fs.listStatus(hp).filter(s => s.isFile && isDataFile(s.getPath.getName)).toSeq
      else Seq.empty
    // ONE manifest read serves the tail check, the bootstrap decision and
    // the extension below — under the writer lease nothing else can move
    // it (the entry's reclaim may have rewritten it, hence read AFTER)
    val mEntry = if (dirExists) readManifest(fs, hp) else None
    // The METADATA tail check is DEFERRED past staging (r18, guide §2.4
    // "remove jobs outright"): the staging footer pass below records each
    // new file's exact min/max ts on the same epoch-ns scale the manifest
    // uses, so the incoming min(ts) the check needs is free there — the
    // separate per-append `agg(min)` Spark job this used to launch (one
    // task-launch floor per micro-batch on every stream/maintenance
    // append) is gone. Staging before checking mutates nothing: the tmp
    // dir is a sibling the next op's entry sweeps, the marker has not
    // been written, and the throw happens before any install step.
    // Only the manifest-less fallback (needs the STORED max — not in the
    // staged footers) still runs its pre-staging scan job.
    val deferredTailNs: Option[Long] =
      if (preFiles.isEmpty) None
      else {
        // manifest-derived tail in epoch-ns; None → fall back to the scan.
        // An EMPTY manifest-tracked table has no tail — nothing to violate.
        // (`preFiles.nonEmpty`, not dir existence: the stream bridge creates
        // the dir with only its commit sidecar before the first batch.)
        val manifestTail: Option[Option[Long]] =
          mEntry.filter(_.ts == ts)
            .filter(manifestConsistent(_, preFiles))
            .flatMap { m =>
              if (m.files.isEmpty) Some(None)
              else if (m.files.forall(_.maxNs.isDefined))
                Some(Some(m.files.flatMap(_.maxNs).max))
              else None // stat-less entries: the tail is unknowable from metadata
            }
        manifestTail match {
          case Some(tailNsOpt) => tailNsOpt
          case None =>
            // one row; null mn/mx (empty side) means no violation is possible
            val viol = incoming.agg(min(col(ts)).as("mn"))
              .crossJoin(snapshot(spark, path).agg(max(col(ts)).as("mx")))
              .filter(col("mn") < col("mx"))
              .head(1)
            if (viol.nonEmpty)
              throw new IllegalStateException(
                s"out-of-order append: incoming min($ts)=${viol.head.get(0)} is below " +
                  s"the stored series tail max($ts)=${viol.head.get(1)} — the reference " +
                  "rejects appends below the loaded tail (imcs.c:4617-4740)")
            None
        }
      }
    // STAGE-THEN-INSTALL: the batch clusters into the sibling gen tmp
    // dir and commits through the generation install, like every rewrite
    // — so engine reads stay atomic through the move window (liveEntries
    // allows the marker's names and serves the pre-batch manifest), and a
    // crash past the marker rolls the batch FORWARD at the next op's
    // entry, its stream commit included. Clustering within the batch
    // keeps each new file's ts min/max tight (batches are ts-disjoint
    // across time by the tail guard above). Also keeps Spark committer
    // scratch out of the live directory.
    val tmp = genTmpPath(path) // the entry's recoverGen cleared it
    // SIZE-DERIVED staging file count (r18, guide §6 "aim for output
    // files in the 128 MB–1 GB range"): the old parts = input partition
    // count wrote one file PER UPSTREAM PARTITION whatever its size — 8
    // near-empty files per micro-batch at bench scale, and at 100 TB a
    // batch arriving in 200k scan partitions would stage 200k files into
    // the manifest per append. Derive parts from the optimizer's byte
    // estimate instead (accurate for cached/file sources), CAPPED by the
    // input partition count so an unknown/overblown estimate can never
    // stage more files than the old behavior — and floor 1. A
    // single-partition target also skips the range-sampling pass the
    // per-batch repartitionByRange otherwise pays. The partition probe
    // reads the plan and runs no job (plannedPartitions).
    val appendTargetBytes = sys.props.get("graft.append.file.bytes")
      .flatMap(_.toLongOption).getOrElse(128L << 20)
    val inputParts = plannedPartitions(incoming)
    val estBytes = incoming.queryExecution.optimizedPlan.stats.sizeInBytes
    writeClustered(incoming, tmp.toString, Seq(col(ts)),
      stagedPartCount(inputParts, estBytes, appendTargetBytes))
    // fresh-table bootstrap: the FIRST batch establishes the manifest
    // from the staging footer pass, so stream-ingested tables are
    // manifest-governed from birth — metadata tail checks and rangeScan
    // file pruning from batch two onward. Its entries are loaded=true
    // like writeManifest's bootstrap: the first batch IS the established
    // layout, not a pending fold. Any later batch's are loaded=false (the
    // set compactIncremental folds).
    val bootstrap = preFiles.isEmpty && mEntry.isEmpty
    // ONE footer pass serves both needs: manifest stats AND the row-less
    // drop. An empty trigger batch stages a 0-row part file whose
    // stat-less manifest entry would permanently degrade the metadata
    // -only tail check to a full max(ts) scan per append — drop files
    // whose footer says rows == 0. A footer-read failure (rows unknown =
    // None) KEEPS the file: dropping possible data on a read error is
    // never allowed; such a file stays stat-less, the conservative
    // pre-existing behavior.
    val entries = scanEntriesWithRows(spark.sparkContext.hadoopConfiguration,
      ts, fs.listStatus(tmp)
        .filter(s => s.isFile && isDataFile(s.getPath.getName)).toSeq,
      loaded = bootstrap).filterNot(_._2.contains(0L)).map(_._1)
    // the deferred metadata tail check (see deferredTailNs above): the
    // staged footers carry exact per-file min(ts) in epoch-ns — their min
    // IS the incoming min the old pre-staging agg job computed (0-row
    // files are already dropped; an empty batch cannot violate). A
    // stat-less staged footer (read failure) falls back to the agg job —
    // the always-correct shape, never a skipped check.
    for (tailNs <- deferredTailNs) {
      val mins = entries.flatMap(_.minNs)
      val mnNs: Option[Long] =
        if (entries.isEmpty) None
        else if (mins.length == entries.length) Some(mins.min)
        else {
          val mnRow = normalizeNsTs(incoming.select(col(ts).as("ts")))
            .agg(min(col("ts")).as("mn")).head()
          if (mnRow.isNullAt(0)) None
          else Some(mnRow.get(0).asInstanceOf[Number].longValue)
        }
      if (mnNs.exists(_ < tailNs)) {
        fs.delete(tmp, true) // nothing installed yet — drop the staging
        throw new IllegalStateException(
          s"out-of-order append: incoming min($ts)=${mnNs.get}ns is below " +
            s"the stored series tail max($ts)=${tailNs}ns (manifest) — the " +
            "reference rejects appends below the loaded tail (imcs.c:4617-4740)")
      }
    }
    crashPoint("append:staged")
    // a batch with no rows installs nothing (an all-empty first batch
    // writes NO manifest — an empty governed table has no schema source,
    // so snapshot would fail on it, ADVICE r12 low; the table bootstraps
    // at the first batch that carries rows); a stream still commits it
    if (entries.isEmpty) {
      fs.delete(tmp, true)
      stream.foreach { case (sc, log) =>
        if (!dirExists) fs.mkdirs(hp) // the sidecar needs its dir
        commitStream(fs, hp, sc, log)
        crashPoint("stream:committed")
      }
      return Nil
    }
    // the collision refusal must run BEFORE the marker durably commits
    // the batch: after the marker, recovery rolls FORWARD keying on
    // fs.exists(dst) — it cannot tell a pre-existing foreign file from an
    // already-moved batch file, so a post-marker refusal would later be
    // "recovered" by adopting the foreign file and dropping the staged
    // one. preFiles IS the current live listing (taken under this lease;
    // only the sibling staging dir has been written since) — no second
    // O(files) directory listing needed
    val existingNames = preFiles.map(_.getPath.getName).toSet
    entries.foreach { e =>
      if (existingNames(e.name)) sys.error(
        s"append: staged file ${e.name} collides with an " +
          s"existing file in $hp — refusing to install")
    }
    // the manifest the install extends: the fresh table's empty one, or
    // the entry manifest when it matches the pre-append listing. One
    // that no longer matches is stale (foreign writer) — drop it before
    // the marker rather than compound the lie (readers and compact fall
    // back gracefully), unless retired files would then surface as live
    // duplicates. A manifest of another ts column is left as it is.
    val base: Option[TsManifest] =
      if (bootstrap) Some(TsManifest(1, ts, Seq.empty))
      else mEntry.filter(_.ts == ts).flatMap { m =>
        if (manifestConsistent(m, preFiles)) Some(m)
        else if (m.retired.nonEmpty) sys.error(
          s"append: manifest at $path no longer matches the live listing but " +
            "grace-retained retired files exist — dropping the manifest would " +
            "surface them as live duplicates; resolve the foreign modification " +
            "(or Tables.vacuum) first")
        else { fs.delete(new Path(hp, ManifestName), false); None }
      }
    installGeneration(fs, hp, tmp,
      GenMarker(ts, entries.map(_.name), Seq.empty, loaded = bootstrap,
        manifest = base.isDefined, stream = stream.map(_._1)),
      base, entries, "append", stream.map(_._2), createDir = !dirExists)
    entries.map(_.name)
  }

  // ---- streaming ingest bridge (insert trigger, imcs.c:4617-4740) ------

  private val StreamCommitsName = "_graft_stream_commits.json"

  private def readStreamCommits(fs: FileSystem, dir: Path): StreamCommits = {
    val p = new Path(dir, StreamCommitsName)
    if (!fs.exists(p)) StreamCommits(Map.empty)
    else scala.util.Try(org.json4s.jackson.Serialization.read[StreamCommits](
      readSmallText(fs, p))).getOrElse(
      sys.error(s"unreadable stream-commit sidecar $p — it is written " +
        "atomically, so this is external corruption; inspect manually"))
  }

  private def writeStreamCommits(fs: FileSystem, dir: Path,
                                 rec: StreamCommits): Unit =
    writeSmallFileAtomic(fs, new Path(dir, StreamCommitsName),
      org.json4s.jackson.Serialization.write(rec))

  /** Advance `sc.streamId`'s high-water mark in the commit log `rec` to
    * `sc.batchId` unless it holds it already — idempotent, so the install
    * and its crash recovery ([[recoverGen]]) share it.
    */
  private def commitStream(fs: FileSystem, dir: Path, sc: StreamCommit,
                           rec: StreamCommits): Unit =
    if (!rec.committed.get(sc.streamId).exists(_ >= sc.batchId))
      writeStreamCommits(fs, dir,
        rec.copy(committed = rec.committed + (sc.streamId -> sc.batchId)))

  /** Roll back a crashed in-flight BUCKETED stream batch: delete data
    * files not in the pending record's pre-listing, prune them from the
    * manifest, and clear the pending record. Runs at entry of EVERY
    * mutating op (via [[recoverMutations]] and [[bucketedOp]]) so
    * maintenance can never fold a half-committed batch into the layout
    * before its replay decides it.
    *
    * A clustered table's batches commit through the generation marker
    * and write no pending record, so one found on a `clustered` table
    * was left by a previous release. Its listing-based form (a non-empty
    * pre-listing, no flag) rolls back as before. Its append-marker form
    * (`markerBased`, or an empty pre-listing, which the flag-less marker
    * records also wrote) is REFUSED: its rollback identity is a marker
    * this release does not read, and an empty pre-listing taken as a
    * listing would delete every data file of the table.
    */
  private def recoverStreamPending(fs: FileSystem, path: String,
                                   clustered: Boolean): Unit = {
    val hp = new Path(path)
    if (!fs.exists(hp) || fs.getFileStatus(hp).isFile) return
    val rec = readStreamCommits(fs, hp)
    rec.pending.foreach { pnd =>
      if (pnd.markerBased.contains(true) || (clustered && pnd.preFiles.isEmpty))
        throw new IllegalStateException(
          s"table $path holds an in-flight stream batch (stream " +
            s"${pnd.streamId}, batch ${pnd.batchId}) recorded by a previous " +
            "release's append-marker protocol, which this release cannot " +
            "roll back; no file was changed. Run one mutating op on the " +
            "table (e.g. Tables.compactIncremental) with the previous " +
            "release — its entry rolls the batch back — then resume the " +
            "stream with this release, which re-appends the batch")
      // the pending record carries the pre-batch listing; anything beyond
      // it is the rolled-back batch. The manifest prune keys on the
      // RECORD, not on this run's extras (idempotent across a crash
      // between the deletes and the prune).
      val pre = pnd.preFiles.toSet
      val extras = fs.listStatus(hp).filter(s => s.isFile &&
        isDataFile(s.getPath.getName) && !pre(s.getPath.getName))
      extras.foreach { s =>
        // a missing file returns false harmlessly (already rolled back)
        // but a FAILED delete must stop the rollback — on the local FS
        // that failure is ALSO a false return (no exception), so check
        // return-plus-exists: clearing the pending record with the
        // batch's data still live would make the replay duplicate every
        // row
        if (!fs.delete(s.getPath, false) && fs.exists(s.getPath))
          sys.error(s"stream rollback: cannot delete ${s.getPath} — " +
            "refusing to clear the pending record; retry")
      }
      crashPoint("stream:rolled-back")
      readManifest(fs, hp).foreach { m =>
        if (m.files.exists(e => !pre(e.name)))
          writeManifestFile(fs, hp,
            m.copy(files = m.files.filter(e => pre(e.name))))
      }
      writeStreamCommits(fs, hp, rec.copy(pending = None))
    }
  }

  /** One streaming micro-batch appended EXACTLY ONCE into a managed
    * clustered layout — the reference's continuous-ingest path
    * (imcs.c:4617-4740) as a Structured Streaming foreachBatch body
    * ([[graft.streaming.Streams.ingestAppend]] is the writeStream
    * wrapper). Under ONE writer lease: a replayed batch (id ≤ the
    * stream's committed high-water mark, e.g. after checkpoint recovery)
    * is SKIPPED; otherwise the batch appends through the ordered-ingest
    * contract ([[appendBody]]) and commits in ONE generation install:
    * its marker carries the batch id, and the commit record lands after
    * the manifest. A crash before the marker leaves nothing (the replay
    * re-appends); a crash after it rolls the batch forward, commit
    * record included, at the next op's entry — the replay is then
    * skipped. `streamId` keys the commit log — use the checkpoint
    * location (stable across restarts, unique per query). Returns
    * whether the batch was applied (false = replay skipped).
    */
  def appendStreamBatch(batch: DataFrame, path: String, ts: String,
                        streamId: String, batchId: Long): Boolean =
    appendStreamBatchFiles(batch, path, ts, streamId, batchId).isDefined

  /** [[appendStreamBatch]] returning the installed files' names (None:
    * a replay skipped).
    */
  private[graft] def appendStreamBatchFiles(batch: DataFrame, path: String,
                                            ts: String, streamId: String,
                                            batchId: Long): Option[Seq[String]] =
    clusteredOp(batch.sparkSession, path, "appendStreamBatch") { (fs, hp) =>
      val rec = readStreamCommits(fs, hp)
      if (rec.committed.get(streamId).exists(_ >= batchId)) None
      else {
        val files = appendBody(fs, hp, batch, path, ts,
          Some(StreamCommit(streamId, batchId) -> rec))
        invalidateRead(batch.sparkSession, path)
        Some(files)
      }
    }

  /** Advance a stream's commit log for a batch the CALLER knows is empty
    * (r18; guide §2.4 "remove jobs outright"): exactly-once semantics with
    * zero data to land need only the committed high-water mark — no
    * staging write. The full [[appendStreamBatch]] on a `limit(0)` frame
    * still pays a Spark write job (a staged 0-row part file the footer
    * pass then drops) — per batch, on the landing-dedup ALL-DROP steady
    * state that is the whole protocol twice over (doc + bucket table).
    * Crash matrix: a crash before the commit write leaves nothing (the
    * replay re-enters and re-decides an identical empty batch); after
    * it, the replay skips — the same two outcomes the heavyweight path
    * has, minus the states that only exist because files were staged.
    * Entry recovery still runs, so a PRIOR crashed batch is rolled
    * forward before this one commits past it.
    */
  def commitEmptyStreamBatch(spark: SparkSession, path: String,
                             streamId: String, batchId: Long): Boolean =
    // the entry's reclaim keeps retired-generation reclamation going on the
    // all-drop steady state (review r18): a stream that folds once then
    // drops every subsequent batch would otherwise hold the retired files
    // past the grace window until some other maintenance op happens by.
    // Driver FS metadata only — the zero-jobs property is unchanged.
    clusteredOp(spark, path, "appendStreamBatch") { (fs, hp) =>
      val rec = readStreamCommits(fs, hp)
      if (rec.committed.get(streamId).exists(_ >= batchId)) false
      else {
        if (!fs.exists(hp)) fs.mkdirs(hp) // the sidecar needs its dir
        crashPoint("stream:pending")
        commitStream(fs, hp, StreamCommit(streamId, batchId), rec)
        crashPoint("stream:committed")
        true
      }
    }

  /** The bucketed twin of [[appendStreamBatch]]: exactly-once micro-batch
    * ingest through a catalog bucketed table's own spec
    * ([[appendBucketedBody]] — ordered contract + manifest extension +
    * zero-Exchange layout preserved). The table must already exist
    * ([[loadBucketed]] establishes the spec; a stream cannot invent one).
    */
  def appendStreamBatchBucketed(batch: DataFrame, table: String,
                                streamId: String, batchId: Long): Boolean =
    bucketedOp(batch.sparkSession, table, "appendStreamBatchBucketed") { b =>
      val rec = readStreamCommits(b.fs, b.loc)
      if (rec.committed.get(streamId).exists(_ >= batchId)) false
      else {
        val preNames = b.dataFiles(b.loc).map(_.getPath.getName)
        writeStreamCommits(b.fs, b.loc,
          rec.copy(pending = Some(PendingBatch(streamId, batchId, preNames))))
        crashPoint("stream:pending")
        appendBucketedBody(b, batch)
        crashPoint("stream:appended")
        writeStreamCommits(b.fs, b.loc,
          StreamCommits(rec.committed + (streamId -> batchId), None))
        batch.sparkSession.catalog.refreshTable(table)
        true
      }
    }

  /** deleteRange's [from, till] bounds as epoch-ns on the MANIFEST's
    * scale, which is the parquet footer's: NTZ stats are timezone-less
    * WALL micros ×1000 and LTZ stats are UTC-adjusted micros ×1000
    * (tsFileStatsNs) — so the conversion here must match per type, on
    * the driver, from the evaluated literal itself:
    *  - NTZ → LocalDateTime interpreted at UTC offset (pure wall time —
    *    a cast through the session-zoned TimestampType would shift the
    *    bound by the session offset and let the prune carry files whose
    *    rows the filter deletes; r13 review finding #2);
    *  - LTZ → Instant / java.sql.Timestamp epoch ns;
    *  - integral → the engine's int64-ns convention, pass-through.
    * Evaluated on the driver with no Spark job. None when a
    * bound is NULL, not locally evaluable, or of an unhandled type
    * (dates) — the caller falls back to the conservative full rewrite,
    * never to a wrong prune.
    */
  private def deleteBoundsNs(spark: SparkSession, dt: DataType,
                             from: Column, till: Column): Option[(Long, Long)] =
    scala.util.Try {
      // via MICROS, not seconds×1e9: the seconds intermediate overflows
      // for values near Long.MinValue ns even when the true ns value is
      // representable — e.g. the tsLit(Long.MinValue) lower bound the
      // retention path issues every round (epochSecond -9223372037 × 1e9
      // < Long.MinValue while µs×1000 = -9223372036854775000 fits), and
      // the swallowed throw silently degraded that delete to a FULL-TABLE
      // rewrite (ADVICE r13, medium). Exactness preserved: every op is
      // still *Exact, so a genuinely unrepresentable instant throws into
      // the Try → None → conservative full rewrite, never a wrong prune.
      def instNs(i: java.time.Instant): Long = {
        val micros = Math.addExact(
          Math.multiplyExact(i.getEpochSecond, 1000000L),
          (i.getNano / 1000).toLong)
        Math.addExact(Math.multiplyExact(micros, 1000L),
          (i.getNano % 1000).toLong)
      }
      def toNs(v: Any): Option[Long] = v match {
        case null => None
        case ldt: java.time.LocalDateTime =>
          Some(instNs(ldt.toInstant(java.time.ZoneOffset.UTC)))
        case i: java.time.Instant => Some(instNs(i))
        case t: java.sql.Timestamp => Some(instNs(t.toInstant))
        case n: java.lang.Number => Some(n.longValue)
        case _ => None
      }
      dt match {
        case TimestampType | TimestampNTZType |
             LongType | IntegerType | ShortType | ByteType =>
          // over a one-row LOCAL relation the optimizer folds the
          // projection to a LocalRelation: evaluated on the driver, no job
          val row = spark.createDataFrame(
            java.util.List.of(org.apache.spark.sql.Row.empty), new StructType())
            .select(from.cast(dt).as("f"), till.cast(dt).as("t")).head()
          for (f <- toNs(row.get(0)); t <- toNs(row.get(1))) yield (f, t)
        case _ => None
      }
    }.toOption.flatten

  /** TABLE_delete(from, till) — O(AFFECTED RANGE), not O(table): the
    * manifest's per-file ts bounds split the live set into files wholly
    * OUTSIDE [from, till] (carried into the new generation untouched —
    * zero I/O, the same cold-carry compactIncremental uses) and files
    * that INTERSECT it (read, filtered, rewritten). This is the Spark
    * analog of the reference's range delete, which descends the B-tree
    * and removes only the affected pages (btree.c:747-899) — the shape
    * that makes scheduled retention deletes payable at 100 TB, where
    * deleting one day from a year of data must not rewrite the year.
    * Stat-less manifest entries (unreadable footers) conservatively join
    * the rewrite set; non-literal bounds fall back to the full rewrite.
    * A delete touching NOTHING (no file intersects) is a pure no-op.
    *
    * Job budget: with literal bounds, the only Spark jobs are those of
    * the rewrite's write; a delete touching no file launches none.
    */
  def deleteRange(spark: SparkSession, path: String, ts: String,
                  from: Column, till: Column): Unit =
    clusteredOp(spark, path, "deleteRange") { (fs, p) =>
    // same refusal as the compact flavors: a rewrite must never silently
    // destroy content the engine doesn't own. (The legacy `__tmp` staging
    // is gone — a sibling `__tmp` of unknown provenance is simply never
    // touched; recoverDelete still adopts TAGGED legacy strands.)
    guardCompactable(fs, p)
    // adoption bootstrap before staging — same reader-atomicity reasoning
    // as compact's (engine readers must never see a torn old+new mix)
    val mOpt = liveEntries(fs, p, Some(ts)).orElse {
      writeManifest(spark, path, ts)
      liveEntries(fs, p, Some(ts))
    }
    val live = mOpt.getOrElse {
      val dataFiles = fs.listStatus(p)
        .filter(s => s.isFile && isDataFile(s.getPath.getName)).toSeq
      LiveSet(p, TsManifest(1, ts, scanEntries(spark.sparkContext.hadoopConfiguration,
        ts, dataFiles, loaded = true)), dataFiles.map(s => s.getPath.getName -> s).toMap)
    }
    val liveFiles = live.files
    // an EMPTY live set has nothing to delete (ADVICE r12, low)
    if (liveFiles.isEmpty) return
    // the manifest-pruned split (O(affected range), see Scaladoc): bounds
    // on the manifest's ns scale come from the ts column's OWN type; a
    // file is carried only when its recorded bounds prove it disjoint
    // from the INCLUSIVE [from, till] — stat-less entries and
    // unevaluable bounds conservatively rewrite. The type comes from the
    // memoized head-footer schema (engine layouts are schema-uniform):
    // probing through a read over every live file would pay an O(files)
    // driver file-index pass in the op sold as O(range) (r13 review
    // finding #7)
    val dtTs = scala.util.Try(headSchema(spark, p, liveFiles.head.name)).toOption
      .flatMap(_.fields.find(_.name.equalsIgnoreCase(ts)).map(_.dataType))
    val bounds = dtTs.flatMap(dt => deleteBoundsNs(spark, dt, from, till))
    val rewrite = bounds match {
      case Some((fromNs, tillNs)) => liveFiles.filterNot { e =>
        (e.minNs, e.maxNs) match {
          case (Some(mn), Some(mx)) => mx < fromNs || mn > tillNs
          case _ => false
        }
      }
      case None => liveFiles
    }
    // nothing intersects: the delete is a pure no-op — no rewrite, no
    // generation flip, no manifest churn
    if (rewrite.isEmpty) return
    val tmp = genTmpPath(path) // the entry's recoverGen cleared it
    // NULL-ts rows are outside every range: without the isNull arm the
    // negated conjunction is NULL under three-valued logic and filter
    // would silently DELETE them. No pre-materialization needed — the
    // source stays untouched until the install, strictly after this write.
    liveFrame(spark, live, rewrite.map(_.name))
      .filter(col(ts).isNull || !(col(ts) >= from && col(ts) <= till))
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    crashPoint("del:staged")
    installRewrite(spark, fs, p, tmp, live.manifest,
      replaced = rewrite.map(_.name), tag = "del")
    reclaimRetired(fs, p, retireGraceMs)
    invalidateRead(spark, path)
    }

  /** [[deleteRange]] with epoch-ns bounds — INCLUSIVE [fromNs, tillNs]
    * on the engine's int64-ns scale, translated to literals of the ts
    * column's OWN type: ceiling on the lower bound and floor on the
    * upper (the inclusive duals of [[tsLit]]'s half-open pair — a µs
    * value u satisfies u*1000 >= fromNs iff u >= ceil(fromNs/1000) and
    * u*1000 <= tillNs iff u <= floor(tillNs/1000)), NTZ interpreted as
    * wall time at UTC like the manifest's footer stats. The streaming
    * retention path ([[graft.streaming.Streams.ingestAppendRetained]])
    * drives head deletion through this form.
    */
  def deleteRangeNs(spark: SparkSession, path: String, ts: String,
                    fromNs: Long, tillNs: Long): Unit = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the ts type from the memoized head-footer schema, as in deleteRange
    val dtOpt =
      if (!fs.exists(hp)) None
      else scala.util.Try(governedLive(spark, path).filter(_.files.nonEmpty)
          .fold(spark.read.parquet(path).schema)(l =>
            headSchema(spark, l.dir, l.files.head.name))).toOption
        .flatMap(_.fields.find(_.name.equalsIgnoreCase(ts)))
        .map(_.dataType)
    dtOpt match {
      case Some(dt @ (TimestampType | TimestampNTZType)) =>
        val tillUs = Math.floorDiv(tillNs, 1000L)
        val inst = java.time.Instant.ofEpochSecond(
          Math.floorDiv(tillUs, 1000000L), Math.floorMod(tillUs, 1000000L) * 1000L)
        val tillLit =
          if (dt == TimestampType) lit(inst)
          else lit(java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC))
        deleteRange(spark, path, ts, tsLit(fromNs, dt), tillLit)
      case _ =>
        deleteRange(spark, path, ts, lit(fromNs), lit(tillNs))
    }
  }

  /** TABLE_truncate (imcs--1.1.sql:105-115). The filesystem comes from
    * the PATH (like every other lifecycle op), not the default FS — a
    * qualified path on a non-default filesystem must not "Wrong FS".
    */
  def truncate(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLease(fs, p, "truncate") {
      // RECOVERY FIRST, not sibling deletion: clearing a committed
      // compact marker by hand would orphan the cold files the crashed
      // compact had already moved into its staging dir (the next
      // recovery then deletes that dir as "uncommitted" — silent row
      // loss into a table that survives), and deleting siblings after
      // the live dir leaves resurrection sources (.compact.old /
      // tagged __tmp with no live dir). Completing recovery makes every
      // protocol sibling inert or consumed; the only thing left to do
      // is delete the live dir. A crash before the delete leaves the
      // recovered table intact (re-truncate); after it, nothing remains
      // that any recovery path would restore. An UNTAGGED __tmp (foreign
      // or legacy — see deleteStagingTag) is deliberately left alone.
      recoverMutations(spark, fs, path)
      requireNoLivePins(fs, p, "truncate")
      crashPoint("trunc:recovered")
      fs.delete(p, true)
      invalidateRead(spark, path)
    }
  }

  /** Bucketed ingest for co-located joins: hash-bucket and sort by the
    * join keys at write time so fact-fact joins read pre-partitioned,
    * pre-sorted buckets — a sort-merge join with ZERO Exchange and ZERO
    * per-query Sort on either side. This is the 100 TB answer to "the big
    * join shuffles both sides every query": pay the shuffle once at
    * ingest, amortize it over every downstream join/aggregate on the same
    * keys (the reference gets the same effect from per-key series at load,
    * imcs--1.1.sql:361-369). Bucket metadata lives in the session catalog
    * (saveAsTable), the data in ordinary parquet files. Exchange removal
    * is automatic; Sort removal additionally needs
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (sound
    * because this writes exactly one sorted file per bucket — see
    * BucketedJoinSpec).
    */
  def loadBucketed(df: DataFrame, table: String, keys: Seq[String],
                   buckets: Int, sortCols: Seq[String] = Seq()): Unit = {
    val spark = df.sparkSession
    // Move the existing DATA aside BEFORE dropping the catalog entry:
    // DROP TABLE on a managed table deletes its location, so dropping
    // first would destroy the only copy before the replacement exists.
    // The `.replaced` aside is a SIBLING of the data (same filesystem by
    // construction — a warehouse-rooted aside could sit on a different FS
    // than a custom table location, where rename is impossible) and
    // survives until the new layout commits (the same reasoning as
    // compact's two-rename swap). The location comes from the CATALOG
    // when the table exists (it can differ from the warehouse default).
    // defaultTablePath, not a "$warehouse/$table" reconstruction: the two
    // diverge outside the default database ($warehouse/<db>.db/<table>),
    // where a hand-built path would clear/lease/guard a directory nothing
    // writes to
    def defaultLoc: org.apache.hadoop.fs.Path =
      new org.apache.hadoop.fs.Path(spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val loc = scala.util.Try(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
      .toOption.map(u => new org.apache.hadoop.fs.Path(u))
      .getOrElse(defaultLoc)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val replaced = new org.apache.hadoop.fs.Path(
      loc.getParent, loc.getName + ".replaced")
    // the input must not READ the table being replaced: the data moves
    // aside and the catalog entry drops BEFORE the lazy write executes,
    // so an in-place `loadBucketed(spark.table("t"), "t", ...)` would
    // scan a missing location — worst case committing an EMPTY table and
    // then deleting the aside copy. Fail loudly with the remedy instead.
    locally {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      val qualLoc = fs.makeQualified(loc)
      val readsTarget = df.queryExecution.analyzed.collect {
        case l: LogicalRelation =>
          l.catalogTable.exists(_.identifier.table.equalsIgnoreCase(table)) ||
            (l.relation match {
              case h: HadoopFsRelation => h.location.rootPaths.exists(p =>
                p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                  .makeQualified(p) == qualLoc)
              case _ => false
            })
      }.exists(identity)
      require(!readsTarget,
        s"loadBucketed: the input DataFrame reads the target table `$table` " +
          "— an in-place re-bucket would scan the location being replaced. " +
          "Write to a NEW table name, or materialize the input first " +
          "(e.g. df.localCheckpoint()).")
    }
    // loadBucketed replaces the table wholesale — it holds the writer
    // lease like every other mutating op, on BOTH dirs it touches: the
    // current catalog location and the warehouse default the re-created
    // table lands at (they differ after a custom-location history). Same
    // thread re-entrancy makes the nesting a no-op when they coincide.
    val defLoc = defaultLoc
    val defFs = defLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sameDir = defFs.makeQualified(defLoc) == fs.makeQualified(loc)
    def leased[T](b: => T): T =
      withWriterLease(fs, loc, "loadBucketed") {
        if (sameDir) b else withWriterLease(defFs, defLoc, "loadBucketed")(b)
      }
    leased {
    // wholesale replacement moves the current data ASIDE — a pinned
    // reader's snapshot would vanish mid-scan; same refusal contract as
    // truncate/load (the pin side checks for this op's lease in turn)
    if (fs.exists(loc)) requireNoLivePins(fs, loc, "loadBucketed")
    // a surviving `.replaced` means an earlier attempt crashed BEFORE its
    // saveAsTable committed: it holds the previous table's only copy and
    // anything at `loc` is that attempt's partial output. Keep the copy,
    // discard the partial — deleting `.replaced` here would defeat the
    // crash safety on every retry (the copy must survive until THIS
    // attempt commits).
    if (fs.exists(replaced)) {
      if (fs.exists(loc)) fs.delete(loc, true)
    } else if (fs.exists(loc) && !fs.rename(loc, replaced))
      sys.error(s"loadBucketed: cannot move $loc aside")
    crashPoint("loadbkt:aside")
    // catalog entry only — the data already moved, and Spark's drop
    // tolerates a missing managed location
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // the default warehouse location must also be clear for re-creation
    // (an orphaned dir from a killed run blocks saveAsTable even when the
    // old catalog location pointed elsewhere); its OWN filesystem — the
    // warehouse can sit on a different FS than a custom table location.
    // Pin check on THIS dir too (review): after a compactBucketedIsolated
    // flip the warehouse default is a grace-retained retired generation a
    // reader may have pinned — the op holds defLoc's lease (`leased`
    // wraps both dirs), so the handshake covers pins on either side
    if (defFs.exists(defLoc)) {
      if (!sameDir) requireNoLivePins(defFs, defLoc, "loadBucketed")
      defFs.delete(defLoc, true)
    }
    // one file per bucket: Spark trusts the per-bucket sort order (and
    // elides the per-query Sort under a sort-merge join) only when each
    // bucket is a single sorted file
    // sortCols beyond the keys (e.g. the series ts) let ORDER-requiring
    // operators — sort-merge join, the as-of merge exec — run with zero
    // per-query Sort as well as zero Exchange
    saveBucketed(df, BucketSpec(buckets, keys, keys ++ sortCols), table,
      SaveMode.Overwrite)
    // the bucketed layout makes the SAME lifecycle promises as the
    // clustered one: a ts manifest at the committed location backs
    // appendBucketed's metadata-only out-of-order rejection and
    // rangeScanBucketed's file pruning. Written before the aside copy is
    // released so a crash here leaves either the old table (recoverable)
    // or the new one with its manifest.
    seriesTsOf(keys, sortCols).foreach { ts =>
      val newLoc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
      writeManifest(spark, newLoc.toString, ts)
    }
    fs.delete(replaced, true)
    }
  }

  /** The bucketed layout's series-order column: the first sort column
    * BEYOND the bucket keys (case-insensitive — Spark resolution is).
    * None for key-only or sortless specs — such a table carries no series
    * order, so the ordered-ingest contract and ts pruning don't apply.
    */
  private def seriesTsOf(keys: Seq[String], sortCols: Seq[String]): Option[String] = {
    val keySet = keys.map(_.toLowerCase).toSet
    sortCols.find(c => !keySet(c.toLowerCase))
  }

  /** [[loadBucketed]] with the bucket count DERIVED from the data: a
    * bucketed scan runs one task per bucket (Spark never splits a bucket
    * across tasks), so the count should track the frame's bytes against a
    * per-bucket target (~256 MB of columnar data by default — one
    * comfortable task), clamped to [defaultParallelism, 16384]. The size
    * comes from the optimized plan's statistics (actual file sizes for
    * parquet-backed frames; estimates otherwise — both fine, the knob
    * tolerates 2× error by construction). Same reasoning as
    * `rangeJoinAuto`: the one misusable knob becomes data-driven.
    * Returns the chosen count (callers co-bucketing a second table must
    * reuse it — co-location requires EQUAL counts).
    */
  def loadBucketedAuto(df: DataFrame, table: String, keys: Seq[String],
                       sortCols: Seq[String] = Seq(),
                       targetBucketBytes: Long = 256L << 20): Int = {
    val spark = df.sparkSession
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val lo = BigInt(spark.sparkContext.defaultParallelism)
    // stat-less plans (LogicalRDD, some views) report the
    // defaultSizeInBytes SENTINEL (Long.MaxValue) — that is "unknown",
    // not "huge"; driving the count to the cap from it would ingest a
    // tiny table as 16384 near-empty buckets. Unknown → parallelism floor.
    val want =
      if (bytes >= BigInt(Long.MaxValue) / 4) lo
      else (bytes + targetBucketBytes - 1) / targetBucketBytes
    val buckets = want.max(lo).min(BigInt(16384)).toInt
    loadBucketed(df, table, keys, buckets, sortCols)
    buckets
  }

  /** Spark's bucket-file naming: `part-NNNNN-<uuid>_BBBBB[.ext]` — the
    * digits after the LAST underscore are the bucket id. Files in a
    * bucketed table dir that don't parse are foreign; lifecycle ops stop.
    */
  private val BucketIdRe = """.*_(\d+)(?:\..*)?$""".r
  private def bucketIdOf(name: String): Option[Int] = name match {
    case BucketIdRe(id) => Some(id.toInt)
    case _ => None
  }

  /** Append a batch to a bucketed catalog table through its OWN bucket
    * spec (looked up, never re-declared — a drifted re-declaration would
    * be rejected by Spark, but looking it up makes drift impossible).
    * Each batch adds at most one file per bucket. Until the next
    * [[compactBucketed]], multi-file buckets make Spark withhold the
    * sort-order claim, so order-requiring plans (sort-merge join, the
    * as-of merge exec) regain a per-query Sort — but the ZERO-Exchange
    * property survives: bucket membership is in the file names, and a
    * scan of a multi-file bucket is still one partition. This mirrors the
    * reference's append path (imcs.c:4617-4740): writes land in the
    * series' existing layout, maintenance restores the compact form.
    */
  def appendBucketed(df: DataFrame, table: String): Unit =
    bucketedOp(df.sparkSession, table, "appendBucketed") { b =>
      appendBucketedBody(b, df)
      df.sparkSession.catalog.refreshTable(table)
    }

  /** A bucketed catalog table as its op's entry ([[bucketedOp]]) resolved
    * it: catalog metadata, bucket spec, and the leased location.
    */
  private final case class BucketedTable(name: String, ct: CatalogTable,
                                         bs: BucketSpec, loc: Path,
                                         fs: FileSystem) {
    def seriesTs: Option[String] = seriesTsOf(bs.bucketColumnNames, bs.sortColumnNames)
    def dataFiles(p: Path): Seq[FileStatus] =
      fs.listStatus(p).filter(s => s.isFile && isDataFile(s.getPath.getName)).toSeq
  }

  /** The entry of every bucketed mutator ([[appendBucketed]],
    * [[appendStreamBatchBucketed]], [[compactBucketed]],
    * [[compactBucketedIsolated]], [[deleteRangeBucketed]]): catalog
    * lookup and bucket spec, writer lease on the location, the
    * generation-flip check ([[requireLocationCurrent]]), the pin refusal
    * of the `readerExclusive` in-place rewrites, then entry recovery and
    * reclaim — once per op. Recovery comes before any body work: a
    * committed fold marker rolled forward AFTER new files landed (or
    * after a stream batch's pre-listing) would sweep those files aside
    * with the staged layout, or make a rollback delete the recovered
    * layout's files as "extras" of a stale listing.
    */
  private def bucketedOp[T](spark: SparkSession, table: String, op: String,
                            readerExclusive: Boolean = false)(
      body: BucketedTable => T): T = {
    val ct = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val bs = ct.bucketSpec.getOrElse(sys.error(s"$op: $table carries no bucket spec"))
    val loc = new Path(ct.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLease(fs, loc, op) {
      requireLocationCurrent(spark, table, fs, loc, op)
      // an in-place rewrite replaces the directory under any reader (its
      // documented reader-EXCLUSIVE trade) — an explicit pin is the one
      // reader statement it can honor: refuse before touching anything,
      // like truncate/load do (compactBucketedIsolated proceeds under pins)
      if (readerExclusive) requireNoLivePins(fs, loc, op)
      sweepManifestStaging(fs, loc)
      recoverStreamPending(fs, loc.toString, clustered = false)
      recoverCompact(fs, loc.toString)
      reclaimRetiredDirs(fs, loc, retireGraceMs)
      body(BucketedTable(table, ct, bs, loc, fs))
    }
  }

  /** Write `df` as catalog table `table` through bucket spec `bs`,
    * hash-repartitioned by the bucket keys so each bucket lands as one
    * file, sorted when the spec sorts (bucketBy without sortBy is a legal
    * catalog spec — mirror it exactly). `path` makes the table EXTERNAL.
    */
  private def saveBucketed(df: DataFrame, bs: BucketSpec, table: String,
                           mode: SaveMode, path: Option[Path] = None): Unit = {
    val keys = bs.bucketColumnNames
    val sort = bs.sortColumnNames
    val w0 = df.repartition(bs.numBuckets, keys.map(col): _*).write.mode(mode)
    val w1 = path.fold(w0)(p => w0.option("path", p.toString))
      .bucketBy(bs.numBuckets, keys.head, keys.tail: _*)
    val w = if (sort.isEmpty) w1 else w1.sortBy(sort.head, sort.tail: _*)
    w.format("parquet").saveAsTable(table)
  }

  /** Drop an in-place bucketed rewrite's staged `<table>__fold` table. A
    * crashed earlier fold can leak it — possibly only its LOCATION (a
    * fresh session's in-memory catalog no longer lists it, but the
    * orphaned dir still blocks the managed-table create). The fold is
    * derived data: always rebuilt, never trusted. Found by the
    * crash-point fuzz (TablesSpec).
    */
  private def dropFoldLeftovers(spark: SparkSession, table: String): Unit = {
    val foldTable = table + "__fold"
    spark.sql(s"DROP TABLE IF EXISTS `$foldTable`")
    // defaultTablePath, not $warehouse/$foldTable: they diverge outside
    // the default database (<db>.db/ subdir). Its OWN filesystem: a
    // delete through the TABLE-location fs would "Wrong FS" on a
    // cross-filesystem warehouse
    val fl = new Path(spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(foldTable)))
    val ffs = fl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (ffs.exists(fl)) ffs.delete(fl, true)
  }

  /** The append protocol of a bucketed table under its op's entry
    * ([[appendBucketed]], [[appendStreamBatchBucketed]]): ordered-ingest
    * check, the write through the table's own spec, manifest extension.
    */
  private def appendBucketedBody(b: BucketedTable, df: DataFrame): Unit = {
    val spark = df.sparkSession
    val fs = b.fs
    val loc = b.loc
    def listing(): Seq[FileStatus] =
      if (fs.exists(loc)) b.dataFiles(loc) else Seq.empty
    val preFiles = listing()
    // ordered-ingest contract — the SAME promise the clustered append
    // makes (imcs.c:4617-4740): a batch below the stored series tail is an
    // error, not a silent corruption. The tail comes from the manifest
    // when it is present, consistent, and fully stat-carrying (a metadata
    // lookup reading zero data bytes); manifest-less/stat-less tables pay
    // one max(ts) scan over the catalog table. Sortless specs carry no
    // series order — nothing to protect.
    val seriesTs = b.seriesTs
    for (ts <- seriesTs; if preFiles.nonEmpty) {
      val manifestTail: Option[Option[Long]] =
        readManifest(fs, loc).filter(_.ts == ts)
          .filter(manifestConsistent(_, preFiles))
          .flatMap { m =>
            if (m.files.isEmpty) Some(None)
            else if (m.files.forall(_.maxNs.isDefined))
              Some(Some(m.files.flatMap(_.maxNs).max))
            else None
          }
      manifestTail match {
        case Some(tailNsOpt) =>
          for (tailNs <- tailNsOpt) {
            val mnRow = normalizeNsTs(df.select(col(ts).as("ts")))
              .agg(min(col("ts")).as("mn")).head()
            val mnNs = if (mnRow.isNullAt(0)) None
              else Some(mnRow.get(0).asInstanceOf[Number].longValue)
            if (mnNs.exists(_ < tailNs))
              throw new IllegalStateException(
                s"out-of-order appendBucketed: incoming min($ts)=${mnNs.get}ns is " +
                  s"below the stored series tail max($ts)=${tailNs}ns (manifest) — " +
                  "the reference rejects appends below the loaded tail " +
                  "(imcs.c:4617-4740)")
          }
        case None =>
          val viol = df.agg(min(col(ts)).as("mn"))
            .crossJoin(spark.table(b.name).agg(max(col(ts)).as("mx")))
            .filter(col("mn") < col("mx"))
            .head(1)
          if (viol.nonEmpty)
            throw new IllegalStateException(
              s"out-of-order appendBucketed: incoming min($ts)=${viol.head.get(0)} " +
                s"is below the stored series tail max($ts)=${viol.head.get(1)} — " +
                "the reference rejects appends below the loaded tail " +
                "(imcs.c:4617-4740)")
      }
    }
    saveBucketed(df, b.bs, b.name, SaveMode.Append)
    // extend the manifest with the batch's files as loaded=false (the set
    // compactBucketed's fold re-establishes); a manifest that no longer
    // matches the pre-append listing is stale (foreign writer) — drop it
    // rather than compound the lie, exactly like the clustered append
    for (ts <- seriesTs)
      readManifest(fs, loc).filter(_.ts == ts).foreach { m =>
        if (manifestConsistent(m, preFiles)) {
          val preNames = preFiles.map(_.getPath.getName).toSet
          val fresh = listing().filterNot(s => preNames(s.getPath.getName))
          val entries = scanEntries(spark.sparkContext.hadoopConfiguration, ts,
            fresh, loaded = false)
          writeManifestFile(fs, loc, m.copy(files = m.files ++ entries))
        } else fs.delete(new Path(loc, ManifestName), false)
      }
  }

  // ---- bucketed generation flip (reader-isolated fold) -----------------

  private val RetiredDirsName = "_graft_retired_dirs.json"

  private def readRetiredDirs(fs: FileSystem, dir: Path): Seq[RetiredDir] = {
    val p = new Path(dir, RetiredDirsName)
    if (!fs.exists(p)) Seq.empty
    else scala.util.Try(org.json4s.jackson.Serialization.read[Seq[RetiredDir]](
      readSmallText(fs, p))).getOrElse(
      sys.error(s"unreadable retired-dirs ledger $p — written atomically, " +
        "so this is external corruption; inspect manually"))
  }

  /** Delete grace-expired retired generation dirs listed in the CURRENT
    * location's ledger. Crash order: dirs first, ledger second — an entry
    * whose dir is already gone is tolerated and cleared next pass.
    */
  private def reclaimRetiredDirs(fs: FileSystem, loc: Path,
                                 graceMs: Long): Int = {
    val ledger = readRetiredDirs(fs, loc)
    if (ledger.isEmpty) 0
    else {
      val now = System.currentTimeMillis()
      // a retired GENERATION stays while a live reader pin exists on that
      // directory (the pin is taken on the location the reader planned
      // against — which is exactly the dir that later retires)
      val (expired, kept) = ledger.partition(r =>
        now - r.retiredMs >= graceMs && !livePinsExist(fs, new Path(r.path)))
      if (expired.nonEmpty) {
        expired.foreach { r =>
          val p = new Path(r.path)
          if (fs.exists(p)) fs.delete(p, true)
          crashPoint("retiredir:reclaimed")
        }
        writeSmallFileAtomic(fs, new Path(loc, RetiredDirsName),
          org.json4s.jackson.Serialization.write(kept))
      }
      expired.size
    }
  }

  private val GenDirRe = """__gen(\d+)$""".r

  /** Delete crashed [[compactBucketedIsolated]] staging dirs: siblings
    * named `<table>__gen<millis>` that are not the current location, not
    * in the ledger (those wait for [[reclaimRetiredDirs]]), and whose
    * stamp is older than the grace (a fresher one may be a LIVE attempt
    * from a writer whose lease we broke — its files are garbage either
    * way, but the grace keeps the sweep deterministic in tests).
    */
  private def sweepStaleGenerations(fs: FileSystem, table: String, loc: Path,
                                    graceMs: Long): Unit = {
    val parent = loc.getParent
    if (parent == null || !fs.exists(parent)) return
    val current = fs.makeQualified(loc).toString
    val ledger = readRetiredDirs(fs, loc)
      .map(r => fs.makeQualified(new Path(r.path)).toString).toSet
    val now = System.currentTimeMillis()
    fs.listStatus(parent).foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && n.startsWith(table + "__gen")) {
        val q = fs.makeQualified(s.getPath).toString
        val stamp = GenDirRe.findFirstMatchIn(n).map(_.group(1).toLong)
        if (q != current && !ledger(q) &&
            stamp.exists(t => now - t >= graceMs) &&
            !livePinsExist(fs, s.getPath)) // belt: never sweep a pinned dir
          fs.delete(s.getPath, true)
      }
    }
  }

  /** Post-acquisition location check for every bucketed mutator: the
    * lease was taken on a location read BEFORE acquisition, and a
    * concurrent [[compactBucketedIsolated]] may have flipped the table to
    * a new generation in between — proceeding would mutate a retired
    * directory that reclaim later deletes (silent loss). Fail fast; the
    * caller retries and leases the current generation.
    */
  private def requireLocationCurrent(spark: SparkSession, table: String,
                                     fs: FileSystem, leased: Path,
                                     op: String): Unit = {
    val now = new Path(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
    if (fs.makeQualified(now) != fs.makeQualified(leased))
      throw new IllegalStateException(
        s"$op: $table's generation flipped (location moved from $leased to " +
          s"$now) between the metadata read and the lease acquisition — retry")
  }

  /** Reader-ISOLATED bucketed maintenance: rewrite the WHOLE table as a
    * fresh generation directory (`<table>__gen<millis>` sibling) through
    * its own bucket spec, flip the catalog location atomically, and
    * grace-retain the superseded generation for in-flight readers —
    * reclaimed past the grace by the next bucketed lifecycle op.
    *
    * This is the opt-in complement to [[compactBucketed]]: the in-place
    * fold touches only hot buckets (work ∝ the appends) but is
    * reader-EXCLUSIVE (a catalog bucketed scan cannot exclude co-located
    * retired files, and cold files leave their paths in the swap); this
    * variant pays a FULL rewrite — the price of isolation on a
    * catalog-scanned layout — in exchange for the clustered layout's
    * reader guarantee. Use the in-place fold in maintenance windows, this
    * one under live readers. Restores one sorted file per bucket (the
    * zero-Exchange zero-Sort join layout) like a fresh [[loadBucketed]].
    *
    * Crash safety: the staged generation (external table write, then its
    * ledger + manifest) is unreferenced until the `ALTER TABLE SET
    * LOCATION` flip — a crash before the flip leaves only a stale
    * `__gen` sibling (swept past the grace); the ledger naming the old
    * generation is written INSIDE the new one before the flip, so a
    * crash after it loses nothing. Returns (filesBefore, filesAfter).
    */
  def compactBucketedIsolated(spark: SparkSession, table: String): (Int, Int) =
    bucketedOp(spark, table, "compactBucketedIsolated") { b =>
    val fs = b.fs
    val loc = b.loc
    guardCompactable(fs, loc)
    sweepStaleGenerations(fs, table, loc, retireGraceMs)
    val before = b.dataFiles(loc).size
    val genTable = table + "__gen"
    spark.sql(s"DROP TABLE IF EXISTS `$genTable`") // crashed-attempt entry
    val gen = new Path(loc.getParent,
      s"${table}__gen${System.currentTimeMillis()}")
    if (fs.exists(gen)) fs.delete(gen, true) // same-ms retry
    // EXTERNAL staging table (explicit path): DROP later leaves the files
    // for the location flip. The input reads the current generation's
    // FILES plainly (not spark.table: a bucketed scan carries its own
    // output partitioning, under which the repartition can be elided and
    // the write then emits one file per (task, bucket) instead of the one
    // sorted file per bucket the zero-Sort property needs)
    saveBucketed(spark.read.schema(b.ct.schema)
      .parquet(b.dataFiles(loc).map(_.getPath.toString): _*),
      b.bs, genTable, SaveMode.Overwrite, Some(gen))
    crashPoint("bktiso:staged")
    // the new generation's ledger: previous retirees carry over, the
    // current generation joins them — written INSIDE the new dir BEFORE
    // the flip so the flip is the single commit point
    writeSmallFileAtomic(fs, new Path(gen, RetiredDirsName),
      org.json4s.jackson.Serialization.write(
        readRetiredDirs(fs, loc) :+
          RetiredDir(fs.makeQualified(loc).toString, System.currentTimeMillis())))
    // the stream-commit log must FOLLOW the table to the new generation:
    // leaving it in the retired dir would reset every stream's high-water
    // mark, so a checkpoint-recovery replay after the flip would re-append
    // committed batches (pending is None here — entry recovery cleared it)
    locally {
      val sc = readStreamCommits(fs, loc)
      if (sc.committed.nonEmpty) writeStreamCommits(fs, gen, sc.copy(pending = None))
    }
    b.seriesTs.foreach(ts => writeManifest(spark, gen.toString, ts))
    crashPoint("bktiso:ledger")
    spark.sql(s"DROP TABLE IF EXISTS `$genTable`") // external: files stay
    crashPoint("bktiso:gen-dropped")
    // THE atomic commit: catalog location flip. Readers that planned
    // against the old generation keep their paths (grace-retained).
    spark.sql(s"ALTER TABLE `$table` SET LOCATION '${gen.toString}'")
    crashPoint("bktiso:flipped")
    spark.catalog.refreshTable(table)
    (before, b.dataFiles(gen).size)
    }

  /** Per-bucket incremental compact for a bucketed catalog table: fold
    * ONLY buckets holding more than one file back to a single sorted
    * file; single-file buckets are carried by RENAME — bytes untouched.
    * Work is therefore proportional to the data in TOUCHED buckets, not
    * the table: an append stream over a subset of keys folds just those
    * buckets, which is what makes maintenance payable when the table is
    * 100 TB but the day's appends are not. (When every bucket was
    * appended to, a fold necessarily re-sorts every bucket — same as the
    * reference absorbing appends into every touched B-tree page,
    * btree.c:644-745.)
    *
    * The fold is ONE Spark job: the hot files are read together and
    * re-written through the same bucketBy spec into a staging table, so
    * each output file lands with the correct bucket id in its name (the
    * bucket hash is a pure function of the key columns). The staged files
    * plus the renamed-in cold files then install via the commit-marker +
    * two-rename swap of [[installBucketedFold]] (crash recovery:
    * [[recoverCompact]] at entry rolls a committed marker forward).
    * Returns (filesBefore, filesAfter).
    */
  def compactBucketed(spark: SparkSession, table: String): (Int, Int) =
    bucketedOp(spark, table, "compactBucketed", readerExclusive = true) { b =>
    guardCompactable(b.fs, b.loc)
    dropFoldLeftovers(spark, table)
    val before = b.dataFiles(b.loc)
    val byBucket = before.groupBy { s =>
      bucketIdOf(s.getPath.getName).getOrElse(
        sys.error(s"compactBucketed: ${s.getPath.getName} has no bucket id — " +
          s"foreign file in bucketed table dir ${b.loc}"))
    }
    val hot = byBucket.filter(_._2.size > 1)
    if (hot.isEmpty) {
      // nothing to fold — but a roll-forward recovery (recoverCompact at
      // entry) installs the folded layout WITHOUT a manifest (the
      // bucketed staging never carries one), so returning here without a
      // regen would strand the table manifest-less forever: every slice
      // re-reads all bucket files and every append pays the max(ts) scan
      b.seriesTs.foreach { ts =>
        val ok = readManifest(b.fs, b.loc).exists(m =>
          m.ts == ts && manifestConsistent(m, before))
        if (!ok) writeManifest(spark, b.loc.toString, ts)
      }
      spark.catalog.refreshTable(table)
      return (before.size, before.size)
    }
    val cold = byBucket.filterNot(k => hot.contains(k._1)).values.flatten.toSeq
    val hotPaths = hot.values.flatten.map(_.getPath.toString).toSeq
    installBucketedFold(spark, b, spark.read.schema(b.ct.schema).parquet(hotPaths: _*),
      hot.keySet, cold, "compactBucketed", "bkt")
    spark.catalog.refreshTable(table)
    (before.size, b.dataFiles(b.loc).size)
    }

  /** The install shared by the in-place bucketed rewrites
    * ([[compactBucketed]], [[deleteRangeBucketed]]): write `input` through
    * the table's own spec into the staged `<table>__fold` table, so each
    * output lands with the correct bucket id; stage the outputs with the
    * stream-commit log and retired-dirs ledger in `<loc>.compact.tmp`;
    * write the commit marker naming `carried` (live files kept as they
    * are); move them in; swap the directory; regenerate the manifest.
    * `buckets` are the bucket ids the rewrite may write — the bucket hash
    * is the same function both writes used, so an output outside them
    * means corruption and stops the install. Crash tags are `tag`-prefixed.
    */
  private def installBucketedFold(spark: SparkSession, b: BucketedTable,
                                  input: DataFrame, buckets: Set[Int],
                                  carried: Seq[FileStatus],
                                  op: String, tag: String): Unit = {
    val fs = b.fs
    val loc = b.loc
    val foldTable = b.name + "__fold"
    saveBucketed(input, b.bs, foldTable, SaveMode.Overwrite)
    crashPoint(s"$tag:folded")
    val foldLoc = new Path(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(foldTable)).location)
    val tmp = new Path(loc.toString + ".compact.tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (!fs.mkdirs(tmp)) sys.error(s"$op: cannot create staging $tmp")
    // one footer pass over the fold outputs (only the row count is used):
    // the bucket-id check, and the zero-row drop — a bucket whose every
    // row a delete removed writes an empty file
    scanEntriesWithRows(spark.sparkContext.hadoopConfiguration,
      b.seriesTs.getOrElse(""), b.dataFiles(foldLoc), loaded = true)
      .foreach { case (e, rows) =>
        val id = bucketIdOf(e.name)
        if (!id.exists(buckets)) sys.error(
          s"$op: folded file ${e.name} maps to bucket " +
            s"${id.map(_.toString).getOrElse("<unparsed>")}, which the " +
            "rewrite did not cover — refusing to install")
        if (!rows.contains(0L) &&
            !fs.rename(new Path(foldLoc, e.name), new Path(tmp, e.name)))
          sys.error(s"$op: cannot stage folded file ${e.name}")
      }
    // the stream-commit log AND the retired-dirs ledger travel with the
    // layout: the two-rename swap replaces the whole dir, so both
    // sidecars must be staged into tmp — losing the commit log would
    // re-append replayed batches; losing the ledger would orphan retired
    // generations (leaked forever by reclaim, then deleted PIN-BLIND by
    // the stale-generation sweep while in-grace readers scan them)
    locally {
      val sc = readStreamCommits(fs, loc)
      if (sc.committed.nonEmpty) writeStreamCommits(fs, tmp, sc.copy(pending = None))
      val ledger = readRetiredDirs(fs, loc)
      if (ledger.nonEmpty) writeSmallFileAtomic(fs, new Path(tmp, RetiredDirsName),
        org.json4s.jackson.Serialization.write(ledger))
    }
    crashPoint(s"$tag:staged")
    // COMMIT marker (the recoverCompact protocol: a JSON list of the files
    // still to move) — from here recovery rolls the swap forward
    val marker = new Path(loc.toString + ".compact.commit")
    writeSmallFileAtomic(fs, marker,
      org.json4s.jackson.Serialization.write(carried.map(_.getPath.getName)))
    crashPoint(s"$tag:marker")
    carried.foreach { s =>
      if (!fs.rename(s.getPath, new Path(tmp, s.getPath.getName)))
        sys.error(s"$op: cannot move carried file ${s.getPath} into staging")
      crashPoint(s"$tag:cold-moved")
    }
    swapInstall(fs, loc, tmp, new Path(loc.toString + ".compact.old"), op, tag)
    fs.delete(marker, false)
    dropFoldLeftovers(spark, b.name)
    // the pre-rewrite manifest travelled into `.compact.old` with the rest
    // of the replaced dir — regenerate it over the installed layout (every
    // file loaded=true again)
    b.seriesTs.foreach(ts => writeManifest(spark, loc.toString, ts))
  }

  /** TABLE_delete(from, till) on a BUCKETED catalog table — the rolling
    * -retention delete the reference applies to every stored table
    * (btree.c:747-899; head deletion is its own streaming-retention
    * pattern, user_guide.html). Same O(affected range) shape as the
    * clustered [[deleteRange]]: the ordered-ingest manifest's per-file ts
    * bounds split the live files into ts-DISJOINT ones (carried by RENAME
    * — metadata ops, bytes untouched, names preserved) and INTERSECTING
    * ones (read, filtered, rewritten through the table's own bucket spec
    * so each output lands with a correct bucket id). Installs via the
    * commit-marker + two-rename swap [[compactBucketed]] uses
    * ([[installBucketedFold]]) — crash recovery is shared
    * ([[recoverCompact]] rolls a committed marker forward at the next
    * op's entry). Stat-less manifest entries and non-literal bounds
    * conservatively join the rewrite set; a delete no file intersects is
    * a pure no-op.
    *
    * A bucket holding both carried and rewritten files temporarily has
    * >1 file (the same state [[appendBucketed]] creates); the next fold
    * restores one sorted file per bucket. Reader-EXCLUSIVE like the
    * in-place fold (the swap replaces the directory) — refuses under a
    * live reader pin; inclusive [from, till], NULL-ts rows survive.
    */
  def deleteRangeBucketed(spark: SparkSession, table: String,
                          from: Column, till: Column): Unit =
    bucketedOp(spark, table, "deleteRangeBucketed", readerExclusive = true) { b =>
    val ts = b.seriesTs.getOrElse(
      sys.error(s"deleteRangeBucketed: $table has no series ts sort column — " +
        "a key-only bucket spec carries no series order to delete by"))
    val dt = b.ct.schema.fields.find(_.name.equalsIgnoreCase(ts)).map(_.dataType)
      .getOrElse(sys.error(s"deleteRangeBucketed: sort column $ts missing " +
        s"from $table's schema"))
    guardCompactable(b.fs, b.loc)
    dropFoldLeftovers(spark, table)
    val files = b.dataFiles(b.loc)
    if (files.isEmpty) return
    // the manifest-pruned split (trustworthy manifest only — a stale one
    // cannot prove a file disjoint); bounds on the manifest's ns scale
    val entryBounds: Map[String, (Option[Long], Option[Long])] =
      readManifest(b.fs, b.loc).filter(_.ts == ts)
        .filter(manifestConsistent(_, files))
        .map(_.files.map(e => e.name -> (e.minNs, e.maxNs)).toMap)
        .getOrElse(Map.empty)
    val bounds = deleteBoundsNs(spark, dt, from, till)
    val (carried, rewrite) = bounds match {
      case Some((fromNs, tillNs)) => files.partition { s =>
        entryBounds.get(s.getPath.getName) match {
          case Some((Some(mn), Some(mx))) => mx < fromNs || mn > tillNs
          case _ => false
        }
      }
      case None => (Seq.empty[FileStatus], files)
    }
    if (rewrite.isEmpty) return // nothing intersects — pure no-op
    // filtered rewrite of the intersecting files through the bucket spec
    // (NULL-ts rows are outside every range — the isNull arm keeps them
    // from being deleted by three-valued logic, like the clustered path)
    installBucketedFold(spark, b,
      spark.read.schema(b.ct.schema).parquet(rewrite.map(_.getPath.toString): _*)
        .filter(col(ts).isNull || !(col(ts) >= from && col(ts) <= till)),
      rewrite.flatMap(s => bucketIdOf(s.getPath.getName)).toSet, carried,
      "deleteRangeBucketed", "bktdel")
    spark.catalog.refreshTable(table)
    }

  /** TABLE_get over a BUCKETED table: ts-range scan with file-level
    * pruning from the manifest sidecar — the second half of the
    * reference's B-tree contract (per-key locality AND ts search,
    * btree.c:479-589), which the bucketed layout previously lacked.
    *
    * What prunes: append batches (one file per touched bucket, each
    * spanning only its batch's ts range) outside the slice are skipped
    * entirely — the steady-state win for "recent data" scans between
    * folds. The base load's bucket files each span the table's full ts
    * range by construction (sorted by (keys, ts) WITHIN a bucket), so
    * they prune only when the slice excludes the whole table; after a
    * fold the same holds. This mirrors the trade the reference makes:
    * its per-key B-trees also hold each key's full history, and a ts
    * search descends within them.
    *
    * The pruned read serves files directly, so the result does NOT carry
    * the bucket-join (zero-Exchange) property — correct for slice scans,
    * which aggregate or feed small joins; a caller joining ON the bucket
    * keys should read `spark.table(table)` instead. Falls back to the
    * plain catalog table (parquet row-group pruning still applies) when
    * the manifest is absent or stale.
    */
  def rangeScanBucketed(spark: SparkSession, table: String,
                        fromNs: Long, tillNs: Long): DataFrame = {
    val ct = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val bs = ct.bucketSpec.getOrElse(
      sys.error(s"rangeScanBucketed: $table carries no bucket spec"))
    val ts = seriesTsOf(bs.bucketColumnNames, bs.sortColumnNames).getOrElse(
      sys.error(s"rangeScanBucketed: $table has no series ts sort column — " +
        "a key-only bucket spec carries no series order to scan by"))
    val dt = ct.schema.fields.find(_.name.equalsIgnoreCase(ts)).map(_.dataType)
      .getOrElse(sys.error(s"rangeScanBucketed: sort column $ts missing from " +
        s"$table's schema"))
    val base = governedLive(spark, new Path(ct.location).toString, Some(ts))
      .map(live => liveFrame(spark, live, live.overlapping(fromNs, tillNs),
        schema = Some(ct.schema)))
      .getOrElse(spark.table(table))
    base.filter(col(ts) >= tsLit(fromNs, dt) && col(ts) < tsLit(tillNs, dt))
  }

  // ---- introspection (cs_used_memory / cs_profile, imcs.c:5716-5767) ----

  /** Operational snapshot of a managed table directory — see
    * [[TableStats]]. Metadata-only: one listing plus the sidecars
    * (manifest, stream commits, lease, pins); zero data bytes read. An
    * ungoverned or absent path reports governed=false with the plain
    * listing's file counts. Values are an instantaneous, lock-free read —
    * concurrent maintenance can move them; use inside a lease/pin for a
    * stable view.
    */
  def tableStats(conf: org.apache.hadoop.conf.Configuration,
                 path: String): TableStats = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(conf)
    val exists = fs.exists(hp) && fs.getFileStatus(hp).isDirectory
    val listing = if (exists) fs.listStatus(hp).filter(_.isFile).toSeq
                  else Seq.empty
    val dataByName = listing.filter(s => isDataFile(s.getPath.getName))
      .map(s => s.getPath.getName -> s.getLen).toMap
    val m = if (exists) readManifest(fs, hp) else None
    val (liveFiles, liveBytes, unloaded) = m match {
      case Some(mm) =>
        (mm.files.size, mm.files.map(_.bytes).sum, mm.files.count(!_.loaded))
      case None => (dataByName.size, dataByName.values.sum, 0)
    }
    val (retFiles, retBytes) = m.map { mm =>
      val present = mm.retired.flatMap(r => dataByName.get(r.name))
      (present.size, present.sum)
    }.getOrElse((0, 0L))
    val sc = if (exists) readStreamCommits(fs, hp) else StreamCommits(Map.empty)
    val lease = new Path(hp.getParent, hp.getName + ".lease")
    val leaseAge = scala.util.Try(fs.getFileStatus(lease)).toOption
      .map(s => System.currentTimeMillis() - s.getModificationTime)
    val leaseLive = leaseAge.exists(_ < leaseTtlMs)
    val leaseOp =
      if (!leaseLive) ""
      else scala.util.Try(org.json4s.jackson.Serialization
        .read[Map[String, String]](readSmallText(fs, lease))
        .getOrElse("op", "<unknown>")).getOrElse("<unreadable>")
    val now = System.currentTimeMillis()
    val pins = scala.util.Try(
      fs.globStatus(new Path(hp.getParent, hp.getName + ".pin.*"))).toOption
      .map(_.toSeq).getOrElse(Seq.empty)
      .count(s => s.isFile && now - s.getModificationTime < leaseTtlMs)
    TableStats(path, m.isDefined, m.map(_.ts).getOrElse(""),
      liveFiles, liveBytes, unloaded, retFiles, retBytes,
      sc.committed.size,
      if (sc.committed.isEmpty) -1L else sc.committed.values.max,
      sc.pending.isDefined, leaseOp,
      if (leaseLive) leaseAge.get else -1L, pins)
  }

  /** [[tableStats]] as a one-row DataFrame (columns = the case class's
    * snake_case fields) for a managed clustered path.
    */
  def stats(spark: SparkSession, path: String): DataFrame =
    spark.createDataFrame(Seq(
      tableStats(spark.sparkContext.hadoopConfiguration, path)))

  /** [[stats]] for a bucketed CATALOG table — resolves the table's
    * CURRENT generation location (it moves on every isolated fold).
    */
  def statsTable(spark: SparkSession, table: String): DataFrame = {
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location
    stats(spark, new Path(loc).toString)
  }

  /** [[tableStats]] rendered as one JSON object — the payload of the
    * `cs_table_stats(path)` SQL expression. Resolves the Hadoop
    * configuration from the active (or default) session when one exists
    * in this JVM — a bare `new Configuration()` would miss session-set
    * filesystem credentials/impls (s3a etc., r13 review finding #6) —
    * and falls back to defaults only when no session is visible (an
    * executor evaluating the expression remotely; core-site still
    * applies there).
    */
  def statsJson(path: String): String = {
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    org.json4s.jackson.Serialization.write(tableStats(conf, path))
  }

  /** [[loadBucketed]] unless `table` already exists with data on disk AND
    * the catalog's bucket spec matches the requested one — the
    * repeat-measurement path: bucketed ingest is PAY-ONCE by design, so a
    * caller re-running the same pipeline (bench warm reps, resumed
    * sessions over the same warehouse) must not re-pay the ingest shuffle
    * per run. The spec check matters on a persistent warehouse: without
    * it, changing the bucket count / keys / sort in code would be
    * silently ignored forever, measuring the OLD layout under the new
    * claim. The caller still owns name-keying the table to its inputs
    * (e.g. a source-dir suffix).
    */
  def loadBucketedIfAbsent(df: DataFrame, table: String, keys: Seq[String],
                           buckets: Int, sortCols: Seq[String] = Seq()): Unit = {
    val spark = df.sparkSession
    val present = spark.catalog.tableExists(table) && {
      // Try: tableExists is true for temp views too, and a qualified name
      // won't resolve through a bare TableIdentifier — both must degrade
      // to "not present, re-ingest", never throw out of a presence check
      val wantSort = (keys ++ sortCols).map(_.toLowerCase)
      scala.util.Try(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table))
      ).toOption.exists { ct =>
        val specOk = ct.bucketSpec.exists(bs =>
          bs.numBuckets == buckets &&
            bs.bucketColumnNames.map(_.toLowerCase) == keys.map(_.toLowerCase) &&
            bs.sortColumnNames.map(_.toLowerCase) == wantSort)
        specOk && {
          // the CATALOG's recorded location, not a $warehouse/$table
          // reconstruction: the two diverge on custom locations, renamed
          // warehouse dirs, or name normalization — and a presence check
          // against the wrong dir either serves an empty table or forces
          // perpetual re-ingest
          val loc = new org.apache.hadoop.fs.Path(ct.location)
          val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
          // a catalog entry whose location was wiped (killed run, cleaned
          // warehouse) is not a table — re-ingest
          fs.exists(loc) && fs.listStatus(loc)
            .exists(s => s.isFile && isDataFile(s.getPath.getName) && s.getLen > 0)
        }
      }
    }
    if (!present) loadBucketed(df, table, keys, buckets, sortCols)
  }
}
