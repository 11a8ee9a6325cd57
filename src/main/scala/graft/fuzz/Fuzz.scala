package graft.fuzz

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.Random

/** One randomly generated operator pipeline: a Spark program composed of
  * graft operators plus the equivalent DuckDB SQL over the same parquet
  * tables. `seed` fully determines the program — re-running with the same
  * seed replays it exactly.
  */
case class FuzzProgram(seed: Long, desc: String,
                       run: (SparkSession, String) => DataFrame,
                       sql: String)

/** Randomized differential fuzzing of operator COMPOSITIONS.
  *
  * The gated queries in [[graft.SparkEntry]] are fixed shapes and the
  * property specs cover single operators; this generator composes random
  * pipelines — filter → window → cum → diff/norm/rank/crossings →
  * as-of (window form AND the custom merge exec)/stretch/cs_if/win-group →
  * top-k/grid/group-agg/hash-dup/histogram/quantile/HLL/cs_hash aggregates
  * over random key sets (including the keyless ranged-scan paths), four
  * source layouts (plain, rangeScan slice, union-of-slices, bucketed
  * catalog table) and
  * NULL-injected value columns — and renders each into DuckDB SQL with the
  * semantics each graft path documents (keyed paths use SQL window
  * aggregates; keyless paths use the reference's naive var formula,
  * func.c:1475-1491, rendered verbatim so the oracle matches the path
  * taken). Differencing N programs per run against DuckDB exercises the
  * operator interactions no fixed inventory reaches: non-dense `pos` after
  * filters feeding the ranged scans, NULL frames inside sliding windows,
  * as-of joins over enriched frames, warm-up rows feeding grid buckets.
  *
  * Grammar constraints are semantic, not cosmetic: stages whose keyless
  * scan documents a no-NULL input contract (cumAgg, diff, rank — the scan
  * reads the value as a primitive) are only generated when the value
  * column is NULL-free at that point (either never nullified or already
  * re-densified by a value filter), mirroring the operators' documented
  * contracts rather than hiding them.
  */
object FuzzGen {
  private type Xf = (DataFrame, SparkSession, String) => DataFrame

  private def q(c: String) = "\"" + c + "\""

  /** A fuzz source table, canonicalized to the fixed pipeline schema
    * (event_id BIGINT unique, ts BIGINT µs, user_id BIGINT, event_type
    * VARCHAR low-cardinality, "value" DOUBLE) so every stage generator
    * works against any base. Spans/thresholds are per-base because the
    * ts resolution (events: sub-second; lineitem: whole days — heavy ts
    * ties) and value domains (events 0..328; l_quantity 1..50 with heavy
    * duplicates; l_extendedprice 900..105k) differ.
    */
  case class FuzzBase(label: String, srcSql: String,
                      srcSpark: (SparkSession, String) => DataFrame,
                      types: Vector[String],
                      valLo: Double, valSpan: Double,
                      histLoMax: Int, histBase: Int, histSpan: Int,
                      winBefore: Vector[Long], winAfter: Vector[Long],
                      tols: Vector[Long])

  private val eventsBase = FuzzBase(
    label = "events",
    srcSql = """SELECT event_id, epoch_us(ts) AS ts, user_id, event_type, "value" FROM events""",
    srcSpark = (s, sf) => graft.io.Tables.read(s, sf, "events")
      .select(col("event_id"), expr("ts div 1000").as("ts"),
        col("user_id"), col("event_type"), col("value")),
    types = Vector("click", "error", "purchase", "signup", "view"),
    valLo = 5.0, valSpan = 150.0,
    histLoMax = 50, histBase = 50, histSpan = 250,
    winBefore = Vector(0L, 3_600_000_000L, 21_600_000_000L),
    winAfter = Vector(3_600_000_000L, 21_600_000_000L),
    tols = Vector(600_000_000L, 3_600_000_000L, 43_200_000_000L))

  /** eventsBase restricted to a seeded ts range, entered through
    * Tables.rangeScan — fuzzes the TABLE_get path (typed-literal
    * pushdown, NTZ file-level pruning, [from,till) boundary semantics)
    * against a plain WHERE in DuckDB. Bounds derive from the seed alone
    * (replayable); the generator's epoch is 2024-01-01, so slices land
    * inside the fixture's ~30-day span — an empty slice (possible if the
    * fixture's epoch ever moves) still diffs validly, just vacuously.
    */
  private def eventsSliceBase(seed: Long): FuzzBase = {
    val dayUs = 86_400_000_000L
    val epochUs = 1704067200000000L // 2024-01-01T00:00:00Z
    val fromUs = epochUs + (seed % 23) * dayUs +
      ((seed / 23) % 24) * 3_600_000_000L
    val tillUs = fromUs + (1L + seed % 11) * dayUs
    def iso(us: Long) = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L),
      java.time.ZoneOffset.UTC).format(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    eventsBase.copy(
      label = s"events[${iso(fromUs)},${iso(tillUs)})",
      srcSql = "SELECT event_id, epoch_us(ts) AS ts, user_id, event_type, " +
        s""""value" FROM events WHERE ts >= TIMESTAMP '${iso(fromUs)}' """ +
        s"""AND ts < TIMESTAMP '${iso(tillUs)}'""",
      srcSpark = (s, sf) => graft.io.Tables
        .rangeScan(s, sf, "events", fromUs * 1000L, tillUs * 1000L)
        .select(col("event_id"), expr("ts div 1000").as("ts"),
          col("user_id"), col("event_type"), col("value")))
  }

  /** Two DISJOINT seeded ts slices, each entered through Tables.rangeScan,
    * concatenated with Align.unionMerge — the TABLE_concat-of-period-slices
    * idiom. UnionDisjointFilterCollapse folds the union back into ONE
    * pruned scan (UnionCollapseSpec pins the plan; this base diffs the
    * rewritten RESULTS against a plain WHERE-or in DuckDB across every
    * downstream pipeline the grammar composes).
    */
  private def eventsConcatBase(seed: Long): FuzzBase = {
    val dayUs = 86_400_000_000L
    val epochUs = 1704067200000000L // 2024-01-01T00:00:00Z
    val f1 = epochUs + (seed % 8) * dayUs
    val t1 = f1 + (1L + seed % 3) * dayUs
    val f2 = t1 + (1L + (seed / 3) % 4) * dayUs
    val t2 = f2 + (1L + (seed / 7) % 3) * dayUs
    def iso(us: Long) = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L),
      java.time.ZoneOffset.UTC).format(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    def cut(f: Long, t: Long) =
      s"""(ts >= TIMESTAMP '${iso(f)}' AND ts < TIMESTAMP '${iso(t)}')"""
    eventsBase.copy(
      label = s"events[${iso(f1)},${iso(t1)})+[${iso(f2)},${iso(t2)})",
      srcSql = "SELECT event_id, epoch_us(ts) AS ts, user_id, event_type, " +
        s""""value" FROM events WHERE ${cut(f1, t1)} OR ${cut(f2, t2)}""",
      srcSpark = (s, sf) => {
        def slice(f: Long, t: Long) = graft.io.Tables
          .rangeScan(s, sf, "events", f * 1000L, t * 1000L)
        graft.join.Align.unionMerge(slice(f1, t1), slice(f2, t2))
          .select(col("event_id"), expr("ts div 1000").as("ts"),
            col("user_id"), col("event_type"), col("value"))
      })
  }

  /** eventsBase served from a BUCKETED catalog table (loadBucketedIfAbsent:
    * bucketBy user_id, one sorted file per bucket, sort-order propagation
    * on) — fuzzes every downstream pipeline over the zero-shuffle layout
    * q_asof_bucketed gates, so bucket pruning / order-propagation bugs
    * surface as differential mismatches, not just plan-shape regressions.
    * The SQL side is unchanged: bucketing is layout, never semantics.
    */
  private def bucketedEventsBase: FuzzBase = eventsBase.copy(
    label = "events_bucketed",
    srcSpark = (s, sf) => {
      s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val name = "g_fuzz_bkt_" + graft.io.Tables.dirKey(sf)
      graft.io.Tables.loadBucketedIfAbsent(
        eventsBase.srcSpark(s, sf), name, Seq("user_id"), 8, sortCols = Seq("ts"))
      s.table(name)
    })

  /** eventsBase served through a full LIFECYCLE round-trip: the events
    * frame is split at a seeded ts cut, loaded below it (clustered layout
    * + manifest), appended above it, and — on half the seeds — folded
    * back by compactIncremental; reads come from the resulting table dir.
    * Fuzzes the load/append/compact data path (manifest extension, hot
    * file clustering, fold rewrite, recovery-clean reads) under every
    * downstream pipeline: the lifecycle is layout, never semantics, so
    * the SQL twin is unchanged. Ingest is pay-once per (process, sf, cut,
    * fold) — a process-keyed dir, re-served from disk across seeds.
    */
  private val lifecycleTag = java.util.UUID.randomUUID().toString.take(8)
  private def lifecycleBase(seed: Long): FuzzBase = {
    val cutIdx = (seed % 3).toInt
    val doFold = (seed / 3) % 2 == 0
    eventsBase.copy(
      label = s"events_lifecycle(cut$cutIdx,${if (doFold) "folded" else "fragmented"})",
      srcSpark = (s, sf) => {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_fuzz_lc_" +
          s"${lifecycleTag}_${graft.io.Tables.dirKey(sf)}_${cutIdx}_$doFold"
        val hp = new org.apache.hadoop.fs.Path(path)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        // completion marker, not load's own manifest: the manifest appears
        // after step 1 of the 3-step ingest, so using it as the pay-once
        // witness would serve a HALF-ingested table to every later seed
        // if append/fold ever died mid-way (spurious differential storm)
        val ready = new org.apache.hadoop.fs.Path(path, "_graft_fuzz_ready")
        if (!fs.exists(ready)) {
          fs.delete(hp, true)
          val ev = graft.io.Tables.read(s, sf, "events")
          val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
          val cut = mm.getLong(0) +
            (mm.getLong(1) - mm.getLong(0)) / 4 * (cutIdx + 1)
          graft.io.Tables.load(ev.filter(col("ts") < cut), path,
            Seq("event_type"), "ts")
          graft.io.Tables.append(ev.filter(col("ts") >= cut), path, "ts", lit(cut))
          if (doFold)
            graft.io.Tables.compactIncremental(s, path, Seq("event_type"), "ts")
          fs.create(ready, true).close()
        }
        // snapshot: the fold grace-retains the replaced hot files in place
        // for in-flight readers — a plain dir read would double-count them
        graft.io.Tables.snapshot(s, path)
          .select(col("event_id"), expr("ts div 1000").as("ts"),
            col("user_id"), col("event_type"), col("value"))
      })
  }

  private def lineitemBase(seed: Long): FuzzBase = {
    // seed arithmetic, not rnd.nextBoolean(): java.util.Random's first
    // draw is heavily correlated across sequential seeds (a 100-seed
    // sweep picked the same column 40/40 times)
    val useQty = (seed / 5) % 2 == 0
    val (vc, lo, span, hLoMax, hBase, hSpan) =
      if (useQty) ("l_quantity", 1.0, 49.0, 10, 10, 40)
      else ("l_extendedprice", 1000.0, 80000.0, 20000, 20000, 80000)
    val day = 86_400_000_000L
    FuzzBase(
      label = s"lineitem/$vc",
      // event_id must be UNIQUE (it is the deterministic tiebreak for pos
      // and top-k), but this synthetic lineitem has ~12k duplicate
      // (l_orderkey, l_linenumber) pairs — so derive the id as a
      // row_number over the FULL column ordering. Deterministic in both
      // engines: distinct rows order identically; ties happen only
      // between fully-identical rows, which are interchangeable. The
      // single-partition window is fine at fuzz scale (≤60k rows).
      srcSql = s"""SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber, """ +
        s"""l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount, """ +
        s"""l_tax, l_returnflag, l_linestatus, l_shipdate) AS event_id, """ +
        s"""epoch_us(l_shipdate) AS ts, l_partkey AS user_id, """ +
        s"""l_returnflag AS event_type, $vc AS "value" FROM lineitem""",
      srcSpark = (s, sf) => {
        val ordCols = Seq("l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey", "l_quantity", "l_extendedprice", "l_discount",
          "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
        val w = org.apache.spark.sql.expressions.Window.orderBy(ordCols.map(col): _*)
        graft.io.Tables.read(s, sf, "lineitem")
          .select(row_number().over(w).cast("long").as("event_id"),
            // l_shipdate reads as TIMESTAMP_NTZ; the session tz is UTC in
            // every harness, so the cast matches DuckDB's naive epoch_us
            unix_micros(col("l_shipdate").cast("timestamp")).as("ts"),
            col("l_partkey").as("user_id"),
            col("l_returnflag").as("event_type"),
            col(vc).as("value"))
      },
      types = Vector("A", "N", "R"),
      valLo = lo, valSpan = span,
      histLoMax = hLoMax, histBase = hBase, histSpan = hSpan,
      winBefore = Vector(0L, day, 7 * day),
      winAfter = Vector(day, 7 * day),
      tols = Vector(day, 7 * day, 30 * day))
  }

  def gen(seed: Long, baseOverride: Option[String] = None): FuzzProgram = {
    // BASE=cs routes the whole seed to the cs_* SQL-surface grammar
    // (its own draw stream — row-grammar seed replays are unaffected);
    // BASE=csalign forces the align leg for every seed (replay + soak)
    if (baseOverride.contains("csalign")) return genCsAlign(seed)
    if (baseOverride.contains("cs")) return genCs(seed)
    val rnd = new Random(seed)
    // Base chosen by seed arithmetic, NOT an rnd draw: events-based
    // programs keep the exact pre-lineitem draw stream, so pinned
    // regression seeds replay the same programs (with BASE=events).
    val base: FuzzBase = baseOverride match {
      case Some("lineitem")          => lineitemBase(seed)
      case Some("events_slice")      => eventsSliceBase(seed)
      case Some("events_concat")     => eventsConcatBase(seed)
      case Some("events_bucketed")   => bucketedEventsBase
      case Some("events_lifecycle")  => lifecycleBase(seed)
      case Some(_)                   => eventsBase
      // events seeds split plain / rangeScan-sliced / two-slice concat /
      // bucketed-layout / lifecycle-round-trip; pinned seeds from before
      // a mapping change replay via BASE override
      case None =>
        if (seed % 5 >= 3) lineitemBase(seed)
        else if (seed % 10 == 2 || seed % 10 == 7) eventsSliceBase(seed)
        else if (seed % 10 == 6) eventsConcatBase(seed)
        else if (seed % 10 == 1) bucketedEventsBase
        else if (seed % 10 == 5) lifecycleBase(seed)
        else eventsBase
    }
    val EventTypes = base.types
    val keys: Seq[String] = rnd.nextInt(4) match {
      case 0 => Seq()
      case 1 => Seq("user_id")
      case 2 => Seq("event_type")
      case _ => Seq("user_id", "event_type")
    }
    val nullMod = Vector(0, 0, 7, 13)(rnd.nextInt(4))
    var hasNulls = nullMod > 0
    val pb = if (keys.isEmpty) "" else s"PARTITION BY ${keys.map(q).mkString(", ")} "
    val desc = new StringBuilder(
      s"base=${base.label} keys=${if (keys.isEmpty) "<none>" else keys.mkString(",")}" +
        (if (nullMod > 0) s" nulls%$nullMod" else ""))

    var cols = Vector("event_id", "ts", "user_id", "event_type", "value", "pos")
    var xforms = Vector.empty[Xf]
    var depth = 0
    // ts is canonicalized to MICROSECONDS on both sides (FuzzBase.srcSql /
    // srcSpark): Spark reads events' TIMESTAMP(NANOS) parquet as long ns
    // (nanosAsLong), but DuckDB's parquet reader truncates to its µs
    // TIMESTAMP — epoch_ns() would yield trailing zeros and every raw-ts
    // output would mismatch. Both engines ordering and as-of-comparing the
    // SAME µs value keeps pos and join semantics aligned (the event_id
    // tiebreak absorbs µs ties — and lineitem's day-resolution ties).
    var sql = {
      val v =
        if (nullMod > 0) s"""CASE WHEN event_id % $nullMod = 0 THEN NULL ELSE "value" END"""
        else "\"value\""
      s"""SELECT event_id, ts, user_id, event_type, $v AS "value", """ +
        s"""row_number() OVER (${pb}ORDER BY ts, event_id) - 1 AS pos FROM (${base.srcSql}) b0"""
    }
    val baseXf: Xf = (_, s, sf) => {
      var df = base.srcSpark(s, sf)
      if (nullMod > 0)
        df = df.withColumn("value",
          when(col("event_id") % nullMod === 0, lit(null)).otherwise(col("value")))
      graft.series.Series.attachPos(df, keys, Seq(col("ts"), col("event_id")))
    }

    /** Wrap the current SQL in a subselect adding `extras` (expr AS name)
      * and/or a WHERE over the inner columns. */
    def wrap(extras: Seq[(String, String)], where: Option[String] = None): Unit = {
      depth += 1
      val sel = cols.map(q).mkString(", ") +
        extras.map { case (e, n) => s", $e AS ${q(n)}" }.mkString
      sql = s"SELECT $sel FROM ($sql) t$depth" + where.map(" WHERE " + _).getOrElse("")
      cols = cols ++ extras.map(_._2)
    }

    /** Wrap replacing one column's value (same name, new expression). */
    def replaceColSql(name: String, expr: String): Unit = {
      depth += 1
      val sel = cols.map(c => if (c == name) s"$expr AS ${q(c)}" else q(c)).mkString(", ")
      sql = s"SELECT $sel FROM ($sql) t$depth"
    }

    /** Wrap filtering on a window predicate (QUALIFY — windows are not
      * legal in WHERE); column set unchanged. */
    def qualifySql(pred: String): Unit = {
      depth += 1
      sql = s"SELECT ${cols.map(q).mkString(", ")} FROM ($sql) t$depth QUALIFY $pred"
    }

    /** Drop helper columns (project to `keep`) with an optional WHERE over
      * the full inner column set — for stages whose Spark form computes
      * temps, filters on them, then drops them. */
    def projectSql(keep: Vector[String], where: Option[String] = None): Unit = {
      depth += 1
      sql = s"SELECT ${keep.map(q).mkString(", ")} FROM ($sql) t$depth" +
        where.map(" WHERE " + _).getOrElse("")
      cols = keep
    }

    // ---- enrichment stages ------------------------------------------------
    def windowAggStage(tag: String): Unit = {
      val n = 2 + rnd.nextInt(39)
      // keyless w_var/w_dev come out of the ring-buffer scan's naive
      // accumulation — the SQL var_pop rendering only matches the keyed
      // path's var_pop; keep the ref-formula variants for keyless (their
      // SQL is the identical arithmetic, so only summation-order ulps
      // differ, well inside the checker's tolerance)
      val cands =
        if (keys.isEmpty)
          Vector("w_sum", "w_avg", "w_min", "w_max", "w_avg_ref", "w_var_ref", "w_dev_ref")
        else
          Vector("w_sum", "w_avg", "w_min", "w_max", "w_var", "w_dev",
            "w_avg_ref", "w_var_ref", "w_dev_ref")
      val keep = rnd.shuffle(cands).take(2).sorted
      val all = Vector("w_sum", "w_avg", "w_min", "w_max", "w_var", "w_dev",
        "w_avg_ref", "w_var_ref", "w_dev_ref")
      val w = s"(${pb}ORDER BY ${q("pos")} ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW)"
      val ref = s"""(sum("value" * "value") OVER $w - """ +
        s"""sum("value") OVER $w * sum("value") OVER $w / $n) / $n"""
      def ex(c: String) = c match {
        case "w_sum"     => s"""sum("value") OVER $w"""
        case "w_avg"     => s"""avg("value") OVER $w"""
        case "w_min"     => s"""min("value") OVER $w"""
        case "w_max"     => s"""max("value") OVER $w"""
        case "w_var"     => s"""var_pop("value") OVER $w"""
        case "w_dev"     => s"""sqrt(var_pop("value") OVER $w)"""
        case "w_avg_ref" => s"""sum("value") OVER $w / $n"""
        case "w_var_ref" => ref
        case "w_dev_ref" => s"sqrt(greatest($ref, 0.0))"
      }
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) => {
        val out = graft.window.Moving.windowAgg(df, keys, "value", n)
        val dropped = out.drop(all.filterNot(keep.contains): _*)
        keep.foldLeft(dropped)((d, c) => d.withColumnRenamed(c, s"${tag}_$c"))
      })
      wrap(keep.map(c => ex(c) -> s"${tag}_$c"))
      desc ++= s" | windowAgg(n=$n keep=${keep.mkString(",")})"
    }

    def cumAggStage(tag: String): Unit = { // requires !hasNulls
      val all = Vector("cum_sum", "cum_avg", "cum_min", "cum_max",
        "cum_count", "cum_var", "cum_dev")
      val keep = rnd.shuffle(all).take(2).sorted
      val w = s"(${pb}ORDER BY ${q("pos")} ROWS UNBOUNDED PRECEDING)"
      val nn = s"count(*) OVER $w"
      val naive = s"""greatest((sum("value" * "value") OVER $w - """ +
        s"""sum("value") OVER $w * sum("value") OVER $w / $nn) / $nn, 0.0)"""
      def ex(c: String) = c match {
        case "cum_sum"   => s"""sum("value") OVER $w"""
        case "cum_avg"   =>
          if (keys.isEmpty) s"""sum("value") OVER $w / $nn"""
          else s"""avg("value") OVER $w"""
        case "cum_min"   => s"""min("value") OVER $w"""
        case "cum_max"   => s"""max("value") OVER $w"""
        case "cum_count" => nn
        case "cum_var"   =>
          if (keys.isEmpty) naive else s"""var_pop("value") OVER $w"""
        case "cum_dev"   =>
          if (keys.isEmpty) s"sqrt($naive)" else s"""sqrt(var_pop("value") OVER $w)"""
      }
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) => {
        val out = graft.agg.Aggs.cumAgg(df, keys, "value")
        val dropped = out.drop(all.filterNot(keep.contains): _*)
        keep.foldLeft(dropped)((d, c) => d.withColumnRenamed(c, s"${tag}_$c"))
      })
      wrap(keep.map(c => ex(c) -> s"${tag}_$c"))
      desc ++= s" | cumAgg(keep=${keep.mkString(",")})"
    }

    def diffStage(tag: String): Unit = { // null-safe on both paths
      val out = s"${tag}_diff"
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.analytics.Analytics.diff(df, keys, "value", out))
      wrap(Seq(
        s"""COALESCE("value" - lag("value") OVER (${pb}ORDER BY ${q("pos")}), 0.0)""" -> out))
      desc ++= " | diff"
    }

    def normStage(tag: String): Unit = {
      val out = s"${tag}_norm"
      val over = if (keys.isEmpty) "()" else s"(PARTITION BY ${keys.map(q).mkString(", ")})"
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.analytics.Analytics.norm(df, keys, "value", out))
      wrap(Seq(s""""value" / sqrt(sum("value" * "value") OVER $over)""" -> out))
      desc ++= " | norm"
    }

    def rankStage(tag: String): Unit = { // requires !hasNulls
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) => {
        val out = graft.window.Moving.rank(df, keys, "value")
        out.withColumnRenamed("rnk", s"${tag}_rnk")
          .withColumnRenamed("dense_rnk", s"${tag}_drnk")
      })
      wrap(Seq(
        s"""rank() OVER (${pb}ORDER BY "value")""" -> s"${tag}_rnk",
        s"""dense_rank() OVER (${pb}ORDER BY "value")""" -> s"${tag}_drnk"))
      desc ++= " | rank"
    }

    def asofStage(tag: String): Unit = {
      val dirn = if (rnd.nextBoolean()) -1 else 1
      val incl = rnd.nextBoolean()
      val rtype = EventTypes(rnd.nextInt(EventTypes.size))
      val out = s"${tag}_asof"
      xforms :+= ((df: DataFrame, s: SparkSession, sf: String) => {
        val r0 = base.srcSpark(s, sf)
          .filter(col("event_type") === rtype)
          .groupBy((keys :+ "ts").map(col): _*)
          .agg(max(col("value")).as("rv"))
        graft.join.Align.asofJoinDir(df, r0, keys, "ts", "rv", out, dirn, incl)
      })
      val cmp =
        if (dirn == -1) { if (incl) ">=" else ">" }
        else { if (incl) "<=" else "<" }
      depth += 1
      val rsel = (keys.map(q) :+ "ts AS rts").mkString(", ")
      val rsql = s"""SELECT $rsel, max("value") AS rv FROM (${base.srcSql}) be """ +
        s"""WHERE event_type = '$rtype' GROUP BY ${(1 to keys.size + 1).mkString(", ")}"""
      val keyEq = keys.map(k => s"l.${q(k)} = r.${q(k)} AND ").mkString
      sql = s"SELECT ${cols.map(c => "l." + q(c)).mkString(", ")}, r.rv AS ${q(out)} " +
        s"FROM ($sql) l ASOF LEFT JOIN ($rsql) r ON ${keyEq}l.${q("ts")} $cmp r.rts"
      cols :+= out
      desc ++= s" | asof(dir=$dirn incl=$incl right=$rtype)"
    }

    def stretchStage(tag: String): Unit = { // cs_stretch: strict-future as-of + filler
      val rtype = EventTypes(rnd.nextInt(EventTypes.size))
      val out = s"${tag}_st"
      xforms :+= ((df: DataFrame, s: SparkSession, sf: String) => {
        val r0 = base.srcSpark(s, sf)
          .filter(col("event_type") === rtype)
          .groupBy((keys :+ "ts").map(col): _*)
          .agg(max(col("value")).as("rv"))
        graft.join.Align.stretch(df, r0, keys, "ts", "rv", lit(-999.25), out)
      })
      depth += 1
      val rsel = (keys.map(q) :+ "ts AS rts").mkString(", ")
      val rsql = s"""SELECT $rsel, max("value") AS rv FROM (${base.srcSql}) be """ +
        s"""WHERE event_type = '$rtype' GROUP BY ${(1 to keys.size + 1).mkString(", ")}"""
      val keyEq = keys.map(k => s"l.${q(k)} = r.${q(k)} AND ").mkString
      sql = s"SELECT ${cols.map(c => "l." + q(c)).mkString(", ")}, " +
        s"COALESCE(r.rv, -999.25) AS ${q(out)} " +
        s"FROM ($sql) l ASOF LEFT JOIN ($rsql) r ON ${keyEq}l.${q("ts")} < r.rts"
      cols :+= out
      desc ++= s" | stretch(right=$rtype)"
    }

    def csIfStage(tag: String): Unit = { // cs_if: stateful branch-consume
      val c = math.rint((rnd.nextDouble() * base.valSpan + base.valLo) * 100) / 100
      val ta = EventTypes(rnd.nextInt(EventTypes.size))
      val tb = EventTypes(rnd.nextInt(EventTypes.size))
      val out = s"${tag}_if"
      xforms :+= ((df: DataFrame, s: SparkSession, sf: String) => {
        def side(t: String) = graft.series.Series.attachPos(
          base.srcSpark(s, sf).filter(col("event_type") === t),
          keys, Seq(col("ts"), col("event_id")))
        graft.series.Conditional.csIf(
          df.withColumn("__c", col("value") > c), keys, "__c",
          side(ta), side(tb), "value", out).drop("__c")
      })
      depth += 1
      val keyEqA = keys.map(k => s"ci.${q(k)} = a.${q(k)} AND ").mkString
      val keyEqB = keys.map(k => s"ci.${q(k)} = b.${q(k)} AND ").mkString
      def sideSql(t: String, vn: String) =
        s"SELECT ${keys.map(q).map(_ + ", ").mkString}" +
          s"row_number() OVER (${pb}ORDER BY ts, event_id) - 1 AS bpos, " +
          s""""value" AS $vn FROM (${base.srcSql}) bs WHERE event_type = '$t'"""
      val truthE = s"""("value" > $c)"""
      // NULL conditions choose no branch — csIf drops them up front
      val ciSql = s"SELECT ${cols.map(q).mkString(", ")}, $truthE AS __c, " +
        s"row_number() OVER (PARTITION BY " +
        s"${(keys.map(q) :+ truthE).mkString(", ")} ORDER BY ${q("pos")}) - 1 AS __bi " +
        s"FROM ($sql) t$depth WHERE $truthE IS NOT NULL"
      sql = s"SELECT ${cols.map(cn => "ci." + q(cn)).mkString(", ")}, " +
        s"CASE WHEN ci.__c THEN a.av ELSE b.bv END AS ${q(out)} " +
        s"FROM ($ciSql) ci " +
        s"LEFT JOIN (${sideSql(ta, "av")}) a ON ${keyEqA}ci.__c AND a.bpos = ci.__bi " +
        s"LEFT JOIN (${sideSql(tb, "bv")}) b ON ${keyEqB}(NOT ci.__c) AND b.bpos = ci.__bi"
      cols :+= out
      hasNulls = false // NULL-truth rows (NULL value) are dropped by csIf
      desc ++= s" | csIf(value>$c a=$ta b=$tb)"
    }

    def winGroupAggStage(tag: String): Unit = { // cs_win_group_*: run aggregates, length-preserving
      val all = Vector("wg_sum", "wg_min", "wg_max", "wg_avg", "wg_count",
        "wg_var", "wg_dev")
      val keep = rnd.shuffle(all).take(2).sorted
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) => {
        val out = graft.agg.Aggs.winGroupAgg(df, keys, "event_type", "value")
        val dropped = out.drop(
          (Vector("run_id", "wg_first", "wg_last") ++ all.filterNot(keep.contains)): _*)
        keep.foldLeft(dropped)((d, c) => d.withColumnRenamed(c, s"${tag}_$c"))
      })
      val orig = cols
      val lagE = s"lag(event_type) OVER (${pb}ORDER BY ${q("pos")})"
      wrap(Seq(
        s"CASE WHEN $lagE IS NULL OR $lagE <> event_type THEN 1 ELSE 0 END" -> "__wchg"))
      wrap(Seq(
        s"CAST(sum(${q("__wchg")}) OVER (${pb}ORDER BY ${q("pos")} " +
          "ROWS UNBOUNDED PRECEDING) AS BIGINT)" -> "__rid"))
      val wp = s"(PARTITION BY ${(keys.map(q) :+ q("__rid")).mkString(", ")})"
      def ex(c: String) = c match {
        case "wg_sum"   => s"""sum("value") OVER $wp"""
        case "wg_min"   => s"""min("value") OVER $wp"""
        case "wg_max"   => s"""max("value") OVER $wp"""
        case "wg_avg"   => s"""avg("value") OVER $wp"""
        case "wg_count" => s"count(*) OVER $wp"
        case "wg_var"   => s"""var_pop("value") OVER $wp"""
        case "wg_dev"   => s"""stddev_pop("value") OVER $wp"""
      }
      wrap(keep.map(c => ex(c) -> s"${tag}_$c"))
      projectSql(orig ++ keep.map(c => s"${tag}_$c"))
      desc ++= s" | winGroupAgg(keep=${keep.mkString(",")})"
    }

    def crossingsStage(): Unit = { // null-safe on both paths
      // center the value so sign flips actually happen (fuzz domains are
      // all-positive); NULL-value rows drop out of the crossing filter in
      // both engines (sign(NULL) chooses neither side of <>)
      val c = math.rint((base.valLo + (0.25 + 0.5 * rnd.nextDouble()) * base.valSpan) * 100) / 100
      val dirn = rnd.nextInt(3) - 1
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.analytics.Analytics.crossings(
          df.withColumn("value", col("value") - c), keys, "value", dirn))
      replaceColSql("value", s""""value" - $c""")
      val orig = cols
      wrap(Seq(
        s"""last_value(CASE WHEN sign("value") <> 0 THEN sign("value") END IGNORE NULLS) """ +
          s"OVER (${pb}ORDER BY ${q("pos")} " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)" -> "__pvs"))
      val dirPred =
        if (dirn > 0) """ AND sign("value") > 0"""
        else if (dirn < 0) """ AND sign("value") < 0"""
        else ""
      projectSql(orig, Some(
        s"""${q("__pvs")} IS NOT NULL AND sign("value") <> 0 AND """ +
          s"""sign("value") <> ${q("__pvs")}$dirPred"""))
      hasNulls = false // NULL-value rows never pass the crossing filter
      desc ++= s" | crossings(c=$c dir=$dirn)"
    }

    def trendStage(tag: String): Unit = { // null-safe on both paths
      val out = s"${tag}_trend"
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.analytics.Analytics.trend(df, keys, "value", out))
      val cum = s"(${pb}ORDER BY ${q("pos")} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
      wrap(Seq(
        s"""CAST(sign("value" - lag("value") OVER (${pb}ORDER BY ${q("pos")})) AS DOUBLE)""" -> "__td"))
      val keep = cols.filterNot(_ == "__td")
      wrap(Seq(
        s"""COALESCE(last_value(CASE WHEN ${q("__td")} <> 0 THEN ${q("__td")} END IGNORE NULLS) OVER $cum, 0.0)""" -> out))
      projectSql(keep :+ out)
      desc ++= " | trend"
    }

    def extremaStage(): Unit = { // requires !hasNulls; filters to extremum rows
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.analytics.Analytics.extrema(df, keys, "value"))
      val orig = cols
      val cum = s"(${pb}ORDER BY ${q("pos")} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
      val fut = s"(${pb}ORDER BY ${q("pos")} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
      wrap(Seq(
        s"""CAST(sign("value" - lag("value") OVER (${pb}ORDER BY ${q("pos")})) AS DOUBLE)""" -> "__xd"))
      wrap(Seq(
        s"""last_value(CASE WHEN ${q("__xd")} <> 0 THEN ${q("__xd")} END IGNORE NULLS) OVER $cum""" -> "__xb"))
      wrap(Seq(s"""first_value(${q("__xb")} IGNORE NULLS) OVER $fut""" -> "__xa"))
      projectSql(orig, Some(
        s"""${q("__xb")} IS NOT NULL AND ${q("__xa")} IS NOT NULL AND ${q("__xb")} <> ${q("__xa")}"""))
      desc ++= " | extrema"
    }

    def uniqueAdjStage(): Unit = {
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.series.Series.uniqueAdjacent(df, keys, "value"))
      // null-safe run collapse: a run of NULLs keeps only its first row,
      // so the first-row marker is the row number, not a NULL predecessor
      val lagE = s"""lag("value") OVER (${pb}ORDER BY ${q("pos")})"""
      val rn1 = s"row_number() OVER (${pb}ORDER BY ${q("pos")}) = 1"
      qualifySql(s"""$rn1 OR $lagE IS DISTINCT FROM "value"""")
      desc ++= " | uniqueAdj"
    }

    def reverseStage(): Unit = {
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.series.Series.reverse(df, keys))
      // dense reversed ordinals — NOT cnt-1-pos, which is wrong (negative)
      // for non-dense input pos (fuzz finding, seed 8047)
      replaceColSql("pos",
        s"row_number() OVER (${pb}ORDER BY ${q("pos")} DESC) - 1")
      desc ++= " | reverse"
    }

    def spanNegStage(): Unit = { // cs_tail / negative-index cs_limit
      val fromV = if (rnd.nextBoolean()) -(1L + rnd.nextInt(200)) else rnd.nextInt(100).toLong
      val tillV = -(1L + rnd.nextInt(3))
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.series.Series.span(df, keys, fromV, tillV))
      val cnt =
        if (keys.isEmpty) "count(*) OVER ()"
        else s"count(*) OVER (PARTITION BY ${keys.map(q).mkString(", ")})"
      // negative indices count from the end in ORDINAL space (rank within
      // the key), matching span's gap-safe semantics on non-dense pos;
      // non-negative bounds stay pos-label filters
      val ord = s"(row_number() OVER (${pb}ORDER BY ${q("pos")}) - 1)"
      val loP = if (fromV < 0) s"$ord >= $cnt + $fromV" else s"${q("pos")} >= $fromV"
      qualifySql(s"$loP AND $ord <= $cnt + $tillV")
      desc ++= s" | span($fromV,$tillV)"
    }

    def windowJoinStage(tag: String): Unit = { // at most once per program
      val rtype = EventTypes(rnd.nextInt(EventTypes.size))
      val before = base.winBefore(rnd.nextInt(base.winBefore.size))
      val after = base.winAfter(rnd.nextInt(base.winAfter.size))
      val outs = Vector("wc", "ws", "wa", "wmn", "wmx").map(s => s"${tag}_$s")
      xforms :+= ((df: DataFrame, s: SparkSession, sf: String) => {
        val r0 = base.srcSpark(s, sf)
          .filter(col("event_type") === rtype)
          .select((keys :+ "ts").map(col) :+ col("value").as("rv"): _*)
        val wj = graft.join.Align.windowJoin(df, r0, keys, "ts", before, after, "rv")
        Vector("win_count", "win_sum", "win_avg", "win_min", "win_max")
          .zip(outs).foldLeft(wj) { case (d, (f, t)) => d.withColumnRenamed(f, t) }
      })
      depth += 1
      val keyEq2 = keys.map(k => s"l2.${q(k)} = r.${q(k)} AND ").mkString
      val statsSub =
        s"SELECT ${(keys.map(k => "l2." + q(k)) :+ "l2.ts AS ts").mkString(", ")}, " +
          "count(r.rv) AS wc, sum(r.rv) AS ws, avg(r.rv) AS wa, " +
          "min(r.rv) AS wmn, max(r.rv) AS wmx " +
          s"FROM (SELECT DISTINCT ${(keys :+ "ts").map(q).mkString(", ")} FROM ($sql)) l2 " +
          s"JOIN (SELECT ${(keys.map(q) :+ "ts AS rts").mkString(", ")}, " +
          s""""value" AS rv FROM (${base.srcSql}) be WHERE event_type = '$rtype') r """ +
          s"ON ${keyEq2}r.rts BETWEEN l2.ts - $before AND l2.ts + $after " +
          s"GROUP BY ${(1 to keys.size + 1).mkString(", ")}"
      val joinEq = keys.map(k => s"l.${q(k)} = s.${q(k)} AND ").mkString
      sql = s"SELECT ${cols.map(c => "l." + q(c)).mkString(", ")}, " +
        s"COALESCE(s.wc, 0) AS ${q(outs(0))}, s.ws AS ${q(outs(1))}, " +
        s"s.wa AS ${q(outs(2))}, s.wmn AS ${q(outs(3))}, s.wmx AS ${q(outs(4))} " +
        s"FROM ($sql) l LEFT JOIN ($statsSub) s ON ${joinEq}l.${q("ts")} = s.ts"
      cols = cols ++ outs
      desc ++= s" | windowJoin([-$before,+$after] right=$rtype)"
    }

    def asofTolStage(tag: String): Unit = {
      val rtype = EventTypes(rnd.nextInt(EventTypes.size))
      val tol = base.tols(rnd.nextInt(base.tols.size))
      val out = s"${tag}_atol"
      xforms :+= ((df: DataFrame, s: SparkSession, sf: String) => {
        val r0 = base.srcSpark(s, sf)
          .filter(col("event_type") === rtype)
          .groupBy((keys :+ "ts").map(col): _*)
          .agg(max(col("value")).as("rv"))
        graft.join.Align.asofJoinTol(df, r0, keys, "ts", "rv", lit(tol), out)
      })
      depth += 1
      val rsel = (keys.map(q) :+ "ts AS rts").mkString(", ")
      val rsql = s"""SELECT $rsel, max("value") AS rv FROM (${base.srcSql}) be """ +
        s"""WHERE event_type = '$rtype' GROUP BY ${(1 to keys.size + 1).mkString(", ")}"""
      val keyEq = keys.map(k => s"l.${q(k)} = r.${q(k)} AND ").mkString
      sql = s"SELECT ${cols.map(c => "l." + q(c)).mkString(", ")}, " +
        s"CASE WHEN r.rts IS NOT NULL AND l.${q("ts")} - r.rts <= $tol THEN r.rv END AS ${q(out)} " +
        s"FROM ($sql) l ASOF LEFT JOIN ($rsql) r ON ${keyEq}l.${q("ts")} >= r.rts"
      cols :+= out
      desc ++= s" | asofTol($tol right=$rtype)"
    }

    def asofExecStage(tag: String): Unit = { // as-of via the CUSTOM OPERATOR
      // keyed → AsofMergeJoinExec (two-cursor merge); keyless → the ranged
      // carry scan (row-carry kernel). The right side filters NULL
      // values BEFORE grouping so rv is never NULL — there row-carry and
      // the window form's skip-NULL contract coincide, and DuckDB's ASOF
      // (row-carry) renders both exactly.
      val dirn = if (rnd.nextBoolean()) -1 else 1
      val incl = rnd.nextBoolean()
      val rtype = EventTypes(rnd.nextInt(EventTypes.size))
      val out = s"${tag}_xasof"
      xforms :+= ((df: DataFrame, s: SparkSession, sf: String) => {
        val r0 = base.srcSpark(s, sf)
          .filter(col("event_type") === rtype && col("value").isNotNull)
          .groupBy((keys :+ "ts").map(col): _*)
          .agg(max(col("value")).as("rv"))
        graft.plans.AsofMerge.asofJoinDir(df, r0, keys, "ts",
          Seq("rv"), Seq(out), dirn, incl)
      })
      val cmp =
        if (dirn == -1) { if (incl) ">=" else ">" }
        else { if (incl) "<=" else "<" }
      depth += 1
      val rsel = (keys.map(q) :+ "ts AS rts").mkString(", ")
      val rsql = s"""SELECT $rsel, max("value") AS rv FROM (${base.srcSql}) be """ +
        s"""WHERE event_type = '$rtype' AND "value" IS NOT NULL """ +
        s"""GROUP BY ${(1 to keys.size + 1).mkString(", ")}"""
      val keyEq = keys.map(k => s"l.${q(k)} = r.${q(k)} AND ").mkString
      sql = s"SELECT ${cols.map(c => "l." + q(c)).mkString(", ")}, r.rv AS ${q(out)} " +
        s"FROM ($sql) l ASOF LEFT JOIN ($rsql) r ON ${keyEq}l.${q("ts")} $cmp r.rts"
      cols :+= out
      desc ++= s" | asofExec(dir=$dirn incl=$incl right=$rtype)"
    }

    def asofMapExecStage(tag: String): Unit = { // map-carry as-of (r10)
      // the right row's (max, min) pair rides as ONE map value — nested
      // {s→{mx→…,mn→…}} on half the draws — through the decomposed
      // parallel lanes, then unpacks to scalars; the twin carries the two
      // aggregates as plain columns through DuckDB's ASOF. Row-carry on
      // both sides, and both outputs must come from the SAME matched row.
      val dirn = if (rnd.nextBoolean()) -1 else 1
      val incl = rnd.nextBoolean()
      val nested = rnd.nextBoolean()
      val rtype = EventTypes(rnd.nextInt(EventTypes.size))
      val outMx = s"${tag}_amx"
      val outMn = s"${tag}_amn"
      val tmp = s"${tag}_mv"
      xforms :+= ((df: DataFrame, s: SparkSession, sf: String) => {
        val r0 = base.srcSpark(s, sf)
          .filter(col("event_type") === rtype && col("value").isNotNull)
          .groupBy((keys :+ "ts").map(col): _*)
          .agg(max(col("value")).as("mx"), min(col("value")).as("mn"))
        val flat = map_from_arrays(array(lit("mx"), lit("mn")),
          array(col("mx"), col("mn")))
        val mv = if (nested)
          map_from_arrays(array(lit("s")), array(flat))
        else flat
        val r1 = r0.select((keys :+ "ts").map(col) :+ mv.as(tmp): _*)
        val j = graft.plans.AsofMerge.asofJoinDir(df, r1, keys, "ts",
          Seq(tmp), Seq(tmp), dirn, incl)
        val m = if (nested) element_at(col(tmp), "s") else col(tmp)
        j.withColumn(outMx, element_at(m, "mx"))
          .withColumn(outMn, element_at(m, "mn"))
          .drop(tmp)
      })
      val cmp =
        if (dirn == -1) { if (incl) ">=" else ">" }
        else { if (incl) "<=" else "<" }
      depth += 1
      val rsel = (keys.map(q) :+ "ts AS rts").mkString(", ")
      val rsql = s"""SELECT $rsel, max("value") AS mx, min("value") AS mn """ +
        s"""FROM (${base.srcSql}) be """ +
        s"""WHERE event_type = '$rtype' AND "value" IS NOT NULL """ +
        s"""GROUP BY ${(1 to keys.size + 1).mkString(", ")}"""
      val keyEq = keys.map(k => s"l.${q(k)} = r.${q(k)} AND ").mkString
      sql = s"SELECT ${cols.map(c => "l." + q(c)).mkString(", ")}, " +
        s"r.mx AS ${q(outMx)}, r.mn AS ${q(outMn)} " +
        s"FROM ($sql) l ASOF LEFT JOIN ($rsql) r ON ${keyEq}l.${q("ts")} $cmp r.rts"
      cols :+= outMx
      cols :+= outMn
      desc ++= s" | asofMapExec(dir=$dirn incl=$incl nested=$nested right=$rtype)"
    }

    def equiJoinStage(tag: String): Unit = {
      val rtype = EventTypes(rnd.nextInt(EventTypes.size))
      val out = s"${tag}_eq"
      xforms :+= ((df: DataFrame, s: SparkSession, sf: String) => {
        val r0 = base.srcSpark(s, sf)
          .filter(col("event_type") === rtype)
          .groupBy((keys :+ "ts").map(col): _*)
          .agg(max(col("value")).as("rv"))
        graft.join.Align.equiJoin(df, r0, keys, "ts", "rv", out)
      })
      depth += 1
      val rsel = (keys.map(q) :+ "ts AS rts").mkString(", ")
      val rsql = s"""SELECT $rsel, max("value") AS rv FROM (${base.srcSql}) be """ +
        s"""WHERE event_type = '$rtype' GROUP BY ${(1 to keys.size + 1).mkString(", ")}"""
      val keyEq = keys.map(k => s"l.${q(k)} = r.${q(k)} AND ").mkString
      sql = s"SELECT ${cols.map(c => "l." + q(c)).mkString(", ")}, r.rv AS ${q(out)} " +
        s"FROM ($sql) l JOIN ($rsql) r ON ${keyEq}l.${q("ts")} = r.rts"
      cols :+= out
      desc ++= s" | equiJoin(right=$rtype)"
    }

    def dictRoundtripStage(tag: String): Unit = {
      val out = s"${tag}_dt"
      xforms :+= ((df: DataFrame, s: SparkSession, sf: String) => {
        val d = graft.text.Dict.build(
          base.srcSpark(s, sf).select("event_type"), "event_type")
        val coded = graft.text.Dict.str2code(df, d, "event_type", "__dcd")
        graft.text.Dict.code2str(coded, d, "__dcd", out).drop("__dcd")
      })
      wrap(Seq("event_type" -> out)) // str2code∘code2str is the identity
      desc ++= " | dictRoundtrip"
    }

    // ---- filter stages ----------------------------------------------------
    def filterValStage(): Unit = {
      val c = math.rint((rnd.nextDouble() * base.valSpan + base.valLo) * 100) / 100
      val gt = rnd.nextBoolean()
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        df.filter(if (gt) col("value") > c else col("value") <= c))
      wrap(Nil, Some(s""""value" ${if (gt) ">" else "<="} $c"""))
      hasNulls = false // NULL fails both comparisons in Spark and DuckDB
      desc ++= s" | filter(value${if (gt) ">" else "<="}$c)"
    }

    def filterModStage(): Unit = {
      val m = Vector(3, 5, 11)(rnd.nextInt(3))
      val r = rnd.nextInt(m)
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        df.filter(col("event_id") % m =!= r))
      wrap(Nil, Some(s"event_id % $m <> $r"))
      desc ++= s" | filter(id%$m<>$r)"
    }

    def filterTypeStage(): Unit = {
      val ts = rnd.shuffle(EventTypes).take(2 + rnd.nextInt(3)).sorted
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        df.filter(col("event_type").isin(ts: _*)))
      wrap(Nil, Some(s"event_type IN (${ts.map(t => s"'$t'").mkString(", ")})"))
      desc ++= s" | filter(type in ${ts.mkString("/")})"
    }

    def headStage(): Unit = {
      val n = 50 + rnd.nextInt(400)
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.series.Series.head(df, n))
      wrap(Nil, Some(s"${q("pos")} < $n"))
      desc ++= s" | head($n)"
    }

    def thinStage(): Unit = {
      val o = rnd.nextInt(4); val st = 2 + rnd.nextInt(4)
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.series.Series.thin(df, o, st))
      wrap(Nil, Some(s"${q("pos")} >= $o AND (${q("pos")} - $o) % $st = 0"))
      desc ++= s" | thin($o,$st)"
    }

    // ---- terminal stages --------------------------------------------------
    def topKStage(): Unit = {
      val k = 5 + rnd.nextInt(46)
      val dsc = rnd.nextBoolean()
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.agg.Aggs.topK(df, "value", k, dsc, "event_id"))
      depth += 1
      val ord = if (dsc) "DESC NULLS LAST" else "ASC NULLS FIRST"
      sql = s"SELECT * FROM ($sql) t$depth ORDER BY ${q("value")} $ord, event_id LIMIT $k"
      desc ++= s" | topK($k,${if (dsc) "desc" else "asc"})"
    }

    def gridAggStage(): Unit = {
      val step = 10 + rnd.nextInt(91)
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.agg.Aggs.gridAgg(df, keys, "value", step))
      depth += 1
      // CAST(floor(...)): DuckDB's `//` truncates toward zero for negative
      // operands where Spark's floor(pos/step) floors — render the exact
      // floor arithmetic so the oracle cannot diverge on any pos domain
      val kq = keys.map(q).map(_ + ", ").mkString
      sql = s"SELECT ${kq}CAST(floor(${q("pos")} / $step) AS BIGINT) AS grid, count(*) AS grid_count, " +
        s"""sum("value") AS grid_sum, min("value") AS grid_min, """ +
        s"""max("value") AS grid_max, var_pop("value") AS grid_var, """ +
        s"""sum("value") / count("value") AS grid_avg, """ +
        s"""sqrt(var_pop("value")) AS grid_dev FROM ($sql) t$depth """ +
        s"GROUP BY ${(1 to keys.size + 1).mkString(", ")}"
      cols = (keys.toVector :+ "grid") ++ Vector("grid_count", "grid_sum",
        "grid_min", "grid_max", "grid_var", "grid_avg", "grid_dev")
      desc ++= s" | gridAgg($step)"
    }

    def histogramStage(): Unit = { // terminal
      val lo = rnd.nextInt(base.histLoMax)
      val hi = lo + base.histBase + rnd.nextInt(base.histSpan)
      val bins = 5 + rnd.nextInt(16)
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.agg.Aggs.histogram(df, "value", lo, hi, bins))
      depth += 1
      // same literal arithmetic as the Scala width = (hi-lo)/bins, so the
      // bin-edge doubles are IEEE-identical in both engines
      sql = s"SELECT least(CAST($bins - 1 AS BIGINT), " +
        s"""CAST(floor(("value" - $lo) / (($hi - $lo) / $bins)) AS BIGINT)) AS bin, """ +
        s"""count(*) AS bin_count FROM ($sql) t$depth """ +
        s"""WHERE "value" >= $lo AND "value" < $hi GROUP BY 1"""
      cols = Vector("bin", "bin_count")
      desc ++= s" | histogram($lo,$hi,$bins)"
    }

    def hashDupCountStage(): Unit = { // terminal
      val minOcc = 2L + rnd.nextInt(2)
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.agg.Aggs.hashDupCount(df, "value", keys, minOcc))
      depth += 1
      val kq = keys.map(q).mkString(", ")
      val inner = s"SELECT ${if (keys.isEmpty) "" else s"$kq, "}${q("value")} " +
        s"FROM ($sql) t$depth GROUP BY ${(1 to keys.size + 1).mkString(", ")} " +
        s"HAVING count(*) >= $minOcc"
      sql =
        if (keys.isEmpty) s"SELECT count(*) AS dup_count FROM ($inner)"
        else s"SELECT $kq, count(*) AS dup_count FROM ($inner) GROUP BY ${(1 to keys.size).mkString(", ")}"
      cols = keys.toVector :+ "dup_count"
      desc ++= s" | hashDupCount(minOcc=$minOcc)"
    }

    def quantileStage(): Unit = { // terminal — cs_quantile boundary values
      val qn = 2 + rnd.nextInt(9)
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.analytics.Analytics.quantile(df, "value", qn)
          .select(col("q_idx"), col("q_value").cast("float").as("q_value")))
      depth += 1
      val ps = (0 to qn).map(i => i.toDouble / qn).mkString("[", ", ", "]")
      // WHERE qs IS NOT NULL: an empty (or all-NULL) input yields a NULL
      // quantile list — Spark's posexplode emits 0 rows there, so the
      // oracle must too rather than qn+1 NULL rows
      sql = s"""WITH qv AS (SELECT quantile_cont("value", $ps) AS qs FROM ($sql) t$depth) """ +
        s"""SELECT q_idx, CAST(qs[q_idx + 1] AS REAL) AS q_value """ +
        s"""FROM qv, (SELECT unnest(generate_series(0, $qn)) AS q_idx) WHERE qs IS NOT NULL"""
      cols = Vector("q_idx", "q_value")
      desc ++= s" | quantile($qn)"
    }

    def csHashAggStage(): Unit = { // terminal — the cs_hash_* CUSTOM SQL AGGREGATE
      // one TypedImperativeAggregate buffer holding the whole map
      // (sqlext.CsHashAgg), exploded to rows for the diff; sum/avg are
      // gated on a NULL-free value column (an all-NULL group's membership
      // in the map is a contract choice the fixed gates pin — the fuzz
      // oracle states plain GROUP BY semantics)
      val fn =
        if (hasNulls) "cs_hash_count"
        else Vector("cs_hash_sum", "cs_hash_avg", "cs_hash_count")(rnd.nextInt(3))
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) => {
        val m = if (fn == "cs_hash_count") expr("cs_hash_count(event_type)")
                else expr(s"""$fn(`value`, event_type)""")
        df.agg(m.as("__m"))
          .select(explode(col("__m")).as(Seq("group_val", "agg_val")))
      })
      depth += 1
      val aggE = fn match {
        case "cs_hash_sum"   => """sum("value")"""
        case "cs_hash_avg"   => """avg("value")"""
        case "cs_hash_count" => "count(event_type)"
      }
      sql = s"SELECT event_type AS group_val, $aggE AS agg_val " +
        s"FROM ($sql) t$depth GROUP BY 1"
      cols = Vector("group_val", "agg_val")
      desc ++= s" | csHashAgg($fn)"
    }

    def approxDcStage(): Unit = { // terminal — HLL bounded-error contract
      // the q_approxdc pattern, tolerance-aware by construction: the exact
      // distinct count is the hashed output; the HLL estimate only decides
      // within_tol, so the sketch's probabilistic contract (not its exact
      // bits) is what random pipelines gate. 0.15 = 3σ of the default
      // rsd 0.05, same bound the fixed gates use.
      val dc = if (rnd.nextBoolean()) "user_id" else "event_id"
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        df.groupBy(col("event_type")).agg(
            count_distinct(col(dc)).as("exact_dc"),
            approx_count_distinct(col(dc)).as("__adc"))
          .select(col("event_type"), col("exact_dc"),
            (abs(col("__adc") - col("exact_dc")) / col("exact_dc") < 0.15)
              .as("within_tol")))
      depth += 1
      sql = s"SELECT event_type, count(DISTINCT ${q(dc)}) AS exact_dc, " +
        s"true AS within_tol FROM ($sql) t$depth GROUP BY 1"
      cols = Vector("event_type", "exact_dc", "within_tol")
      desc ++= s" | approxDc($dc)"
    }

    def groupAggStage(): Unit = { // terminal, requires !hasNulls (min_by/arg_min NULL semantics differ)
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.agg.Aggs.groupAgg(df, keys, "event_type", "value"))
      val lagE = s"lag(event_type) OVER (${pb}ORDER BY ${q("pos")})"
      wrap(Seq(
        s"CASE WHEN $lagE IS NULL OR $lagE <> event_type THEN 1 ELSE 0 END" -> "__gchg"))
      wrap(Seq(
        s"CAST(sum(${q("__gchg")}) OVER (${pb}ORDER BY ${q("pos")} " +
          "ROWS UNBOUNDED PRECEDING) AS BIGINT)" -> "__rid"))
      depth += 1
      val kq = keys.map(q).map(_ + ", ").mkString
      sql = s"SELECT $kq${q("__rid")} AS run_id, " +
        "min(event_type) AS group_val, count(*) AS grp_count, " +
        """sum("value") AS grp_sum, min("value") AS grp_min, """ +
        """max("value") AS grp_max, var_pop("value") AS grp_var, """ +
        s"""first("value" ORDER BY ${q("pos")}) AS grp_first, """ +
        s"""last("value" ORDER BY ${q("pos")}) AS grp_last, """ +
        """avg("value") AS grp_avg, stddev_pop("value") AS grp_dev """ +
        s"FROM ($sql) t$depth " +
        s"GROUP BY ${(1 to keys.size + 1).mkString(", ")}"
      cols = (keys.toVector :+ "run_id") ++ Vector("group_val", "grp_count",
        "grp_sum", "grp_min", "grp_max", "grp_var", "grp_first", "grp_last",
        "grp_avg", "grp_dev")
      desc ++= " | groupAgg"
    }

    def topKPosStage(): Unit = { // terminal, keyless only (pos is unique)
      val k = 5 + rnd.nextInt(46)
      val dsc = rnd.nextBoolean()
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.agg.Aggs.topKPos(df, "value", k, dsc))
      depth += 1
      val ord = if (dsc) "DESC NULLS LAST" else "ASC NULLS FIRST"
      sql = s"SELECT ${q("pos")} FROM ($sql) t$depth " +
        s"ORDER BY ${q("value")} $ord, ${q("pos")} LIMIT $k"
      cols = Vector("pos")
      desc ++= s" | topKPos($k,${if (dsc) "desc" else "asc"})"
    }

    def filterFirstPosStage(): Unit = { // terminal, keyless only (global order)
      val c = math.rint((rnd.nextDouble() * base.valSpan + base.valLo) * 100) / 100
      val n = 10 + rnd.nextInt(90)
      xforms :+= ((df: DataFrame, _: SparkSession, _: String) =>
        graft.series.Series.filterFirstPos(df, col("value") > c, n))
      depth += 1
      sql = s"""SELECT ${q("pos")} FROM ($sql) t$depth WHERE "value" > $c """ +
        s"ORDER BY ${q("pos")} LIMIT $n"
      cols = Vector("pos")
      desc ++= s" | filterFirstPos(value>$c,$n)"
    }

    // ---- assemble ---------------------------------------------------------
    val nStages = 2 + rnd.nextInt(3)
    var usedWindowJoin = false // its SQL embeds the pipeline twice — once max
    for (i <- 0 until nStages) {
      val tag = s"f$i"
      val enrichers = mutable.ArrayBuffer[() => Unit](
        () => windowAggStage(tag), () => normStage(tag), () => asofStage(tag),
        () => asofExecStage(tag), () => asofMapExecStage(tag),
        () => asofTolStage(tag), () => dictRoundtripStage(tag),
        () => uniqueAdjStage(), () => equiJoinStage(tag),
        () => stretchStage(tag), () => csIfStage(tag),
        () => winGroupAggStage(tag))
      if (!usedWindowJoin)
        enrichers += { () => usedWindowJoin = true; windowJoinStage(tag) }
      if (!hasNulls) {
        enrichers += (() => cumAggStage(tag))
        enrichers += (() => rankStage(tag))
        enrichers += (() => extremaStage())
      }
      // diff/trend/crossings handle NULLs identically on both paths since
      // the keyless scans grew null-aware carries (coalesce-to-0 deltas,
      // carry-through signs) — no null gate needed
      enrichers += (() => diffStage(tag))
      enrichers += (() => trendStage(tag))
      val filters = {
        val fs = mutable.ArrayBuffer[() => Unit](
          () => filterValStage(), () => filterModStage(), () => filterTypeStage(),
          () => headStage(), () => thinStage(), () => spanNegStage(),
          () => reverseStage())
        fs += (() => crossingsStage())
        fs.toVector
      }
      // first stage is always an enricher so every program exercises at
      // least one real operator; later stages mix filters in 50/50
      val pool = if (i == 0 || rnd.nextBoolean()) enrichers.toVector else filters
      pool(rnd.nextInt(pool.size))()
    }
    if (rnd.nextBoolean()) {
      val terminals = mutable.ArrayBuffer[() => Unit](
        () => topKStage(), () => gridAggStage(), () => histogramStage(),
        () => hashDupCountStage(), () => quantileStage(),
        () => csHashAggStage(), () => approxDcStage())
      if (!hasNulls) terminals += (() => groupAggStage())
      if (keys.isEmpty) {
        terminals += (() => topKPosStage())
        terminals += (() => filterFirstPosStage())
      }
      terminals(rnd.nextInt(terminals.size))()
    }

    val stages = xforms
    val run = (spark: SparkSession, sfDir: String) =>
      stages.foldLeft(baseXf(null, spark, sfDir))((df, f) => f(df, spark, sfDir))
    FuzzProgram(seed, desc.result(), run, sql)
  }

  /** The cs_* SQL-surface leg (VERDICT r15 item 5): the same pipeline
    * MATH as the row grammar, rendered through the registered series
    * -calculus names instead of the DataFrame API — rows pack into
    * per-key ordered arrays (the reference's series representation), a
    * random chain of length-preserving cs_* array functions applies, and
    * a terminal (explode / cs_grid_* / cs_top_* / cs_filter_pos /
    * cs_quantile) lands back in rows. The DuckDB twin renders each lane
    * as the equivalent window SQL with the EXACT formulas the
    * SeriesCalcFns implementations document (fixed-n divisors for
    * cs_window_avg/var, naive Σ/Σ² variance, warm-up-over-prefix sums),
    * so the 200-name SQL surface gets the same differential coverage the
    * fixed q_cs_* gates spot-check.
    */
  def genCs(seed: Long): FuzzProgram = {
    // a quarter of the cs leg routes to the ALIGN grammar (VERDICT r16
    // item 4: cs_asof_join / cs_join / cs_stretch / cs_stretch0 — the
    // hardest semantics in the surface — were fixed-gate-only). Seed
    // arithmetic, not an rnd draw, so the other seeds' draw streams are
    // untouched.
    if (seed % 4 == 1) return genCsAlign(seed)
    val rnd = new Random(seed)
    val base: FuzzBase =
      if (seed % 3 == 2) lineitemBase(seed) else eventsBase
    val keys: Seq[String] = rnd.nextInt(3) match {
      case 0 => Seq()
      case 1 => Seq("user_id")
      case _ => Seq("event_type")
    }
    val headN = 512 + rnd.nextInt(1536)
    val pb = if (keys.isEmpty) "" else s"PARTITION BY ${keys.map(q).mkString(", ")} "
    val kq = keys.map(q).mkString(", ")
    val kPrefix = if (keys.isEmpty) "" else kq + ", "
    // Spark-side (csSql) key list: BARE names — double-quoted identifiers
    // are string LITERALS to Spark SQL (ansi.doubleQuotedIdentifiers off)
    val kCs = if (keys.isEmpty) "" else keys.mkString(", ") + ", "
    val desc = new StringBuilder(s"cs base=${base.label} " +
      s"keys=${if (keys.isEmpty) "<none>" else keys.mkString(",")} head=$headN")

    // optional row-level pre-filter, rendered identically on both sides
    val pre: Option[String] = rnd.nextInt(3) match {
      case 0 => None
      case 1 =>
        val c = math.rint((rnd.nextDouble() * base.valSpan + base.valLo) * 100) / 100
        desc ++= s" | pre(value>$c)"
        Some(s""""value" > $c""")
      case _ =>
        val m = Vector(3, 5, 11)(rnd.nextInt(3)); val r = rnd.nextInt(m)
        desc ++= s" | pre(id%$m<>$r)"
        Some(s"event_id % $m <> $r")
    }

    // ---- the chain: each op maps lane v{i-1} -> v{i} --------------------
    // (csExpr: array-expression rendering; sqlExpr: window-SQL rendering
    // over the lane column, with __tmp-style nesting handled by wrap)
    val w = (n: Int) =>
      s"(${pb}ORDER BY ${q("ord")} ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW)"
    val cum = s"(${pb}ORDER BY ${q("ord")} ROWS UNBOUNDED PRECEDING)"
    // SQL chain state: nested subselects over columns (keys, ord, v0..vk)
    var depth = 0
    var lanes = 1 // v0 exists
    var sql = {
      val v = "CAST(\"value\" AS DOUBLE)"
      s"""SELECT $kPrefix${q("ord")}, ${q("v0")} FROM (
         SELECT $kPrefix row_number() OVER (${pb}ORDER BY ts, event_id) - 1 AS ${q("ord")},
                $v AS ${q("v0")}
         FROM (${base.srcSql}) b0${pre.map(" WHERE " + _).getOrElse("")}) h
         WHERE ${q("ord")} < $headN"""
    }
    def cols: Vector[String] =
      keys.toVector ++ Vector("ord") ++ (0 until lanes).map(i => s"v$i")
    def wrapLane(expr: String): Unit = {
      depth += 1
      val sel = cols.map(q).mkString(", ")
      sql = s"SELECT $sel, $expr AS ${q(s"v$lanes")} FROM ($sql) c$depth"
      lanes += 1
    }
    // cs-side chain: one WITH clause per lane (a{i} defines x{i})
    val csLanes = mutable.ArrayBuffer.empty[String] // expr over x{i-1}
    def vIn = q(s"v${lanes - 1}")
    def addOp(name: String, csExpr: String => String, sqlExpr: String): Unit = {
      csLanes += csExpr(s"x${csLanes.size}")
      wrapLane(sqlExpr)
      desc ++= s" | $name"
    }
    // var/dev are deliberately NOT in the chain: the naive Σ/Σ² formula
    // is exact in real arithmetic but catastrophically cancelling in FP,
    // and the two engines accumulate sliding sums in different orders —
    // a composed chain (cum_max → window_var of a near-constant series)
    // measures 0.0 vs 2e-9, an infinite RELATIVE error the checker
    // rightly rejects (seeds 9115/9120/9151/9201/9215). The fixed
    // q_window_agg / q_cum_agg gates pin var/dev on raw data where the
    // rendering is reproducible. diff/trend carry a milder form of the
    // same hazard: over an ACCUMULATED lane (a running sum/avg) adjacent
    // values are near-equal, so the subtraction amplifies each engine's
    // ulp-level accumulation-order difference into a relative mismatch
    // (seed 9409: cum_avg → diff → 0.545898437 vs ...438). They are
    // therefore drawn only while the lane is EXACT — raw values, or
    // min/max/diff/trend outputs, where a difference is either material
    // or exactly zero in BOTH engines.
    var accumulated = false
    val nOps = 1 + rnd.nextInt(3)
    for (i <- 0 until nOps) {
      val pool = mutable.ArrayBuffer[() => Unit]()
      pool += { () =>
        val n = 2 + rnd.nextInt(30)
        accumulated = true
        addOp(s"cs_window_sum($n)", x => s"cs_window_sum($x, $n)",
          s"sum($vIn) OVER ${w(n)}")
      }
      pool += { () =>
        val n = 2 + rnd.nextInt(30)
        // FIXED divisor n, warm-up sums over the actual prefix
        // (SeriesCalcFns ring buffer, func.c:1683)
        accumulated = true
        addOp(s"cs_window_avg($n)", x => s"cs_window_avg($x, $n)",
          s"sum($vIn) OVER ${w(n)} / $n")
      }
      pool += { () =>
        val n = 2 + rnd.nextInt(30)
        val mm = if (rnd.nextBoolean()) "min" else "max"
        addOp(s"cs_window_$mm($n)", x => s"cs_window_$mm($x, $n)",
          s"$mm($vIn) OVER ${w(n)}")
      }
      pool += { () =>
        accumulated = true
        addOp("cs_cum_sum", x => s"cs_cum_sum($x)",
          s"sum($vIn) OVER $cum")
      }
      pool += { () =>
        val op = if (rnd.nextBoolean()) "min" else "max"
        addOp(s"cs_cum_$op", x => s"cs_cum_$op($x)",
          s"$op($vIn) OVER $cum")
      }
      pool += { () =>
        accumulated = true
        addOp("cs_cum_avg", x => s"cs_cum_avg($x)",
          s"sum($vIn) OVER $cum / (count(*) OVER $cum)")
      }
      if (!accumulated) {
        pool += { () =>
          // first element is 0 (the reference's cs_diff warm-up,
          // q_cs_series's pinned rendering)
          addOp("cs_diff", x => s"cs_diff($x)",
            s"COALESCE($vIn - lag($vIn) OVER (${pb}ORDER BY ${q("ord")}), 0.0)")
        }
        pool += { () =>
          // carried sign of the last non-zero delta, 0 until one exists
          depth += 1
          val sel0 = cols.map(q).mkString(", ")
          sql = s"SELECT $sel0, CAST(sign($vIn - lag($vIn) OVER " +
            s"(${pb}ORDER BY ${q("ord")})) AS DOUBLE) AS __td FROM ($sql) c$depth"
          addOp("cs_trend", x => s"cs_trend($x)",
            s"COALESCE(last_value(CASE WHEN ${q("__td")} <> 0 THEN ${q("__td")} END " +
              s"IGNORE NULLS) OVER $cum, 0.0)")
          // wrapLane's projection already dropped __td (it selects cols +
          // the new lane only)
        }
      }
      if (i == 0) pool += { () =>
        // norm only first: all-positive input guarantees a nonzero L2;
        // later lanes can be all 0. The shared divisor keeps relative
        // error flat, so the lane stays exact ENOUGH for min/max — but
        // a later diff over it would cancel, so it counts as accumulated
        accumulated = true
        addOp("cs_norm", x => s"cs_norm($x)",
          s"$vIn / sqrt(sum($vIn * $vIn) OVER " +
            (if (keys.isEmpty) "()" else s"(PARTITION BY $kq)") + ")")
      }
      pool(rnd.nextInt(pool.size))()
    }

    // ---- assemble the cs-side SQL (runs on Spark via spark.sql) ---------
    val view = s"__graft_cs_src_$seed"
    val lastX = s"x${csLanes.size}"
    val packed = {
      val srcSel = s"SELECT $kCs ts, event_id, CAST(`value` AS DOUBLE) AS v " +
        s"FROM $view${pre.map(p => " WHERE " + p.replace("\"", "`")).getOrElse("")}"
      val grp = if (keys.isEmpty) "" else s" GROUP BY ${keys.mkString(", ")}"
      val laneCtes = csLanes.zipWithIndex.map { case (e, i) =>
        val carry = (kCs + (0 to i).map(j => s"x$j").mkString(", "))
        s"a${i + 1} AS (SELECT $carry, $e AS x${i + 1} FROM a$i)"
      }
      s"""WITH packed AS (
         SELECT $kCs sort_array(collect_list(struct(ts, event_id, v))) AS pv
         FROM ($srcSel) p$grp),
         a0 AS (SELECT $kCs slice(transform(pv, e -> e.v), 1, $headN) AS x0
                FROM packed)${if (laneCtes.isEmpty) "" else ",\n" + laneCtes.mkString(",\n")}"""
    }
    val laneRefs = (0 until csLanes.size)
      .map(i => s"x$i[t.ord] AS v$i").mkString(", ")

    // ---- terminal --------------------------------------------------------
    var csSql: String = null
    rnd.nextInt(if (keys.isEmpty) 5 else 4) match {
      case 0 | 1 => // explode every lane back to rows (the default)
        csSql = s"""$packed
          SELECT $kCs CAST(t.ord AS BIGINT) AS ord${
            if (laneRefs.isEmpty) "" else ", " + laneRefs},
                 t.v AS v${csLanes.size}
          FROM a${csLanes.size} LATERAL VIEW posexplode($lastX) t AS ord, v"""
        desc ++= " | explode"
      case 2 => // cs_grid_*: tumbling element-index buckets per key
        val step = 5 + rnd.nextInt(60)
        csSql = s"""$packed
          SELECT $kCs CAST(t.bucket AS BIGINT) AS bucket, t.gsum AS grid_sum,
                 cs_grid_avg($lastX, $step)[t.bucket] AS grid_avg,
                 cs_grid_min($lastX, $step)[t.bucket] AS grid_min,
                 cs_grid_max($lastX, $step)[t.bucket] AS grid_max
          FROM a${csLanes.size}
          LATERAL VIEW posexplode(cs_grid_sum($lastX, $step)) t AS bucket, gsum"""
        depth += 1
        sql = s"SELECT ${kPrefix}CAST(floor(${q("ord")} / $step) AS BIGINT) AS bucket, " +
          s"sum($vIn) AS grid_sum, sum($vIn) / count(*) AS grid_avg, " +
          s"min($vIn) AS grid_min, max($vIn) AS grid_max " +
          s"FROM ($sql) g$depth GROUP BY ${(1 to keys.size + 1).mkString(", ")}"
        desc ++= s" | cs_grid($step)"
      case 3 => // cs_filter_pos: matched element indexes
        val c = math.rint((rnd.nextDouble() * base.valSpan + base.valLo) * 100) / 100
        csSql = s"""$packed
          SELECT $kCs CAST(t.p AS BIGINT) AS ord
          FROM a${csLanes.size}
          LATERAL VIEW explode(cs_filter_pos(transform($lastX, e -> e > $c))) t AS p"""
        depth += 1
        sql = s"SELECT $kPrefix${q("ord")} FROM ($sql) f$depth WHERE $vIn > $c"
        desc ++= s" | cs_filter_pos(>$c)"
      case _ => // keyless cs_top_max/min: k boundary values
        val k = 5 + rnd.nextInt(40)
        val dsc = rnd.nextBoolean()
        val fn = if (dsc) "cs_top_max" else "cs_top_min"
        csSql = s"""$packed
          SELECT CAST(t.i AS BIGINT) AS i, t.v AS v
          FROM a${csLanes.size} LATERAL VIEW posexplode($fn($lastX, $k)) t AS i, v"""
        depth += 1
        val ord = if (dsc) "DESC" else "ASC"
        sql = s"SELECT row_number() OVER (ORDER BY $vIn $ord) - 1 AS i, " +
          s"$vIn AS v FROM ($sql) k$depth ORDER BY $vIn $ord LIMIT $k"
        desc ++= s" | $fn($k)"
    }

    val run = (spark: SparkSession, sfDir: String) => {
      base.srcSpark(spark, sfDir).createOrReplaceTempView(view)
      spark.sql(csSql)
    }
    FuzzProgram(seed, desc.result(), run, sql)
  }

  /** The ALIGN leg of the cs_* grammar (VERDICT r16 item 4): two per-key
    * sorted series — a LEFT timestamp series and a RIGHT (ts, value)
    * series, split deterministically by event_id parity and deduped per
    * (key, ts) so ties can never flip a pick — aligned by a randomly
    * drawn member of the cs align family (cs_asof_join(_pos) — NEAREST
    * ts, equidistant ties to the earlier element; cs_join(_pos) — exact
    * one-to-one matches; cs_stretch — first right ts strictly greater,
    * filler when exhausted; cs_stretch0 — the merged ts union). The
    * DuckDB twin renders each op's documented contract directly
    * (list-function nearest pick, backward at/before lookup, inner join
    * on ts, list_filter stretch, FULL JOIN union) — the same formulas the
    * fixed q_cs_asof_nearest / q_cs_asof / q_cs_stretch0 gates pin, here
    * exercised across random keys, bases, pre-filters and slice lengths.
    */
  def genCsAlign(seed: Long): FuzzProgram = {
    val rnd = new Random(seed)
    val base: FuzzBase =
      if (seed % 3 == 2) lineitemBase(seed) else eventsBase
    val keys: Seq[String] = rnd.nextInt(3) match {
      case 0 => Seq()
      case 1 => Seq("user_id")
      case _ => Seq("event_type")
    }
    val headN = 256 + rnd.nextInt(1024)
    val kq = keys.map(q).mkString(", ")
    val kPrefix = if (keys.isEmpty) "" else kq + ", "
    val kCs = if (keys.isEmpty) "" else keys.mkString(", ") + ", "
    val pb = if (keys.isEmpty) "" else s"PARTITION BY $kq "
    val grpD = if (keys.isEmpty) "" else s" GROUP BY $kq"
    val grpS = if (keys.isEmpty) "" else s" GROUP BY ${keys.mkString(", ")}"
    val desc = new StringBuilder(s"csalign base=${base.label} " +
      s"keys=${if (keys.isEmpty) "<none>" else keys.mkString(",")} head=$headN")
    val pre: Option[String] = rnd.nextInt(3) match {
      case 0 => None
      case 1 =>
        val c = math.rint((rnd.nextDouble() * base.valSpan + base.valLo) * 100) / 100
        desc ++= s" | pre(value>$c)"
        Some(s""""value" > $c""")
      case _ =>
        val m = Vector(3, 5, 11)(rnd.nextInt(3)); val r = rnd.nextInt(m)
        desc ++= s" | pre(id%$m<>$r)"
        Some(s"event_id % $m <> $r")
    }
    def whereD(extra: String) =
      "WHERE " + pre.map(p => s"($p) AND ").getOrElse("") + extra
    def whereS(extra: String) =
      "WHERE " + pre.map(p => s"(${p.replace("\"", "`")}) AND ").getOrElse("") + extra
    val filler = Vector(-1.0, 0.0)(rnd.nextInt(2))
    val op = Vector("asof_join", "asof_join_pos", "join", "join_pos",
      "stretch", "stretch0", "asof_back")(rnd.nextInt(7))
    // exact-match ops need exact-match OPPORTUNITIES: events ts is
    // µs-resolution, so the parity-split halves would share ~no exact
    // timestamps and cs_join would diff vacuously-empty results forever —
    // coarsen ts to a seeded grid (the base's tolerance menu) for the
    // join pair, rendered identically on both sides
    val joinOp = op == "join" || op == "join_pos"
    val quant = if (joinOp) Some(base.tols(rnd.nextInt(base.tols.size))) else None
    val tsD = quant.map(qt => s"(ts // $qt) * $qt").getOrElse("ts")
    val tsS = quant.map(qt => s"(ts div $qt) * $qt").getOrElse("ts")
    desc ++= s" | cs_$op${if (op.startsWith("stretch")) s"($filler)" else ""}" +
      quant.map(qt => s" quant=$qt").getOrElse("")

    // ---- DuckDB twin: row/list CTEs over the same split ------------------
    // l = left ts set (deduped, sliced to the first headN per key);
    // r = right (ts, v) rows; ra = r packed into per-key sorted lists
    val duckPrefix =
      s"""WITH l0 AS (SELECT ${kPrefix}$tsD AS ts FROM (${base.srcSql}) b0
           ${whereD("event_id % 2 = 0")} GROUP BY ${kPrefix}$tsD),
         lr AS (SELECT ${kPrefix}ts, row_number() OVER (${pb}ORDER BY ts) AS rn FROM l0),
         l AS (SELECT * FROM lr WHERE rn <= $headN),
         r0 AS (SELECT ${kPrefix}$tsD AS ts, max("value") AS v FROM (${base.srcSql}) b1
           ${whereD("""event_id % 2 = 1 AND "value" IS NOT NULL""")} GROUP BY ${kPrefix}$tsD),
         rr AS (SELECT ${kPrefix}ts, v, row_number() OVER (${pb}ORDER BY ts) AS rn FROM r0),
         r AS (SELECT * FROM rr WHERE rn <= $headN),
         ra AS (SELECT ${kPrefix}list(ts ORDER BY ts) AS rts, list(v ORDER BY ts) AS rvs
                FROM r$grpD)"""
    val joinRaD =
      if (keys.isEmpty) "l CROSS JOIN ra" else s"l JOIN ra USING ($kq)"
    def keyEqD(a: String, b: String) =
      keys.map(k => s""" AND $a.${q(k)} = $b.${q(k)}""").mkString
    // nearest pick, rendered once (the q_cs_asof_nearest formula)
    val deltas = s"list_transform(ra.rts, x -> abs(x - l.ts))"
    val nearPos1 = s"list_position($deltas, list_min($deltas))" // 1-based
    val sql = op match {
      case "asof_join" =>
        s"""$duckPrefix
           SELECT ${kPrefix}CAST(l.rn - 1 AS BIGINT) AS i,
                  ra.rvs[$nearPos1] AS val
           FROM $joinRaD"""
      case "asof_join_pos" =>
        s"""$duckPrefix
           SELECT ${kPrefix}CAST(l.rn - 1 AS BIGINT) AS i,
                  CAST($nearPos1 - 1 AS BIGINT) AS p
           FROM $joinRaD"""
      case "join" =>
        val pbL = if (keys.isEmpty) ""
          else s"PARTITION BY ${keys.map(k => s"l.${q(k)}").mkString(", ")} "
        s"""$duckPrefix
           SELECT ${keys.map(k => s"l.${q(k)}, ").mkString}
                  CAST(row_number() OVER (${pbL}ORDER BY l.ts) - 1 AS BIGINT) AS i,
                  r.v AS val
           FROM l JOIN r ON l.ts = r.ts${keyEqD("l", "r")}"""
      case "join_pos" =>
        val pbL = if (keys.isEmpty) ""
          else s"PARTITION BY ${keys.map(k => s"l.${q(k)}").mkString(", ")} "
        s"""$duckPrefix
           SELECT ${keys.map(k => s"l.${q(k)}, ").mkString}
                  CAST(row_number() OVER (${pbL}ORDER BY l.ts) - 1 AS BIGINT) AS i,
                  CAST(r.rn - 1 AS BIGINT) AS p
           FROM l JOIN r ON l.ts = r.ts${keyEqD("l", "r")}"""
      case "stretch" =>
        s"""$duckPrefix
           SELECT ${kPrefix}CAST(l.rn - 1 AS BIGINT) AS i,
                  CASE WHEN len(list_filter(ra.rts, x -> x > l.ts)) = 0 THEN $filler
                       ELSE ra.rvs[len(ra.rts) - len(list_filter(ra.rts, x -> x > l.ts)) + 1]
                  END AS val
           FROM $joinRaD"""
      case "asof_back" =>
        // cs_asof's BACKWARD direction: the rightmost right element
        // at/before l.ts (rts sorted asc, so the count of elements
        // <= l.ts is that element's 1-based index), NULL when none
        s"""$duckPrefix
           SELECT ${kPrefix}CAST(l.rn - 1 AS BIGINT) AS i,
                  CASE WHEN len(list_filter(ra.rts, x -> x <= l.ts)) = 0 THEN NULL
                       ELSE ra.rvs[len(list_filter(ra.rts, x -> x <= l.ts))]
                  END AS val
           FROM $joinRaD"""
      case _ => // stretch0: the merged union via FULL JOIN, keys-in-both
        val ck = keys.map(k =>
          s"""coalesce(l.${q(k)}, r.${q(k)}) AS ${q(k)}, """).mkString
        val bothKeys =
          if (keys.isEmpty) ""
          else s"""WHERE ${keys.map(k =>
            s"${q(k)} IN (SELECT ${q(k)} FROM l) AND ${q(k)} IN (SELECT ${q(k)} FROM r)")
            .mkString(" AND ")}"""
        s"""$duckPrefix,
           u AS (SELECT ${ck}coalesce(l.ts, r.ts) AS ts, r.v,
                        (r.ts IS NOT NULL) AS has_r
                 FROM l FULL JOIN r ON l.ts = r.ts${keyEqD("l", "r")})
           SELECT ${kPrefix}CAST(row_number() OVER (${pb}ORDER BY ts) - 1 AS BIGINT) AS i,
                  CASE WHEN has_r THEN v ELSE $filler END AS val
           FROM u $bothKeys"""
    }

    // ---- cs side: pack both series, apply the registered align name ------
    val view = s"__graft_csalign_src_$seed"
    val joinRaS =
      if (keys.isEmpty) "la CROSS JOIN ra" else s"la JOIN ra USING (${keys.mkString(", ")})"
    val csPrefix =
      s"""WITH l0 AS (SELECT ${kCs}$tsS AS ts FROM $view
           ${whereS("event_id % 2 = 0")} GROUP BY ${kCs}$tsS),
         la AS (SELECT ${kCs}slice(sort_array(collect_list(ts)), 1, $headN) AS lts
                FROM l0$grpS),
         r0 AS (SELECT ${kCs}$tsS AS ts, max(CAST(`value` AS DOUBLE)) AS v FROM $view
           ${whereS("event_id % 2 = 1 AND `value` IS NOT NULL")} GROUP BY ${kCs}$tsS),
         ra0 AS (SELECT ${kCs}sort_array(collect_list(struct(ts, v))) AS tv
                 FROM r0$grpS),
         ra AS (SELECT ${kCs}transform(slice(tv, 1, $headN), e -> e.ts) AS rts,
                       transform(slice(tv, 1, $headN), e -> e.v) AS rvs FROM ra0),
         j AS (SELECT ${kCs}lts, rts, rvs FROM $joinRaS)"""
    val csSql = op match {
      case "asof_join" =>
        s"""$csPrefix
           SELECT ${kCs}CAST(t.i AS BIGINT) AS i, t.v AS val
           FROM j LATERAL VIEW posexplode(cs_asof_join(lts, rts, rvs)) t AS i, v"""
      case "asof_join_pos" =>
        s"""$csPrefix
           SELECT ${kCs}CAST(t.i AS BIGINT) AS i, CAST(t.p AS BIGINT) AS p
           FROM j LATERAL VIEW posexplode(cs_asof_join_pos(lts, rts)) t AS i, p"""
      case "join" =>
        s"""$csPrefix
           SELECT ${kCs}CAST(t.i AS BIGINT) AS i, t.v AS val
           FROM j LATERAL VIEW posexplode(cs_join(lts, rts, rvs)) t AS i, v"""
      case "join_pos" =>
        s"""$csPrefix
           SELECT ${kCs}CAST(t.i AS BIGINT) AS i, CAST(t.p AS BIGINT) AS p
           FROM j LATERAL VIEW posexplode(cs_join_pos(lts, rts)) t AS i, p"""
      case "stretch" =>
        s"""$csPrefix
           SELECT ${kCs}CAST(t.i AS BIGINT) AS i, t.v AS val
           FROM j LATERAL VIEW posexplode(cs_stretch(lts, rts, rvs, ${filler}D)) t AS i, v"""
      case "asof_back" =>
        // the scalar lookup applied per exploded left element — the
        // backward-direction leg of the align family (cs_asof vs
        // cs_asof_join's nearest pick)
        s"""$csPrefix
           SELECT ${kCs}CAST(t.i AS BIGINT) AS i, cs_asof(t.lt, rts, rvs) AS val
           FROM j LATERAL VIEW posexplode(lts) t AS i, lt"""
      case _ =>
        s"""$csPrefix
           SELECT ${kCs}CAST(t.i AS BIGINT) AS i, t.v AS val
           FROM j LATERAL VIEW posexplode(cs_stretch0(lts, rts, rvs, ${filler}D)) t AS i, v"""
    }

    val run = (spark: SparkSession, sfDir: String) => {
      base.srcSpark(spark, sfDir).createOrReplaceTempView(view)
      spark.sql(csSql)
    }
    FuzzProgram(seed, desc.result(), run, sql)
  }
}

/** Driver for the fuzzer: writes each program's Spark result as parquet
  * plus `oracle_sql.json`, in exactly the layout `tools/check.py` (and the
  * round driver's gate) consumes — one differential run is then
  * `python3 tools/check.py <sfDir> <outDir>`. `tools/run_fuzz.sh` wraps
  * the whole loop; FuzzSpec runs it inside `sbt test`.
  */
object Fuzz {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val n = if (args.length > 2) args(2).toInt else 200
    val seed0 = if (args.length > 3) args(3).toLong else 1L
    val baseOverride = if (args.length > 4) Some(args(4)) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.Session(cpus, cpus)
    spark.sparkContext.setLogLevel("WARN")
    val crashes = runPrograms(spark, sfDir, outDir, n, seed0, baseOverride)
    // the cs_* SQL-surface leg rides every default run at a quarter of
    // the row-grammar volume (VERDICT r15 item 5); BASE=cs runs it alone
    val csCrashes =
      if (baseOverride.isEmpty)
        runPrograms(spark, sfDir, outDir, math.max(n / 4, 1), seed0,
          Some("cs"), namePrefix = "fuzzcs_", appendLog = true)
      else Seq.empty
    (crashes ++ csCrashes).foreach { case (s, d, e) =>
      System.err.println(s"[fuzz] seed=$s CRASHED: $d\n  $e")
    }
    System.err.println(s"[fuzz] $n programs, seeds $seed0..${seed0 + n - 1}, " +
      s"${crashes.size + csCrashes.size} crashed; results in $outDir")
    if (crashes.nonEmpty || csCrashes.nonEmpty) sys.exit(2)
  }

  /** Generate and execute programs seed0..seed0+n-1; write each result to
    * `outDir/fuzz_<seed>/` plus `oracle_sql.json` and a `programs.txt`
    * replay log. Returns (seed, desc, error) for programs that crashed on
    * the Spark side — those are findings too (the oracle never ran).
    * The `cs_*` SQL programs need the names installed on `spark`, as
    * [[graft.Session]] does at build.
    */
  def runPrograms(spark: SparkSession, sfDir: String, outDir: String,
                  n: Int, seed0: Long,
                  baseOverride: Option[String] = None,
                  namePrefix: String = "fuzz_",
                  appendLog: Boolean = false): Seq[(Long, String, String)] = {
    new java.io.File(outDir).mkdirs()
    val sqls = mutable.LinkedHashMap.empty[String, String]
    // appendLog: a second leg in the same out dir (the cs_* batch after
    // the row batch) merges into the existing oracle map and replay log
    // instead of clobbering the first leg's entries
    if (appendLog) scala.util.Try {
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      sqls ++= org.json4s.jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$outDir/oracle_sql.json")), "UTF-8"))
        .extract[Map[String, String]]
    }
    val crashes = mutable.ArrayBuffer.empty[(Long, String, String)]
    val log = new StringBuilder
    for (i <- 0 until n) {
      val p = FuzzGen.gen(seed0 + i, baseOverride)
      val name = s"$namePrefix${p.seed}"
      log ++= s"$name: ${p.desc}\n"
      try {
        p.run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        sqls += name -> p.sql
      } catch {
        case e: Throwable => crashes += ((p.seed, p.desc, String.valueOf(e)))
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/programs.txt"),
      log.result().getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      if (appendLog) java.nio.file.StandardOpenOption.APPEND
      else java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    // same escape as Verify: control chars would break the driver's json.load
    def esc(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = sqls.map { case (k, v) => s"${esc(k)}: ${esc(v)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      json.getBytes("UTF-8"))
    crashes.toSeq
  }
}
