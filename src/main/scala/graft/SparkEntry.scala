package graft

import graft.agg.Aggs
import graft.analytics.Analytics
import graft.dedup.Dedup
import graft.io.Tables
import graft.join.Align
import graft.series.{Conditional, Series}
import graft.sim.Similarity
import graft.text.{Dict, TextOps}
import graft.window.Moving
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The operator catalog. Each `queryDefs` entry exercises one operator
  * family from SURVEY.md §2 (or the training-data pipeline extensions) on
  * the TESTDATA parquet tables, beside the DuckDB equivalent its result is
  * diffed against (`tools/check.py`). Column names/aliases match between
  * the two by construction (the driver sorts columns by name and hashes
  * values). Double-valued outputs are cast to float on both sides so that
  * summation-order ulp differences between engines cannot flip the hash.
  */
object SparkEntry {

  private def li(s: SparkSession, dir: String) = Tables.read(s, dir, "lineitem")
  private def ord(s: SparkSession, dir: String) = Tables.read(s, dir, "orders")
  private def cust(s: SparkSession, dir: String) = Tables.read(s, dir, "customer")
  private def docs(s: SparkSession, dir: String) = Tables.read(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = Tables.read(s, dir, "embeddings")

  // r17's cpuSplit helper (a round-robin repartition-to-core-count ahead
  // of the exact-percentile partials) was REMOVED in r18: it shipped
  // without timing evidence (VERDICT r17 wrong #3), and the 9-rep A/B
  // measured the added Exchange as a consistent LOSS on all three users
  // (plans/r18/cpusplit_ab/: q_median 1.15 vs 0.98 s, q_quantile 1.29 vs
  // 1.25, q_approx_quantile 1.88 vs 1.63).

  /** events as a per-type series: pos = rank within event_type by
    * (ts, event_id). event_type has ~5 distinct values, so the naive
    * key-partitioned window would run 5 tasks; attachPosRanged keeps
    * parallelism at the shuffle-partition count instead. The result is
    * persisted once per (session, dir) — the Spark analog of the
    * reference materializing positions at `TABLE_load` time
    * (imcs.c:4177-4412) rather than per query.
    */
  // keyed by the session OBJECT (default reference equality), not its
  // identityHashCode: the strong reference pins the session so a GC'd
  // session's hash can never be reused by a new one mid-process
  private val seriesCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  /** Process-unique tmp component: two concurrent JVMs benchmarking the
    * same dir must not overwrite each other's parquet mid-read, and a
    * fresh process must not serve a stale dump from a prior run.
    */
  private val procTag = java.util.UUID.randomUUID().toString.replace("-", "")

  /** Materialize a small staged-table readback and DROP the staging table
    * in one step — returning the lazy frame would pin the table past the
    * closure and leak one full copy per run into the persistent warehouse.
    */
  private def materializeAndDrop(s: SparkSession, agg: DataFrame,
                                 t: String): DataFrame = {
    val local = s.createDataFrame(
      java.util.Arrays.asList(agg.collect(): _*), agg.schema)
    s.sql(s"DROP TABLE IF EXISTS `$t`")
    local
  }

  /** Hold `t`'s writer lease for a WHOLE staged-table query closure: the
    * per-op leases inside (load/append/compact each take and release
    * their own) leave gaps where a concurrent JVM sharing the warehouse
    * could rebuild or drop the table mid-query — double-counted
    * readbacks with no error. Same-thread re-entrancy makes the inner
    * ops' leases no-ops under this one.
    */
  private def withTableLease[T](s: SparkSession, t: String)(body: => T): T = {
    val loc = new org.apache.hadoop.fs.Path(
      s.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(t)))
    Tables.withWriterLease(
      loc.getFileSystem(s.sparkContext.hadoopConfiguration), loc, s"query:$t")(body)
  }
  // collision-free per-cache-entry suffix: identityHashCode is stable but
  // NOT unique, and a collision between two live sessions caching the same
  // dir would alias their dump paths (overwrite-while-reading)
  private val seriesSeq = new java.util.concurrent.atomic.AtomicLong()
  private def evSeries(s: SparkSession, dir: String): DataFrame =
    seriesCache.getOrElseUpdate((s, dir), {
      // Write the numbered series back to parquet (pos persisted at ingest,
      // the reference's TABLE_load layout) rather than .persist(): queries
      // then get columnar scans with column pruning and min/max row-group
      // pruning on pos/event_type — an RDD-backed memory cache gives
      // row-at-a-time scans with neither.
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      // path components: process UUID (two JVMs must not clobber each
      // other), a per-entry sequence number (unique per (session, dir)
      // cache entry within this JVM — unlike identityHashCode, which can
      // collide), and the dir tag. The dump is deleted on JVM exit so
      // repeated runs don't accumulate copies in tmp.
      val path = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_series_events_${procTag}_${seriesSeq.incrementAndGet()}_$tag"
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(path))
      }
      // The dump is written with byte-proportional partitioning (the
      // series is ~events-sized), range-clustered on (event_type, pos) so
      // parquet min/max row-group pruning survives: a 32-file dump of a
      // 2 MB series would cost ~6 ms of task overhead PER PARTITION on
      // every downstream scan — measured to dwarf the scans themselves at
      // small SF, while at scale the same rule yields core-count files.
      val target = Tables.sizedParts(s, s"$dir/events.parquet")
      Series.attachPosRanged(Tables.read(s, dir, "events"),
        Seq("event_type"), Seq(col("ts"), col("event_id")))
        .repartitionByRange(target, col("event_type"), col("pos"))
        .sortWithinPartitions("event_type", "pos")
        .write.mode("overwrite").parquet(path)
      // persist the read-back frame: the series IS the loaded table (the
      // reference's post-TABLE_load state), so queries over it should scan
      // memory like every other cached table, not re-read parquet per run
      s.read.parquet(path)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Materialize the events series (ranged pos numbering + persist) — the
    * Spark analog of the reference numbering elements at `TABLE_load` time.
    * Bench calls this in its load phase so the timed queries measure query
    * work, not ingest.
    */
  def warmSeries(s: SparkSession, dir: String): Unit = { evSeries(s, dir).count(); () }

  /** SQL fragment mirroring evSeries's pos. */
  private val evPosSql =
    "SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS pos FROM events"

  /** Double outputs are cast to float (REAL in the oracle SQL): both engines
    * compute in double with summation orders that may differ in the last
    * bits; the float cast collapses ulp-level divergence to identical bits,
    * where decimal rounding would flip at ties (e.g. x.xxx25).
    */
  private def fl(c: Column): Column = c.cast("float")


  /** Flagship query on sf=0.001; driver smoke-checks rows>0. TPC-H Q1. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One gated query: the Spark frame over the tables in `dir`, and the
    * DuckDB SQL over the same tables that its result is diffed against.
    */
  final case class QueryDef(name: String,
                            frame: (SparkSession, String) => DataFrame,
                            oracle: String)

  /** Every gated query by name. Looking an entry up and running it
    * installs the `cs_*` names on the caller's session first (adding only
    * absent names): the SQL-text bodies need them; the Column operators
    * do not, so a plain session runs every entry.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    queryDefs.map { d =>
      d.name -> ((s: SparkSession, dir: String) => {
        graft.sqlext.GraftFunctions.register(s)
        d.frame(s, dir)
      })
    }.toMap

  /** Every gated query's oracle SQL by name. */
  lazy val oracleSql: Map[String, String] =
    queryDefs.map(d => d.name -> d.oracle).toMap

  /** The gated queries, each frame beside its oracle. */
  lazy val queryDefs: Seq[QueryDef] = Seq(
    // ---- hash aggregation (cs_hash_* family, func.c:5113-5447) ----
    QueryDef("q1_agg", (s, dir) => {
      li(s, dir)
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          fl(sum(col("l_quantity"))).as("sum_qty"),
          fl(sum(col("l_extendedprice"))).as("sum_base_price"),
          fl(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price"),
          fl(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))).as("sum_charge"),
          fl(avg(col("l_quantity"))).as("avg_qty"),
          fl(avg(col("l_extendedprice"))).as("avg_price"),
          fl(avg(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(l_quantity) AS REAL) AS sum_qty,
         CAST(sum(l_extendedprice) AS REAL) AS sum_base_price,
         CAST(sum(l_extendedprice * (1 - l_discount)) AS REAL) AS sum_disc_price,
         CAST(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS REAL) AS sum_charge,
         CAST(avg(l_quantity) AS REAL) AS avg_qty,
         CAST(avg(l_extendedprice) AS REAL) AS avg_price,
         CAST(avg(l_discount) AS REAL) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus"""),
    QueryDef("q_hash_multi", (s, dir) => {
      // 3-key hash agg — BASELINE.md row 10 shape.
      li(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"), year(col("l_shipdate")).as("ship_year"))
        .agg(
          count(lit(1)).as("n"),
          fl(sum(col("l_extendedprice"))).as("sum_price"),
          fl(avg(col("l_discount"))).as("avg_disc"),
          fl(min(col("l_quantity"))).as("min_qty"),
          fl(max(col("l_quantity"))).as("max_qty"),
          // cs_hash_all / cs_hash_any bit reductions (func.c:5385-5447)
          bit_and(col("l_partkey")).as("ha_all"),
          bit_or(col("l_partkey")).as("ha_any"))
    },
      """SELECT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year,
         count(*) AS n, CAST(sum(l_extendedprice) AS REAL) AS sum_price,
         CAST(avg(l_discount) AS REAL) AS avg_disc,
         CAST(min(l_quantity) AS REAL) AS min_qty, CAST(max(l_quantity) AS REAL) AS max_qty,
         CAST(bit_and(l_partkey) AS BIGINT) AS ha_all,
         CAST(bit_or(l_partkey) AS BIGINT) AS ha_any
         FROM lineitem GROUP BY 1, 2, 3"""),
    QueryDef("q_hash_dup_count", (s, dir) =>
      Aggs.hashDupCount(ord(s, dir), "o_custkey", Seq("o_orderpriority"), 3L),
      """SELECT o_orderpriority, count(*) AS dup_count FROM (
           SELECT o_orderpriority, o_custkey, count(*) AS occ
           FROM orders GROUP BY 1, 2 HAVING count(*) >= 3)
         GROUP BY o_orderpriority"""),

    // ---- grand aggregates (cs_count/min/max/sum/avg/var/dev, §2.4) ----
    QueryDef("q_grand_agg", (s, dir) => {
      li(s, dir).agg(
        count(lit(1)).as("cnt"),
        fl(sum(col("l_quantity"))).as("sum_q"),
        fl(min(col("l_extendedprice"))).as("min_p"),
        fl(max(col("l_extendedprice"))).as("max_p"),
        fl(avg(col("l_extendedprice"))).as("avg_p"),
        fl(var_pop(col("l_quantity"))).as("var_q"),
        fl(stddev_pop(col("l_quantity"))).as("dev_q"))
    },
      """SELECT count(*) AS cnt, CAST(sum(l_quantity) AS REAL) AS sum_q,
         CAST(min(l_extendedprice) AS REAL) AS min_p, CAST(max(l_extendedprice) AS REAL) AS max_p,
         CAST(avg(l_extendedprice) AS REAL) AS avg_p,
         CAST(var_pop(l_quantity) AS REAL) AS var_q, CAST(stddev_pop(l_quantity) AS REAL) AS dev_q
         FROM lineitem"""),
    QueryDef("q_scalar_agg", (s, dir) => {
      // two-series scalar aggregates: wsum/wavg/cov/corr (func.c:1502-1610)
      li(s, dir).agg(
        fl(Aggs.wsum(col("l_quantity"), col("l_extendedprice"))).as("wsum"),
        fl(Aggs.wavg(col("l_quantity"), col("l_extendedprice"))).as("wavg"),
        fl(covar_pop(col("l_quantity"), col("l_extendedprice"))).as("cov"),
        fl(corr(col("l_quantity"), col("l_extendedprice"))).as("corr"))
    },
      """SELECT CAST(sum(l_quantity * l_extendedprice) AS REAL) AS wsum,
         CAST(sum(l_quantity * l_extendedprice) / sum(l_quantity) AS REAL) AS wavg,
         CAST(covar_pop(l_quantity, l_extendedprice) AS REAL) AS cov,
         CAST(corr(l_quantity, l_extendedprice) AS REAL) AS corr
         FROM lineitem"""),
    QueryDef("q_vwap", (s, dir) => {
      // per-key VWAP — BASELINE.md rows 4/5: cs_wavg(Volume, Close) per symbol
      li(s, dir).groupBy(col("l_suppkey"))
        .agg(fl(Aggs.wavg(col("l_quantity"), col("l_extendedprice"))).as("vwap"))
    },
      """SELECT l_suppkey,
         CAST(sum(l_quantity * l_extendedprice) / sum(l_quantity) AS REAL) AS vwap
         FROM lineitem GROUP BY l_suppkey"""),
    QueryDef("q_filter_count", (s, dir) =>
      // BASELINE.md row 9: cs_count((Close > Open*1.1)?)
      li(s, dir).filter(col("l_extendedprice") > col("l_quantity") * lit(1000.0))
        .agg(count(lit(1)).as("n")),
      "SELECT count(*) AS n FROM lineitem WHERE l_extendedprice > l_quantity * 1000.0"),
    QueryDef("q_prd", (s, dir) =>
      // product aggregate over a small positive series (cs_prd)
      evSeries(s, dir).filter(col("event_type") === "purchase" && col("pos") < 20)
        .agg(fl(Aggs.prd("value")).as("prd")),
      s"""SELECT CAST(product("value") AS REAL) AS prd FROM ($evPosSql)
         WHERE event_type = 'purchase' AND pos < 20"""),
    QueryDef("q_median", (s, dir) =>
      // r18: the r17 cpuSplit repartition REVERTED — the 9-rep A/B
      // (plans/r18/cpusplit_ab/) measured the round-robin Exchange as a
      // consistent LOSS here (1.15 vs 0.98 s min), not a win; the
      // percentile partial parallelizes fine on the cache's own split
      li(s, dir).select(col("l_quantity"), col("l_extendedprice"))
        .agg(
          fl(percentile(col("l_quantity"), lit(0.5))).as("med_q"),
          fl(percentile(col("l_extendedprice"), lit(0.9))).as("p90_price")),
      """SELECT CAST(quantile_cont(l_quantity, 0.5) AS REAL) AS med_q,
         CAST(quantile_cont(l_extendedprice, 0.9) AS REAL) AS p90_price FROM lineitem"""),
    QueryDef("q_all_any", (s, dir) =>
      // bitwise AND/OR reduction — cs_all/cs_any (func.c:1446-1456)
      ord(s, dir).agg(
        bit_and(col("o_custkey")).as("all_bits"),
        bit_or(col("o_custkey")).as("any_bits")),
      "SELECT bit_and(o_custkey) AS all_bits, bit_or(o_custkey) AS any_bits FROM orders"),

    // ---- element-wise scalar ops (§2.3) ----
    QueryDef("q_arith", (s, dir) =>
      li(s, dir).filter(col("l_orderkey") < 100)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          fl(col("l_extendedprice") + col("l_quantity")).as("add"),
          fl(col("l_extendedprice") - col("l_quantity")).as("sub"),
          fl(col("l_extendedprice") * col("l_discount")).as("mul"),
          fl(col("l_extendedprice") / col("l_quantity")).as("div"),
          pmod(col("l_orderkey"), lit(7)).as("mod"),
          fl(pow(col("l_quantity"), lit(2.0))).as("pw")),
      """SELECT l_orderkey, l_linenumber,
         CAST(l_extendedprice + l_quantity AS REAL) AS add,
         CAST(l_extendedprice - l_quantity AS REAL) AS sub,
         CAST(l_extendedprice * l_discount AS REAL) AS mul,
         CAST(l_extendedprice / l_quantity AS REAL) AS div,
         l_orderkey % 7 AS mod,
         CAST(pow(l_quantity, 2.0) AS REAL) AS pw
         FROM lineitem WHERE l_orderkey < 100"""),
    QueryDef("q_math", (s, dir) =>
      li(s, dir).filter(col("l_orderkey") < 100)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          fl(abs(-col("l_quantity"))).as("abs_v"),
          fl(sqrt(col("l_extendedprice"))).as("sqrt_v"),
          fl(log(col("l_extendedprice"))).as("ln_v"),
          fl(exp(col("l_discount"))).as("exp_v"),
          fl(sin(col("l_quantity"))).as("sin_v"),
          floor(col("l_extendedprice")).as("floor_v"),
          ceil(col("l_extendedprice")).as("ceil_v"),
          fl(greatest(col("l_quantity"), col("l_discount") * 100)).as("maxof"),
          fl(least(col("l_quantity"), col("l_discount") * 100)).as("minof")),
      """SELECT l_orderkey, l_linenumber,
         CAST(abs(-l_quantity) AS REAL) AS abs_v, CAST(sqrt(l_extendedprice) AS REAL) AS sqrt_v,
         CAST(ln(l_extendedprice) AS REAL) AS ln_v, CAST(exp(l_discount) AS REAL) AS exp_v,
         CAST(sin(l_quantity) AS REAL) AS sin_v,
         CAST(floor(l_extendedprice) AS BIGINT) AS floor_v,
         CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_v,
         CAST(greatest(l_quantity, l_discount * 100) AS REAL) AS maxof,
         CAST(least(l_quantity, l_discount * 100) AS REAL) AS minof
         FROM lineitem WHERE l_orderkey < 100"""),
    QueryDef("q_datetime", (s, dir) =>
      // cs_year/month/mday/wday/hour/minute/second/week/quarter (§2.3)
      ord(s, dir).filter(col("o_orderkey") < 200)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("mday"),
          dayofweek(col("o_orderdate")).as("wday"),
          hour(col("o_orderdate")).as("hr"),
          minute(col("o_orderdate")).as("mi"),
          second(col("o_orderdate")).as("sec"),
          weekofyear(col("o_orderdate")).as("wk"),
          quarter(col("o_orderdate")).as("qtr")),
      """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS mo,
         day(o_orderdate) AS mday, dayofweek(o_orderdate) + 1 AS wday,
         hour(o_orderdate) AS hr, minute(o_orderdate) AS mi,
         CAST(second(o_orderdate) AS INT) AS sec,
         weekofyear(o_orderdate) AS wk, quarter(o_orderdate) AS qtr
         FROM orders WHERE o_orderkey < 200"""),
    QueryDef("q_cast", (s, dir) =>
      li(s, dir).filter(col("l_orderkey") < 100)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("int").as("q_int"),
          col("l_quantity").cast("string").as("q_str"),
          col("l_linenumber").cast("double").as("ln_dbl"),
          to_date(col("l_shipdate")).as("ship_day")),
      """SELECT l_orderkey, l_linenumber,
         CAST(trunc(l_quantity) AS INT) AS q_int,
         CAST(l_quantity AS VARCHAR) AS q_str,
         CAST(l_linenumber AS DOUBLE) AS ln_dbl,
         CAST(l_shipdate AS DATE) AS ship_day
         FROM lineitem WHERE l_orderkey < 100"""),
    QueryDef("q_iif", (s, dir) =>
      li(s, dir).filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_discount") > 0.05, col("l_extendedprice"))
            .otherwise(-col("l_extendedprice")).as("signed_price")),
      """SELECT l_orderkey, l_linenumber,
         CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE -l_extendedprice END AS signed_price
         FROM lineitem WHERE l_orderkey < 100"""),
    QueryDef("q_like", (s, dir) =>
      Tables.read(s, dir, "part")
        .filter(col("p_name").like("%gold%") || col("p_type").like("STANDARD%"))
        .select(col("p_partkey"), col("p_name"), col("p_type")),
      """SELECT p_partkey, p_name, p_type FROM part
         WHERE p_name LIKE '%gold%' OR p_type LIKE 'STANDARD%'"""),

    // ---- positional series ops (§2.2) ----
    QueryDef("q_span", (s, dir) =>
      Series.span(evSeries(s, dir), Seq("event_type"), 10, 19)
        .select(col("event_type"), col("pos"), col("event_id"), fl(col("value")).as("value")),
      s"""SELECT event_type, pos, event_id, CAST("value" AS REAL) AS value
         FROM ($evPosSql) WHERE pos BETWEEN 10 AND 19"""),
    QueryDef("q_thin", (s, dir) =>
      Series.thin(evSeries(s, dir), 0, 100)
        .select(col("event_type"), col("pos"), col("event_id")),
      s"SELECT event_type, pos, event_id FROM ($evPosSql) WHERE pos % 100 = 0"),
    QueryDef("q_head_tail", (s, dir) => {
      val se = evSeries(s, dir)
      Series.head(se, 5).withColumn("which", lit("head"))
        .unionByName(Series.tail(se, Seq("event_type"), 5).withColumn("which", lit("tail")))
        .select(col("event_type"), col("which"), col("pos"), col("event_id"))
    },
      s"""WITH se AS (SELECT *, count(*) OVER (PARTITION BY event_type) AS cnt FROM ($evPosSql))
         SELECT event_type, 'head' AS which, pos, event_id FROM se WHERE pos < 5
         UNION ALL
         SELECT event_type, 'tail' AS which, pos, event_id FROM se WHERE pos >= cnt - 5"""),
    QueryDef("q_reverse", (s, dir) =>
      Series.reverse(evSeries(s, dir), Seq("event_type"))
        .filter(col("pos") < 5)
        .select(col("event_type"), col("pos"), col("event_id")),
      s"""SELECT event_type, cnt - 1 - pos AS pos, event_id
         FROM (SELECT *, count(*) OVER (PARTITION BY event_type) AS cnt FROM ($evPosSql))
         WHERE cnt - 1 - pos < 5"""),
    QueryDef("q_filter_pos", (s, dir) =>
      evSeries(s, dir).filter(col("value") > 450).select(col("event_type"), col("pos")),
      s"""SELECT event_type, pos FROM ($evPosSql) WHERE "value" > 450"""),
    QueryDef("q_unique", (s, dir) =>
      // adjacent-duplicate collapse on a coarse value (cs_unique)
      Series.uniqueAdjacent(
        evSeries(s, dir).withColumn("bucket", floor(col("value") / 100)),
        Seq("event_type"), "bucket")
        .select(col("event_type"), col("pos"), col("bucket")),
      s"""SELECT event_type, pos, bucket FROM (
           SELECT event_type, pos, bucket,
             lag(bucket) OVER (PARTITION BY event_type ORDER BY pos) AS prev
           FROM (SELECT *, CAST(floor("value" / 100) AS BIGINT) AS bucket FROM ($evPosSql)))
         WHERE prev IS NULL OR prev <> bucket"""),
    QueryDef("q_gather", (s, dir) => {
      // cs_map: project value at the positions where another cond held
      val se = evSeries(s, dir)
      val pos = se.filter(col("value") > 480).select(col("event_type"), col("pos"))
      Series.gather(se, pos, Seq("event_type"))
        .select(col("event_type"), col("pos"), col("event_id"), fl(col("value")).as("value"))
    },
      s"""SELECT event_type, pos, event_id, CAST("value" AS REAL) AS value
         FROM ($evPosSql) WHERE "value" > 480"""),

    // ---- grouped / grid / cumulative / moving (§2.4-2.5) ----
    QueryDef("q_group_agg", (s, dir) =>
      Aggs.groupAgg(
        evSeries(s, dir).withColumn("dir", (col("value") > 250).cast("int")),
        Seq("event_type"), "dir", "value", intVal = Some("user_id"))
        .select(col("event_type"), col("run_id"), col("group_val"),
          col("grp_count"), fl(col("grp_sum")).as("grp_sum"),
          fl(col("grp_min")).as("grp_min"), fl(col("grp_max")).as("grp_max"),
          fl(col("grp_avg")).as("grp_avg"),
          fl(col("grp_var")).as("grp_var"), fl(col("grp_dev")).as("grp_dev"),
          fl(col("grp_first")).as("grp_first"), fl(col("grp_last")).as("grp_last"),
          col("grp_all"), col("grp_any"), col("grp_exact_dc"),
          // per-run HLL bounded-error contract (cs_group_approxdc,
          // func.c:4975-5074): oracle computes the exact count; the boolean
          // asserts the estimate is within tolerance. Relative 15% (3σ at
          // rsd 0.05) PLUS an absolute floor of 4: HLL++'s small-n regime
          // is collision-driven, not rsd-bounded — a real sf0.1 run of 14
          // distinct users deterministically estimates 11 (-21%), caught
          // by the first full sf0.1 oracle diff (round 8). Same
          // relative-or-absolute shape as q_cs_sketch's both_ok contract.
          (abs(col("grp_adc") - col("grp_exact_dc")) <=
            greatest(col("grp_exact_dc") * 0.15, lit(4.0)))
            .as("grp_adc_ok")),
      s"""WITH d AS (SELECT event_type, pos, "value", user_id,
             CAST(("value" > 250) AS INT) AS dir FROM ($evPosSql)),
         runs AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL OR prev <> dir THEN 1 ELSE 0 END)
             OVER (PARTITION BY event_type ORDER BY pos) AS BIGINT) AS run_id
           FROM (SELECT *, lag(dir) OVER (PARTITION BY event_type ORDER BY pos) AS prev FROM d))
         SELECT event_type, run_id, CAST(first(dir ORDER BY pos) AS INT) AS group_val,
           count(*) AS grp_count, CAST(sum("value") AS REAL) AS grp_sum,
           CAST(min("value") AS REAL) AS grp_min, CAST(max("value") AS REAL) AS grp_max,
           CAST(avg("value") AS REAL) AS grp_avg,
           CAST(var_pop("value") AS REAL) AS grp_var,
           CAST(stddev_pop("value") AS REAL) AS grp_dev,
           CAST(first("value" ORDER BY pos) AS REAL) AS grp_first,
           CAST(last("value" ORDER BY pos) AS REAL) AS grp_last,
           CAST(bit_and(user_id) AS BIGINT) AS grp_all,
           CAST(bit_or(user_id) AS BIGINT) AS grp_any,
           count(DISTINCT user_id) AS grp_exact_dc,
           true AS grp_adc_ok
         FROM runs GROUP BY event_type, run_id"""),
    QueryDef("q_grid_agg", (s, dir) =>
      Aggs.gridAgg(evSeries(s, dir), Seq("event_type"), "value", 100)
        .select(col("event_type"), col("grid"), col("grid_count"),
          fl(col("grid_sum")).as("grid_sum"), fl(col("grid_avg")).as("grid_avg"),
          fl(col("grid_min")).as("grid_min"), fl(col("grid_max")).as("grid_max"),
          fl(col("grid_var")).as("grid_var"), fl(col("grid_dev")).as("grid_dev")),
      s"""SELECT event_type, CAST(floor(pos / 100) AS BIGINT) AS grid,
         count(*) AS grid_count, CAST(sum("value") AS REAL) AS grid_sum,
         CAST(avg("value") AS REAL) AS grid_avg,
         CAST(min("value") AS REAL) AS grid_min, CAST(max("value") AS REAL) AS grid_max,
         CAST(var_pop("value") AS REAL) AS grid_var,
         CAST(stddev_pop("value") AS REAL) AS grid_dev
         FROM ($evPosSql) GROUP BY 1, 2"""),
    QueryDef("q_cum_agg", (s, dir) =>
      // the pos<50 prefix filter is pushed BELOW the running frame: a
      // cumulative agg at pos p depends only on rows with pos' <= p, all
      // inside the prefix — Spark won't push a non-partition-column
      // predicate through a Window, so do the frame-aware pushdown by hand
      Aggs.cumAgg(evSeries(s, dir).filter(col("pos") < 50), Seq("event_type"), "value")
        .select(col("event_type"), col("pos"),
          fl(col("cum_sum")).as("cum_sum"), fl(col("cum_avg")).as("cum_avg"),
          fl(col("cum_min")).as("cum_min"), fl(col("cum_max")).as("cum_max"),
          col("cum_count"),
          fl(col("cum_var")).as("cum_var"), fl(col("cum_dev")).as("cum_dev")),
      s"""SELECT event_type, pos,
         CAST(sum("value") OVER w AS REAL) AS cum_sum, CAST(avg("value") OVER w AS REAL) AS cum_avg,
         CAST(min("value") OVER w AS REAL) AS cum_min, CAST(max("value") OVER w AS REAL) AS cum_max,
         count(*) OVER w AS cum_count,
         CAST(var_pop("value") OVER w AS REAL) AS cum_var,
         CAST(stddev_pop("value") OVER w AS REAL) AS cum_dev
         FROM ($evPosSql) WINDOW w AS (PARTITION BY event_type ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         QUALIFY pos < 50"""),
    QueryDef("q_window_agg", (s, dir) =>
      // same frame-aware pushdown as q_cum_agg: a trailing 10-row frame at
      // pos p reads only pos' in [p-9, p], all inside the pos<100 prefix
      Moving.windowAgg(evSeries(s, dir).filter(col("pos") < 100),
        Seq("event_type"), "value", 10)
        .select(col("event_type"), col("pos"),
          fl(col("w_sum")).as("w_sum"), fl(col("w_avg")).as("w_avg"),
          fl(col("w_min")).as("w_min"), fl(col("w_max")).as("w_max"),
          fl(col("w_var")).as("w_var"),
          fl(col("w_avg_ref")).as("w_avg_ref"),
          fl(col("w_var_ref")).as("w_var_ref"),
          fl(col("w_dev_ref")).as("w_dev_ref")),
      s"""SELECT event_type, pos,
         CAST(sum("value") OVER w AS REAL) AS w_sum, CAST(avg("value") OVER w AS REAL) AS w_avg,
         CAST(min("value") OVER w AS REAL) AS w_min, CAST(max("value") OVER w AS REAL) AS w_max,
         CAST(var_pop("value") OVER w AS REAL) AS w_var,
         CAST(sum("value") OVER w / 10.0 AS REAL) AS w_avg_ref,
         CAST((sum("value" * "value") OVER w
               - sum("value") OVER w * sum("value") OVER w / 10.0) / 10.0 AS REAL) AS w_var_ref,
         CAST(sqrt(greatest((sum("value" * "value") OVER w
               - sum("value") OVER w * sum("value") OVER w / 10.0) / 10.0, 0.0)) AS REAL) AS w_dev_ref
         FROM ($evPosSql) WINDOW w AS (PARTITION BY event_type ORDER BY pos
           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         QUALIFY pos < 100"""),

    // ---- order analytics (§2.6, §2.8) ----
    QueryDef("q_topk", (s, dir) =>
      Aggs.topK(ord(s, dir), "o_totalprice", 25, desc = true, "o_orderkey")
        .select(col("o_orderkey"), fl(col("o_totalprice")).as("o_totalprice")),
      """SELECT o_orderkey, CAST(o_totalprice AS REAL) AS o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25"""),
    QueryDef("q_rank", (s, dir) =>
      Moving.rank(evSeries(s, dir).filter(col("pos") < 50), Seq("event_type"), "value")
        .select(col("event_type"), col("pos"), col("rnk"), col("dense_rnk")),
      s"""SELECT event_type, pos,
         rank() OVER (PARTITION BY event_type ORDER BY "value") AS rnk,
         dense_rank() OVER (PARTITION BY event_type ORDER BY "value") AS dense_rnk
         FROM ($evPosSql) WHERE pos < 50"""),
    QueryDef("q_quantile", (s, dir) =>
      // r18: cpuSplit reverted — measured loss (see q_median's note)
      Analytics.quantile(li(s, dir).select(col("l_extendedprice")),
        "l_extendedprice", 4)
        .select(col("q_idx"), fl(col("q_value")).as("q_value")),
      """WITH qv AS (SELECT quantile_cont(l_extendedprice, [0.0, 0.25, 0.5, 0.75, 1.0]) AS qs
                     FROM lineitem)
         SELECT q_idx, CAST(qs[q_idx + 1] AS REAL) AS q_value
         FROM qv, (SELECT unnest(generate_series(0, 4)) AS q_idx)"""),
    QueryDef("q_diff", (s, dir) =>
      Analytics.diff(evSeries(s, dir), Seq("event_type"), "value")
        .filter(col("pos") < 100)
        .select(col("event_type"), col("pos"), fl(col("diff")).as("diff")),
      s"""SELECT event_type, pos,
         CAST(coalesce("value" - lag("value") OVER (PARTITION BY event_type ORDER BY pos), 0) AS REAL) AS diff
         FROM ($evPosSql) QUALIFY pos < 100"""),
    QueryDef("q_histogram", (s, dir) =>
      Aggs.histogram(evSeries(s, dir), "value", 0.0, 500.0, 10),
      s"""SELECT CAST(floor(("value" - 0.0) / 50.0) AS BIGINT) AS bin, count(*) AS bin_count
         FROM events WHERE "value" >= 0.0 AND "value" < 500.0 GROUP BY 1"""),
    QueryDef("q_norm", (s, dir) =>
      Analytics.norm(evSeries(s, dir), Seq("event_type"), "value")
        .filter(col("pos") < 50)
        .select(col("event_type"), col("pos"), col("norm").cast("float").as("norm")),
      s"""SELECT event_type, pos,
         CAST("value" / sqrt(sum("value" * "value") OVER (PARTITION BY event_type)) AS REAL) AS norm
         FROM ($evPosSql) QUALIFY pos < 50"""),

    // ---- alignment joins (§2.7) ----
    QueryDef("q_join", (s, dir) => {
      // relational equi-join path: revenue per market segment
      val o = ord(s, dir)
      val c = cust(s, dir)
      li(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(fl(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"),
          count(lit(1)).as("n"))
    },
      """SELECT c_mktsegment,
         CAST(sum(l_extendedprice * (1 - l_discount)) AS REAL) AS revenue, count(*) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment"""),
    QueryDef("q_salted_join", (s, dir) => {
      // skew-salted equi-join: result is EXACTLY the plain inner join —
      // the oracle IS the plain join, so the salting's no-op contract is
      // what the gate checks
      val small = ord(s, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      Align.saltedEquiJoin(li(s, dir), small, Seq("l_orderkey"), salt = 4)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          fl(sum(col("l_extendedprice"))).as("sum_price"))
    },
      """SELECT o_orderpriority, count(*) AS n,
         CAST(sum(l_extendedprice) AS REAL) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority"""),
    QueryDef("q_bloom_join", (s, dir) => {
      // Bloom-reduced selective join: the sketch prunes the big side
      // pre-shuffle; the join removes the ≤fpp false positives, so the
      // result equals the plain filtered join exactly
      val build = ord(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      Align.bloomFilteredJoin(li(s, dir), build, Seq("l_orderkey"),
        expectedItems = 20000)
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          fl(sum(col("l_extendedprice"))).as("sum_price"))
    },
      """SELECT l_linestatus, count(*) AS n,
         CAST(sum(l_extendedprice) AS REAL) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY l_linestatus"""),
    QueryDef("q_asof", (s, dir) => {
      // as-of join: for each purchase, the last preceding signup value per user
      val ev = Tables.read(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val r = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value"))
      Align.asofJoin(l, r, Seq("user_id"), "ts", "value", "asof_value")
        .select(col("user_id"), col("event_id"),
          fl(col("value")).as("value"), fl(col("asof_value")).as("asof_value"))
    },
      """SELECT l.user_id, l.event_id, CAST(l."value" AS REAL) AS value,
         CAST(r."value" AS REAL) AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
         ON l.user_id = r.user_id AND l.ts >= r.ts"""),
    QueryDef("q_range_join", (s, dir) => {
      // bucketized interval join: purchases landing in the 7 days after
      // each signup, per user — the range becomes an equi-key (1-day
      // slots), no nested-loop join anywhere in the plan
      val ev = Tables.read(s, dir, "events")
      val day = 86400L * 1000000000L
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("start"),
          (col("ts") + lit(7 * day)).as("end"), col("event_id").as("signup_id"))
      Align.rangeJoin(purchases, signups, Seq("user_id"), "ts",
          "start", "end", bucket = day, rightCols = Seq("signup_id"))
        .groupBy("signup_id").agg(count(lit(1)).as("n_in_window"))
    },
      """SELECT s.event_id AS signup_id, count(*) AS n_in_window
         FROM (SELECT * FROM events WHERE event_type = 'signup') s
         JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON p.user_id = s.user_id
          AND epoch_ns(p.ts) >= epoch_ns(s.ts)
          AND epoch_ns(p.ts) <= epoch_ns(s.ts) + 604800000000000
         GROUP BY 1"""),
    QueryDef("q_window_join", (s, dir) => {
      // kdb-style window join (wj): per purchase, stats of signup values
      // within ±3 days for the same user — left rows become intervals,
      // the bucketized range join makes the window an equi-key, one hash
      // aggregate per purchase; empty windows surface with count 0
      val ev = Tables.read(s, dir, "events")
      val day = 86400L * 1000000000L
      val l = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max("event_id").as("purchase_id"))
      val r = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value"))
      Align.windowJoin(l, r, Seq("user_id"), "ts", 3 * day, 3 * day, "value")
        .select(col("user_id"), col("purchase_id"), col("win_count"),
          fl(col("win_sum")).as("win_sum"), fl(col("win_avg")).as("win_avg"),
          fl(col("win_min")).as("win_min"), fl(col("win_max")).as("win_max"))
    },
      """WITH l AS (SELECT user_id, ts, max(event_id) AS purchase_id
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         r AS (SELECT user_id, ts, "value" FROM events
               WHERE event_type = 'signup')
         SELECT l.user_id, l.purchase_id, count(r."value") AS win_count,
           CAST(sum(r."value") AS REAL) AS win_sum,
           CAST(avg(r."value") AS REAL) AS win_avg,
           CAST(min(r."value") AS REAL) AS win_min,
           CAST(max(r."value") AS REAL) AS win_max
         FROM l LEFT JOIN r ON l.user_id = r.user_id
           AND epoch_ns(r.ts) >= epoch_ns(l.ts) - 259200000000000
           AND epoch_ns(r.ts) <= epoch_ns(l.ts) + 259200000000000
         GROUP BY 1, 2"""),
    QueryDef("q_asof_exec", (s, dir) => {
      // the SAME as-of shape through the custom Catalyst operator
      // (graft.plans.AsofMergeJoin): logical node + planner strategy +
      // streaming per-partition merge exec; shares q_asof's oracle
      val ev = Tables.read(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val r = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value"))
      graft.plans.AsofMerge.asofJoin(l, r, Seq("user_id"), "ts", "value", "asof_value")
        .select(col("user_id"), col("event_id"),
          fl(col("value")).as("value"), fl(col("asof_value")).as("asof_value"))
    },
      """SELECT l.user_id, l.event_id, CAST(l."value" AS REAL) AS value,
         CAST(r."value" AS REAL) AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
         ON l.user_id = r.user_id AND l.ts >= r.ts"""),
    QueryDef("q_asof_bucketed", (s, dir) => {
      // the 100 TB as-of layout, oracle-gated end-to-end: both sides are
      // written through loadBucketed (bucketBy user_id, one file per
      // bucket sorted on (user_id, ts)) and joined with the custom merge
      // exec. The ingest-time shuffle is the ONLY shuffle — the per-query
      // plan must carry ZERO Exchange and ZERO Sort (fail-loud assert
      // below; BucketedJoinSpec pins the same property). Shares
      // q_asof_exec's oracle. The reference's analog is its per-key
      // series layout built at load (imcs--1.1.sql:361-369) feeding the
      // one-pass merge (func.c:4591-4662) with no repartition step.
      // Sort-order propagation from the sorted bucket files (sound here:
      // exactly one sorted file per bucket) — left ON for the session;
      // it only affects bucketed-table scans, and these two tables are
      // the only bucketed reads in the gated set.
      s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val ev = Tables.read(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val r = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value"))
      // pay-once ingest, dir-keyed names: bench warm reps re-run this
      // closure, and re-ingesting per rep would time the shuffle-ingest
      // instead of the zero-shuffle join the layout exists to prove. The
      // MD5 suffix keys the table to its source dir (testdata is
      // immutable), so a stale warehouse entry can never serve another
      // dataset's rows.
      val sfx = Tables.dirKey(dir)
      val (lName, rName) = (s"g_asof_bkt_l_$sfx", s"g_asof_bkt_r_$sfx")
      Tables.loadBucketedIfAbsent(l, lName, Seq("user_id"), 8, sortCols = Seq("ts"))
      Tables.loadBucketedIfAbsent(r, rName, Seq("user_id"), 8, sortCols = Seq("ts"))
      val out = graft.plans.AsofMerge.asofJoin(
        s.table(lName), s.table(rName),
        Seq("user_id"), "ts", "value", "asof_value")
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("AsofMergeJoin"), s"merge exec missing:\n$plan")
      require(!plan.contains("Exchange"),
        s"bucketed as-of plan still shuffles:\n$plan")
      require(!plan.contains("Sort "),
        s"bucketed as-of plan still sorts:\n$plan")
      out.select(col("user_id"), col("event_id"),
        fl(col("value")).as("value"), fl(col("asof_value")).as("asof_value"))
    },
      """SELECT l.user_id, l.event_id, CAST(l."value" AS REAL) AS value,
         CAST(r."value" AS REAL) AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
         ON l.user_id = r.user_id AND l.ts >= r.ts"""),
    QueryDef("q_asof_keyless", (s, dir) => {
      // keyless as-of over the GLOBAL series (the reference's default
      // single-series shape, func.c:4591-4662) — exercises the ranged
      // carry scan, not a whole-frame window. The right side is
      // pre-deduped per ts (max value) so equal-ts ties can't make the
      // match nondeterministic between engines.
      val ev = Tables.read(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("value"))
      val r = ev.filter(col("event_type") === "signup")
        .groupBy(col("ts")).agg(max(col("value")).as("value"))
      Align.asofJoin(l, r, Seq(), "ts", "value", "asof_value")
        .select(col("event_id"),
          fl(col("value")).as("value"), fl(col("asof_value")).as("asof_value"))
    },
      """SELECT l.event_id, CAST(l."value" AS REAL) AS value,
         CAST(r."value" AS REAL) AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT ts, max("value") AS value FROM events
                         WHERE event_type = 'signup' GROUP BY ts) r
         ON l.ts >= r.ts"""),
    QueryDef("q_asof_exec_keyless", (s, dir) => {
      // q_asof_keyless's shape through the custom-operator API: keys=()
      // runs the parallel ranged carry scan (AsofMerge.asofJoinDir's
      // keyless route) instead of a single merge task — the
      // plan has NO single-task merge. Right side deduped per ts so
      // equal-ts ties can't make the match nondeterministic between
      // engines.
      val ev = Tables.read(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("value"))
      val r = ev.filter(col("event_type") === "signup")
        .groupBy(col("ts")).agg(max(col("value")).as("value"))
      graft.plans.AsofMerge.asofJoin(l, r, Seq(), "ts", "value", "asof_value")
        .select(col("event_id"),
          fl(col("value")).as("value"), fl(col("asof_value")).as("asof_value"))
    },
      """SELECT l.event_id, CAST(l."value" AS REAL) AS value,
         CAST(r."value" AS REAL) AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT ts, max("value") AS value FROM events
                         WHERE event_type = 'signup' GROUP BY ts) r
         ON l.ts >= r.ts"""),
    QueryDef("q_asof_exec_array", (s, dir) => {
      // keyless as-of carrying an ARRAY value column through the
      // parallel carry scan, which copies the matched row's array as
      // stored. Right array is [max, min] per ts (deterministic
      // construction; a collect_list would have nondeterministic order).
      // Elements are projected for the oracle; the array itself is what
      // the scan carried.
      val ev = Tables.read(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("value"))
      val r = ev.filter(col("event_type") === "signup")
        .groupBy(col("ts")).agg(
          array(max(col("value")), min(col("value"))).as("av"))
      val out = graft.plans.AsofMerge.asofJoin(l, r, Seq(), "ts", "av", "asof_av")
      require(!out.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
        "array keyless as-of must ride the parallel carry scan")
      out.select(col("event_id"), fl(col("value")).as("value"),
        fl(element_at(col("asof_av"), 1)).as("asof_mx"),
        fl(element_at(col("asof_av"), 2)).as("asof_mn"))
    },
      """SELECT l.event_id, CAST(l."value" AS REAL) AS value,
         CAST(r.mx AS REAL) AS asof_mx, CAST(r.mn AS REAL) AS asof_mn
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT ts, max("value") AS mx, min("value") AS mn
                         FROM events WHERE event_type = 'signup' GROUP BY ts) r
         ON l.ts >= r.ts"""),
    QueryDef("q_asof_struct", (s, dir) => {
      // keyless as-of carrying a STRUCT value column (double + int64 +
      // string fields) whole through the parallel carry scan. The plan
      // is asserted free of the single-task merge; the oracle carries
      // the fields separately and the query unpacks the struct to match.
      val ev = Tables.read(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("value"))
      val r = ev.filter(col("event_type") === "signup")
        .groupBy(col("ts")).agg(max(col("value")).as("v"),
          max(col("event_id")).as("sid"), max(col("props")).as("tag"))
        .select(col("ts"), struct(col("v"), col("sid"), col("tag")).as("sv"))
      val out = graft.plans.AsofMerge.asofJoin(l, r, Seq(), "ts", "sv", "asof_sv")
      require(!out.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
        "struct keyless as-of must ride the parallel carry scan")
      out.select(col("event_id"), fl(col("value")).as("value"),
        fl(col("asof_sv").getField("v")).as("asof_v"),
        col("asof_sv").getField("sid").as("asof_sid"),
        col("asof_sv").getField("tag").as("asof_tag"))
    },
      """SELECT l.event_id, CAST(l."value" AS REAL) AS value,
         CAST(r.v AS REAL) AS asof_v, r.sid AS asof_sid, r.tag AS asof_tag
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT ts, max("value") AS v, max(event_id) AS sid,
                         max(props) AS tag FROM events
                         WHERE event_type = 'signup' GROUP BY ts) r
         ON l.ts >= r.ts"""),
    QueryDef("q_asof_exec_map", (s, dir) => {
      // keyless as-of carrying a MAP value column through the parallel
      // carry scan, which copies the matched row's map as stored. The
      // right map is {mx→max, mn→min} per ts (deterministic
      // construction); the oracle carries the values as columns and the
      // query unpacks the carried map to match.
      val ev = Tables.read(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("value"))
      val r = ev.filter(col("event_type") === "signup")
        .groupBy(col("ts")).agg(
          map_from_arrays(array(lit("mx"), lit("mn")),
            array(max(col("value")), min(col("value")))).as("mv"))
      val out = graft.plans.AsofMerge.asofJoin(l, r, Seq(), "ts", "mv", "asof_mv")
      require(!out.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
        "map keyless as-of must ride the parallel carry scan")
      out.select(col("event_id"), fl(col("value")).as("value"),
        fl(element_at(col("asof_mv"), "mx")).as("asof_mx"),
        fl(element_at(col("asof_mv"), "mn")).as("asof_mn"))
    },
      """SELECT l.event_id, CAST(l."value" AS REAL) AS value,
         CAST(r.mx AS REAL) AS asof_mx, CAST(r.mn AS REAL) AS asof_mn
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT ts, max("value") AS mx, min("value") AS mn
                         FROM events WHERE event_type = 'signup' GROUP BY ts) r
         ON l.ts >= r.ts"""),
    QueryDef("q_asof_exec_map_nested", (s, dir) => {
      // keyless as-of carrying a NESTED map (map<string, map<string,
      // double>>) through the parallel carry scan (README "As-of value
      // types") — nesting depth does not change the scan's shape, only
      // the carried value's width. The right map is {stats → {mx→max,
      // mn→min}} per ts; the query unpacks the carried nesting to the
      // scalars the oracle computes.
      val ev = Tables.read(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("value"))
      val r = ev.filter(col("event_type") === "signup")
        .groupBy(col("ts")).agg(
          map_from_arrays(array(lit("stats")),
            array(map_from_arrays(array(lit("mx"), lit("mn")),
              array(max(col("value")), min(col("value")))))).as("nmv"))
      val out = graft.plans.AsofMerge.asofJoin(l, r, Seq(), "ts", "nmv", "asof_nmv")
      require(!out.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
        "one-level nested-map as-of must ride the parallel carry scan")
      out.select(col("event_id"), fl(col("value")).as("value"),
        fl(element_at(element_at(col("asof_nmv"), "stats"), "mx")).as("asof_mx"),
        fl(element_at(element_at(col("asof_nmv"), "stats"), "mn")).as("asof_mn"))
    },
      // the nested-map carry unpacks to the SAME scalars — the nesting is
      // engine-side structure the oracle flattens by construction
      """SELECT l.event_id, CAST(l."value" AS REAL) AS value,
         CAST(r.mx AS REAL) AS asof_mx, CAST(r.mn AS REAL) AS asof_mn
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT ts, max("value") AS mx, min("value") AS mn
                         FROM events WHERE event_type = 'signup' GROUP BY ts) r
         ON l.ts >= r.ts"""),
    QueryDef("q_asof_exec_map_deep", (s, dir) => {
      // keyless as-of carrying a DEPTH-3 map (map<string, map<string,
      // map<string, double>>>) through the same carry scan as the flat
      // and one-level map cases (README "As-of value types"). The right
      // map is {agg → {stats → {mx→max, mn→min}}} per ts; the query
      // unpacks the carried nesting to the oracle scalars.
      val ev = Tables.read(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("value"))
      val r = ev.filter(col("event_type") === "signup")
        .groupBy(col("ts")).agg(
          map_from_arrays(array(lit("agg")),
            array(map_from_arrays(array(lit("stats")),
              array(map_from_arrays(array(lit("mx"), lit("mn")),
                array(max(col("value")), min(col("value")))))))).as("dmv"))
      val out = graft.plans.AsofMerge.asofJoin(l, r, Seq(), "ts", "dmv", "asof_dmv")
      require(!out.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
        "depth-3 map as-of must ride the parallel carry scan")
      val stats = element_at(element_at(col("asof_dmv"), "agg"), "stats")
      out.select(col("event_id"), fl(col("value")).as("value"),
        fl(element_at(stats, "mx")).as("asof_mx"),
        fl(element_at(stats, "mn")).as("asof_mn"))
    },
      """SELECT l.event_id, CAST(l."value" AS REAL) AS value,
         CAST(r.mx AS REAL) AS asof_mx, CAST(r.mn AS REAL) AS asof_mn
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT ts, max("value") AS mx, min("value") AS mn
                         FROM events WHERE event_type = 'signup' GROUP BY ts) r
         ON l.ts >= r.ts"""),
    QueryDef("q_asof_pos", (s, dir) => {
      // cs_asof_join_pos (func.c:4591-4662): carry the matched right POS.
      // Right side deduped to one row per (user_id, ts) — the max pos —
      // so an equal-ts pair can't flip the matched position.
      val se = evSeries(s, dir)
      val l = se.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val r = se.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts")).agg(max(col("pos")).as("pos"))
      Align.asofJoinPos(l, r, Seq("user_id"), "ts")
        .select(col("user_id"), col("event_id"), col("right_pos"))
    },
      s"""SELECT l.user_id, l.event_id, r.pos AS right_pos
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT user_id, ts, max(pos) AS pos
                         FROM ($evPosSql) WHERE event_type = 'signup'
                         GROUP BY user_id, ts) r
         ON l.user_id = r.user_id AND l.ts >= r.ts"""),
    QueryDef("q_asof_tol", (s, dir) => {
      // tolerance-bounded as-of: signup values staler than 24h at the
      // purchase time are no match (NULL) — kdb/pandas tolerance semantics
      val ev = Tables.read(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val r = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value"))
      Align.asofJoinTol(l, r, Seq("user_id"), "ts", "value",
        lit(24L * 3600L * 1000000000L))
        .select(col("user_id"), col("event_id"), fl(col("asof_value")).as("asof_value"))
    },
      // Right side filters NULL values BEFORE the ASOF JOIN so the oracle
      // encodes the Spark-side semantics exactly: the match is the latest
      // NON-NULL right value, with staleness bounded by THAT row's ts (a
      // newer NULL-valued right row neither matches nor masks) — see
      // Align.asofJoinTol's right-side pre-filter (Align.skipNulls).
      """SELECT l.user_id, l.event_id,
         CAST(CASE WHEN epoch_ns(l.ts) - epoch_ns(r.ts) <= 86400000000000
              THEN r."value" END AS REAL) AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT * FROM events
                         WHERE event_type = 'signup' AND "value" IS NOT NULL) r
         ON l.user_id = r.user_id AND l.ts >= r.ts"""),
    QueryDef("q_stretch0", (s, dir) => {
      // cs_stretch0 (func.c:4395-4465): the merged UNION of click and
      // error timestamps per user — error values where that side has the
      // ts, -1 filler where only the click side does. Both sides
      // ts-deduped per user (the series contract).
      val ev = Tables.read(s, dir, "events")
      val l = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts")).agg(count(lit(1)).as("__n")).drop("__n")
      val r = ev.filter(col("event_type") === "error" && col("value").isNotNull)
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("value"))
      // emit the merge INDEX, not the raw ns timestamp: DuckDB truncates
      // TIMESTAMP(NANOS) to µs on read, so ns values can't round-trip the
      // oracle compare; the per-user ts rank is precision-free
      Align.stretch0(l, r, Seq("user_id"), "ts", "value", lit(-1.0), "filled")
        .withColumn("i", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("ts"))) - 1)
        .select(col("user_id"), col("i"), fl(col("filled")).as("filled"))
    },
      // Union-merge: full outer join on (user, ts) = the merged ts set;
      // has_r (not coalesce) distinguishes a right row from the filler so a
      // NULL-valued right row could never silently become the filler.
      """WITH l AS (SELECT user_id, ts FROM events
             WHERE event_type = 'click' GROUP BY user_id, ts),
         r AS (SELECT user_id, ts, max("value") AS v FROM events
             WHERE event_type = 'error' AND "value" IS NOT NULL
             GROUP BY user_id, ts)
         SELECT coalesce(l.user_id, r.user_id) AS user_id,
           row_number() OVER (PARTITION BY coalesce(l.user_id, r.user_id)
                              ORDER BY coalesce(l.ts, r.ts)) - 1 AS i,
           CAST(CASE WHEN r.ts IS NOT NULL THEN r.v ELSE -1.0 END AS REAL) AS filled
         FROM l FULL JOIN r ON l.user_id = r.user_id AND l.ts = r.ts"""),
    QueryDef("q_union_merge", (s, dir) => {
      val ev = Tables.read(s, dir, "events")
      Align.unionMerge(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "view"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"), fl(sum(col("value"))).as("sv"))
    },
      """SELECT event_type, count(*) AS n, CAST(sum("value") AS REAL) AS sv
         FROM (SELECT * FROM events WHERE event_type = 'click'
               UNION ALL SELECT * FROM events WHERE event_type = 'view')
         GROUP BY event_type"""),

    // ---- scans / arrays / misc (§2.1-2.3) ----
    QueryDef("q_get", (s, dir) =>
      // TABLE_get: timestamp-range scan (B-tree search analog → parquet
      // row-group pruning on the pushed-down ts filter; rangeScan applies
      // the bound to the raw ts column so the predicate reaches the scan)
      Tables.rangeScan(s, dir, "events", 1704672000000000000L, 1704931200000000000L)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), fl(col("value")).as("value")),
      """SELECT event_id, user_id, CAST("value" AS REAL) AS value FROM events
         WHERE event_type = 'purchase' AND epoch_ns(ts) >= 1704672000000000000
           AND epoch_ns(ts) < 1704931200000000000"""),
    QueryDef("q_get_bucketed", (s, dir) => {
      // TABLE_get over the BUCKETED layout — both halves of the
      // reference's B-tree contract (btree.c:479-589): per-key locality
      // from the buckets, ts search from the r11 manifest.
      // rangeScanBucketed must skip the BASE bucket files entirely (their
      // recorded max ts is below the cut) and read only the appended
      // batch's files — fail-loud asserted on inputFiles before the
      // readback aggregate the oracle reproduces.
      val cut = 1706227200000000000L // 2024-01-26, inside every SF's span
      val ev = Tables.read(s, dir, "events")
      // FIXED dir-keyed name (no procTag): the table is rebuilt per run
      // anyway (it mutates), so a fixed name lets loadBucketed overwrite
      // a crashed run's leftover instead of orphaning one per JVM; the
      // CLOSURE-WIDE lease below (not just the per-op ones inside)
      // excludes a concurrent JVM for the whole load→append→scan→drop
      // span, so it can neither rebuild the table mid-query (a
      // double-counted readback) nor have ours dropped mid-flight
      val t = s"g_get_bkt_${Tables.dirKey(dir)}"
      withTableLease(s, t) {
        Tables.loadBucketed(ev.filter(col("ts") < cut), t,
          Seq("user_id"), 8, sortCols = Seq("ts"))
        Tables.appendBucketed(ev.filter(col("ts") >= cut), t)
        val total = {
          val loc = new org.apache.hadoop.fs.Path(
            s.sessionState.catalog.getTableMetadata(
              org.apache.spark.sql.catalyst.TableIdentifier(t)).location)
          val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.listStatus(loc).count(f => f.isFile &&
            !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        }
        val out = Tables.rangeScanBucketed(s, t, cut, Long.MaxValue)
        val read = out.inputFiles.length
        require(read > 0 && read < total,
          s"ts-sliced bucketed scan must prune the base bucket files: read " +
            s"$read of $total")
        materializeAndDrop(s, out.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), fl(sum(col("value"))).as("sv")), t)
      }
    },
      """SELECT event_type, count(*) AS n, CAST(sum("value") AS REAL) AS sv
         FROM events WHERE epoch_ns(ts) >= 1706227200000000000
         GROUP BY event_type"""),
    QueryDef("q_concat_series", (s, dir) => {
      val ev = Tables.read(s, dir, "events")
      val a = Series.attachPos(ev.filter(col("event_type") === "view"), Seq(), Seq(col("ts"), col("event_id")))
      val b = Series.attachPos(ev.filter(col("event_type") === "click"), Seq(), Seq(col("ts"), col("event_id")))
      Series.concat(a, b, Seq()).select(col("pos"), col("event_id"))
    },
      """WITH a AS (SELECT event_id, row_number() OVER (ORDER BY ts, event_id) - 1 AS pos
                    FROM events WHERE event_type = 'view'),
         b AS (SELECT event_id, row_number() OVER (ORDER BY ts, event_id) - 1
                 + (SELECT count(*) FROM events WHERE event_type = 'view') AS pos
               FROM events WHERE event_type = 'click')
         SELECT pos, event_id FROM a UNION ALL SELECT pos, event_id FROM b"""),
    QueryDef("q_concat_sum", (s, dir) => {
      // BASELINE row 11: cs_sum over Quote_concat(array(...)) — the grand
      // sum over a concatenation of every per-key series. The
      // UnionDisjointFilterCollapse rule (installed by unionMerge)
      // rewrites the union of disjoint event_type slices into ONE
      // IN-filtered scan + partial sums — one pass over the fact table
      // instead of one per arm, exactly the plan a user of the
      // reference's example.sql:50 wants (UnionCollapseSpec pins it)
      val ev = Tables.read(s, dir, "events")
      val perKey = Seq("view", "click", "purchase", "signup").map(t =>
        ev.filter(col("event_type") === t).select(col("value")))
      perKey.reduce(graft.join.Align.unionMerge)
        .agg(fl(sum(col("value"))).as("total"))
    },
      """SELECT CAST(sum("value") AS REAL) AS total FROM events
         WHERE event_type IN ('view', 'click', 'purchase', 'signup')"""),
    QueryDef("q_concat_ranges", (s, dir) => {
      // TABLE_concat over per-period slices of ONE table
      // (imcs--1.1.sql:246-259): three disjoint ts-range slices of events
      // unioned back together. The INTERVAL arm of
      // UnionDisjointFilterCollapse (expression key = the normalized ts,
      // range slices [lo, hi)) folds the three scans into ONE
      // range-filtered pass — asserted in-query (fail-loud), mirroring
      // q_asof_bucketed's pattern; q_concat_sum covers the all-points arm.
      val ev = Tables.read(s, dir, "events")
      val day = 86400000000000L // 1 day in ns
      val t0 = 1704067200000000000L // 2024-01-01T00:00Z
      val cuts = Seq(t0 + 4 * day, t0 + 9 * day, t0 + 14 * day, t0 + 19 * day)
      val slices = cuts.sliding(2).map { case Seq(lo, hi) =>
        ev.filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
          .select(col("event_type"), col("value"))
      }.toSeq
      val out = slices.reduce(graft.join.Align.unionMerge)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), fl(sum(col("value"))).as("sv"))
      val leaves = out.queryExecution.optimizedPlan.collectLeaves()
      require(leaves.size == 1,
        s"union of disjoint ts-range slices must collapse to ONE scan, " +
          s"got ${leaves.size} leaves:\n${out.queryExecution.optimizedPlan}")
      out
    },
      // three half-open per-period slices = one contiguous range; written as
      // the range union so the oracle states the SEMANTICS the collapsed
      // single-scan plan must reproduce
      """SELECT event_type, count(*) AS n, CAST(sum("value") AS REAL) AS sv
         FROM events
         WHERE (epoch_ns(ts) >= 1704412800000000000 AND epoch_ns(ts) < 1704844800000000000)
            OR (epoch_ns(ts) >= 1704844800000000000 AND epoch_ns(ts) < 1705276800000000000)
            OR (epoch_ns(ts) >= 1705276800000000000 AND epoch_ns(ts) < 1705708800000000000)
         GROUP BY event_type"""),
    QueryDef("q_repeat", (s, dir) =>
      Series.repeat(evSeries(s, dir).filter(col("event_type") === "signup" && col("pos") < 30), 3)
        .select(col("pos"), col("event_id")),
      s"""SELECT s.pos * 3 + r.range AS pos, s.event_id
         FROM (SELECT * FROM ($evPosSql) WHERE event_type = 'signup' AND pos < 30) s, range(3) r"""),
    QueryDef("q_array_roundtrip", (s, dir) =>
      // cs_to_array / cs_from_array round trip (imcs.c:5532-5714)
      evSeries(s, dir).filter(col("event_type") === "click")
        .groupBy(col("event_type"))
        .agg(array_sort(collect_list(struct(col("pos"), col("value")))).as("arr"))
        .select(col("event_type"), posexplode(col("arr")))
        .select(col("event_type"), col("pos").as("idx"), fl(col("col.value")).as("value")),
      s"""SELECT event_type, pos AS idx, CAST("value" AS REAL) AS value
         FROM ($evPosSql) WHERE event_type = 'click'"""),
    QueryDef("q_sort_pos", (s, dir) =>
      // cs_sort_pos: the sort permutation (func.c:3415-3494) — ranged
      // numbering, no single-partition global Window.orderBy
      Series.attachPosRanged(
          evSeries(s, dir).filter(col("event_type") === "error"),
          Seq(), Seq(col("value"), col("pos")), out = "sort_pos")
        .select(col("pos"), col("sort_pos")),
      s"""SELECT pos, row_number() OVER (ORDER BY "value", pos) - 1 AS sort_pos
         FROM ($evPosSql) WHERE event_type = 'error'"""),
    QueryDef("q_bitwise", (s, dir) =>
      Tables.read(s, dir, "events").filter(col("event_id") < 500)
        .select(col("event_id"),
          col("event_id").bitwiseAND(lit(255L)).as("band"),
          col("event_id").bitwiseOR(lit(1024L)).as("bor"),
          col("event_id").bitwiseXOR(col("user_id")).as("bxor"),
          bitwise_not(col("event_id")).as("bnot"),
          shiftleft(col("event_id"), 2).as("shl"),
          shiftright(col("event_id"), 3).as("shr")),
      """SELECT event_id, event_id & 255 AS band, event_id | 1024 AS bor,
         xor(event_id, user_id) AS bxor, ~event_id AS bnot,
         event_id << 2 AS shl, event_id >> 3 AS shr
         FROM events WHERE event_id < 500"""),
    QueryDef("q_ilike", (s, dir) =>
      Tables.read(s, dir, "part")
        .filter(col("p_type").ilike("stan%") || col("p_brand").ilike("brand#1%"))
        .select(col("p_partkey"), col("p_brand"), col("p_type")),
      """SELECT p_partkey, p_brand, p_type FROM part
         WHERE p_type ILIKE 'stan%' OR p_brand ILIKE 'brand#1%'"""),
    QueryDef("q_call", (s, dir) => {
      // cs_call UDF escape hatch (func.c:6217-6267)
      val f = udf((x: Double) => x * 2.0 + 1.0)
      evSeries(s, dir).filter(col("pos") < 50)
        .select(col("event_type"), col("pos"), fl(f(col("value"))).as("called"))
    },
      s"""SELECT event_type, pos, CAST("value" * 2.0 + 1.0 AS REAL) AS called
         FROM ($evPosSql) WHERE pos < 50"""),
    QueryDef("q_cat", (s, dir) =>
      // cs_cat compound group-by key (func.c:366-412)
      li(s, dir).groupBy(concat_ws("|", col("l_returnflag"), col("l_linestatus")).as("ckey"))
        .agg(count(lit(1)).as("n")),
      """SELECT l_returnflag || '|' || l_linestatus AS ckey, count(*) AS n
         FROM lineitem GROUP BY 1"""),

    // ---- more aggregate families (§2.4-2.5) ----
    QueryDef("q_win_group", (s, dir) =>
      Aggs.winGroupAgg(
          evSeries(s, dir).withColumn("dir", (col("value") > 250).cast("int")),
          Seq("event_type"), "dir", "value", intVal = Some("user_id"))
        .filter(col("pos") < 100)
        .select(col("event_type"), col("pos"), col("run_id"),
          fl(col("wg_sum")).as("wg_sum"), fl(col("wg_min")).as("wg_min"),
          fl(col("wg_max")).as("wg_max"), fl(col("wg_avg")).as("wg_avg"),
          col("wg_count"),
          fl(col("wg_var")).as("wg_var"), fl(col("wg_dev")).as("wg_dev"),
          fl(col("wg_first")).as("wg_first"), fl(col("wg_last")).as("wg_last"),
          col("wg_all"), col("wg_any")),
      s"""WITH d AS (SELECT event_type, pos, "value", user_id,
             CAST(("value" > 250) AS INT) AS dir FROM ($evPosSql)),
         runs AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL OR prev <> dir THEN 1 ELSE 0 END)
             OVER (PARTITION BY event_type ORDER BY pos) AS BIGINT) AS run_id
           FROM (SELECT *, lag(dir) OVER (PARTITION BY event_type ORDER BY pos) AS prev FROM d))
         SELECT event_type, pos, run_id,
           CAST(sum("value") OVER wg AS REAL) AS wg_sum,
           CAST(min("value") OVER wg AS REAL) AS wg_min,
           CAST(max("value") OVER wg AS REAL) AS wg_max,
           CAST(avg("value") OVER wg AS REAL) AS wg_avg,
           count(*) OVER wg AS wg_count,
           CAST(var_pop("value") OVER wg AS REAL) AS wg_var,
           CAST(stddev_pop("value") OVER wg AS REAL) AS wg_dev,
           CAST(first_value("value") OVER wgo AS REAL) AS wg_first,
           CAST(last_value("value") OVER wgo AS REAL) AS wg_last,
           CAST(bit_and(user_id) OVER wg AS BIGINT) AS wg_all,
           CAST(bit_or(user_id) OVER wg AS BIGINT) AS wg_any
         FROM runs WINDOW wg AS (PARTITION BY event_type, run_id),
           wgo AS (PARTITION BY event_type, run_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         QUALIFY pos < 100"""),
    QueryDef("q_ema", (s, dir) =>
      Moving.ema(evSeries(s, dir).filter(col("pos") < 200), Seq("event_type"), "value", 10)
        .select(col("event_type"), col("pos"), fl(col("ema")).as("ema")),
      s"""WITH RECURSIVE d AS (SELECT event_type, pos, "value" FROM ($evPosSql) WHERE pos < 200),
         r AS (
           SELECT event_type, pos, "value", "value" AS ema FROM d WHERE pos = 0
           UNION ALL
           SELECT d.event_type, d.pos, d."value",
                  d."value" * (2.0 / 11.0) + r.ema * (1 - 2.0 / 11.0) AS ema
           FROM r JOIN d ON d.event_type = r.event_type AND d.pos = r.pos + 1)
         SELECT event_type, pos, CAST(ema AS REAL) AS ema FROM r"""),
    QueryDef("q_atr", (s, dir) =>
      Moving.atr(evSeries(s, dir).filter(col("pos") < 200), Seq("event_type"), "value", 10)
        .select(col("event_type"), col("pos"), fl(col("atr")).as("atr")),
      s"""WITH RECURSIVE d AS (SELECT event_type, pos, "value" FROM ($evPosSql) WHERE pos < 200),
         r AS (
           SELECT event_type, pos, "value", "value" AS atr FROM d WHERE pos = 0
           UNION ALL
           SELECT d.event_type, d.pos, d."value",
                  (r.atr * (least(d.pos + 1, 10) - 1) + d."value") / least(d.pos + 1, 10) AS atr
           FROM r JOIN d ON d.event_type = r.event_type AND d.pos = r.pos + 1)
         SELECT event_type, pos, CAST(atr AS REAL) AS atr FROM r"""),
    QueryDef("q_rsi", (s, dir) =>
      // RSI — the reference's example workload (example.sql), composed
      // from diff + two Wilder scans
      Moving.rsi(evSeries(s, dir).filter(col("pos") < 200), Seq("event_type"), "value", 14)
        .select(col("event_type"), col("pos"), fl(col("rsi")).as("rsi")),
      s"""WITH RECURSIVE d AS (
           SELECT event_type, pos,
             coalesce("value" - lag("value") OVER (PARTITION BY event_type ORDER BY pos), 0) AS dd
           FROM ($evPosSql) WHERE pos < 200),
         r AS (
           SELECT event_type, pos, greatest(dd, 0) AS su, greatest(-dd, 0) AS sd
           FROM d WHERE pos = 0
           UNION ALL
           SELECT d.event_type, d.pos,
             (r.su * (least(d.pos + 1, 14) - 1) + greatest(d.dd, 0)) / least(d.pos + 1, 14),
             (r.sd * (least(d.pos + 1, 14) - 1) + greatest(-d.dd, 0)) / least(d.pos + 1, 14)
           FROM r JOIN d ON d.event_type = r.event_type AND d.pos = r.pos + 1)
         SELECT event_type, pos,
           CAST(CASE WHEN sd = 0 AND su > 0 THEN 100
                     WHEN sd = 0 THEN CAST('NaN' AS REAL)
                     ELSE 100 - 100 / (1 + su / sd) END AS REAL) AS rsi
         FROM r"""),
    QueryDef("q_atr_tr", (s, dir) => {
      // the example workload's REAL True-Range ATR (example.sql ATR query):
      // TR = maxof(high−low, |prevClose−high|, |prevClose−low|) with the
      // shifted close (`Close<<1` ||| 0-prepend in the reference), then the
      // Wilder recurrence. OHLC synthesized deterministically from the
      // event series (high = 1.01·v, low = 0.99·v, close = v).
      val se = evSeries(s, dir).filter(col("pos") < 200)
        .withColumn("__h", col("value") * 1.01)
        .withColumn("__l", col("value") * 0.99)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("pos"))
      val withTr = se
        .withColumn("__pc", lag(col("value"), 1).over(w))
        .withColumn("__tr", greatest(
          col("__h") - col("__l"),
          coalesce(abs(col("__pc") - col("__h")), lit(0.0)),
          coalesce(abs(col("__pc") - col("__l")), lit(0.0))))
      Moving.atr(withTr, Seq("event_type"), "__tr", 14)
        .select(col("event_type"), col("pos"), fl(col("atr")).as("atr"))
    },
      s"""WITH RECURSIVE base AS (SELECT event_type, pos, "value" FROM ($evPosSql)
             WHERE pos < 200),
         d AS (SELECT event_type, pos,
               greatest("value" * 1.01 - "value" * 0.99,
                 coalesce(abs(lag("value") OVER (PARTITION BY event_type ORDER BY pos) - "value" * 1.01), 0),
                 coalesce(abs(lag("value") OVER (PARTITION BY event_type ORDER BY pos) - "value" * 0.99), 0)) AS tr
               FROM base),
         r AS (
           SELECT event_type, pos, tr, tr AS atr FROM d WHERE pos = 0
           UNION ALL
           SELECT d.event_type, d.pos, d.tr,
                  (r.atr * (least(d.pos + 1, 14) - 1) + d.tr) / least(d.pos + 1, 14) AS atr
           FROM r JOIN d ON d.event_type = r.event_type AND d.pos = r.pos + 1)
         SELECT event_type, pos, CAST(atr AS REAL) AS atr FROM r"""),
    QueryDef("q_cum_prd", (s, dir) =>
      Moving.cumProd(evSeries(s, dir).filter(col("event_type") === "purchase" && col("pos") < 15),
          Seq("event_type"), "value")
        .select(col("pos"), fl(col("cum_prd")).as("cum_prd")),
      s"""SELECT pos, CAST(product("value") OVER (ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS REAL) AS cum_prd
         FROM ($evPosSql) WHERE event_type = 'purchase' AND pos < 15"""),
    QueryDef("q_sketch_rollup", (s, dir) => {
      // mergeable sketch rollup: per-(event_type, day) HLL sketches built
      // once, UNIONED up to event_type at query time — the raw rows are
      // only scanned during the rollup build. Same bounded-error contract
      // as q_approxdc (Datasketches lgK=12 rsd ≈ 1.6%; bound 5%).
      val ev = Tables.read(s, dir, "events")
      val buckets = Aggs.sketchRollup(
        ev.withColumn("day", expr("ts div 86400000000000")),
        Seq("event_type", "day"), "user_id")
      Aggs.sketchEstimate(buckets, Seq("event_type"))
        .join(ev.groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("exact_dc")), Seq("event_type"))
        .select(col("event_type"), col("exact_dc"),
          (abs(col("approx_dc") - col("exact_dc")) / col("exact_dc") < 0.05)
            .as("within_tol"))
    },
      """SELECT event_type, count(DISTINCT user_id) AS exact_dc,
         true AS within_tol FROM events GROUP BY 1"""),
    QueryDef("q_approxdc", (s, dir) =>
      // HLL bounded-error contract: the oracle computes the exact distinct
      // count; Spark asserts its HLL estimate lands within tolerance
      // (default rsd 0.05; 0.15 = 3σ) and exposes the exact count to hash.
      li(s, dir).agg(
          count_distinct(col("l_partkey")).as("exact_dc"),
          approx_count_distinct(col("l_partkey")).as("__adc"))
        .select(col("exact_dc"),
          (abs(col("__adc") - col("exact_dc")) / col("exact_dc") < 0.15).as("within_tol")),
      "SELECT count(DISTINCT l_partkey) AS exact_dc, true AS within_tol FROM lineitem"),
    QueryDef("q_hash_approxdc", (s, dir) =>
      li(s, dir).groupBy(col("l_returnflag"))
        .agg(
          count_distinct(col("l_partkey")).as("exact_dc"),
          approx_count_distinct(col("l_partkey")).as("__adc"))
        .select(col("l_returnflag"), col("exact_dc"),
          (abs(col("__adc") - col("exact_dc")) / col("exact_dc") < 0.15).as("within_tol")),
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_dc, true AS within_tol
         FROM lineitem GROUP BY 1"""),
    QueryDef("q_rollup", (s, dir) =>
      li(s, dir).rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), fl(sum(col("l_quantity"))).as("sq")),
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         CAST(sum(l_quantity) AS REAL) AS sq
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""),
    QueryDef("q_setops", (s, dir) => {
      val o = ord(s, dir)
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      val low = o.filter(col("o_orderpriority") === "5-LOW").select(col("o_custkey"))
      urgent.intersect(low).withColumn("which", lit("both"))
        .unionByName(urgent.distinct().except(low).withColumn("which", lit("only_urgent")))
    },
      """SELECT o_custkey, 'both' AS which FROM (
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           INTERSECT
           SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
         UNION ALL
         SELECT o_custkey, 'only_urgent' AS which FROM (
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           EXCEPT
           SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')"""),
    QueryDef("q_tumbling", (s, dir) =>
      // tumbling event-time window (grid agg over time; §2.9) — integer
      // div on int64 ns keeps exactness (ts ~1.7e18 exceeds double mantissa)
      Tables.read(s, dir, "events")
        .groupBy(col("event_type"), expr("ts div 3600000000000").as("hour_bucket"))
        .agg(count(lit(1)).as("n"), fl(sum(col("value"))).as("sv")),
      """SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour_bucket,
         count(*) AS n, CAST(sum("value") AS REAL) AS sv
         FROM events GROUP BY 1, 2"""),
    QueryDef("q_stream_sink", (s, dir) => {
      // SINK-LEVEL streaming gate: q_tumbling's aggregation run as a real
      // Structured Streaming job (file source → watermarked tumbling agg
      // → foreachBatch parquet sink with checkpointing), then the ON-DISK
      // sink artifact read back and diffed against the same DuckDB oracle
      // as the batch twin. The specs prove stream==batch on memory sinks;
      // this proves the full commit path end-to-end. Stream micro-batch
      // boundaries don't affect the result (Complete mode re-emits the
      // closed-form aggregation), so the oracle comparison is exact.
      import graft.streaming.Streams
      val ev = Tables.read(s, dir, "events")
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_sink")
      // stage the NORMALIZED frame (int64-ns ts) rather than copying the
      // raw file: the stream source schema must match what Streams'
      // ns-denominated event-time math expects, independent of whether
      // the source parquet stores ts as ns-int64 or µs-timestamp.
      // ONLY the columns the tumbling aggregation reads are staged (r18,
      // guide §2.3 project early): the agg is
      // groupBy(event_type, window(ts)).agg(count, sum(value)) — staging
      // the full event row wrote ~2× the bytes for identical output
      val evS = ev.select(col("event_type"), col("ts"), col("value"))
      val srcDir = tmp.resolve("src")
      evS.write.mode("overwrite").parquet(srcDir.toString)
      val streaming = Streams.tumblingAgg(s, srcDir.toString, evS.schema)
      val sunk = Streams.runToParquet(streaming,
        tmp.resolve("out").toString, tmp.resolve("ckpt").toString)
      // bucket_start is the window start (µs timestamp, hour-aligned);
      // (ts div 1000) div 3.6e9 == ts div 3.6e12 for positive ts, so this
      // is exactly the oracle's hour_bucket
      sunk.select(col("event_type"),
        expr("unix_micros(bucket_start) div 3600000000").as("hour_bucket"),
        col("n"), fl(col("sv")).as("sv"))
    },
      """SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour_bucket,
         count(*) AS n, CAST(sum("value") AS REAL) AS sv
         FROM events GROUP BY 1, 2"""),
    QueryDef("q_time_window", (s, dir) => {
      // trailing TIME-interval window (RANGE frame over int64-ns ts): each
      // event aggregates the preceding hour of its user's events — the
      // value-range twin of the row-count cs_window_* family; one shuffle
      // on user_id, range frame streams within each sorted partition
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
        .rangeBetween(-3600000000000L, 0L)
      Tables.read(s, dir, "events")
        .filter(col("user_id") < 100)
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sv_1h", sum(col("value")).over(w))
        .select(col("event_id"), col("user_id"), col("n_1h"),
          fl(col("sv_1h")).as("sv_1h"))
    },
      """SELECT event_id, user_id, count(*) OVER w AS n_1h,
         CAST(sum("value") OVER w AS REAL) AS sv_1h
         FROM events WHERE user_id < 100
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
           RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)"""),
    QueryDef("q_cube", (s, dir) =>
      // CUBE over two dims — the multi-grouping rollup family done in ONE
      // pass (Expand + single shuffle), not one job per grouping set
      li(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), fl(sum(col("l_quantity"))).as("sq")),
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         CAST(sum(l_quantity) AS REAL) AS sq
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""),

    // ---- lifecycle (§2.1: TABLE_load/append/delete/truncate) ----
    QueryDef("q_lifecycle", (s, dir) => {
      // load(ts < T) → append(ts >= T) → deleteRange([D1,D2]) → truncate a
      // scratch copy; the readback aggregate is what the oracle reproduces
      // from the source table (imcs--1.1.sql:188-217 semantics).
      val ev = Tables.read(s, dir, "events")
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      // procTag: two concurrent JVMs verifying the same dir must not
      // clobber each other's lifecycle table mid-read (same reasoning as
      // the evSeries dump path above)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_lifecycle_${procTag}_$tag"
      // load the history BELOW the cut, then append the tail AT/ABOVE it —
      // an in-order append, which is the only kind Tables.append accepts
      // (the reference's trigger rejects appends below the stored tail)
      val cut = 1704500000000000000L
      Tables.load(ev.filter(col("ts") < cut), path, Seq("event_type"), "ts")
      Tables.append(ev, path, "ts", lit(cut))
      // PARTITION-SCOPED compact folds ONLY the appended batch back into
      // the layout; the load-layout files must be carried over by rename —
      // same names, same byte counts, never rewritten (the 100 TB
      // maintenance shape: work proportional to the APPEND, not the
      // table). Fail-loud asserted in-query against the manifest, like
      // q_asof_bucketed asserts its zero-Exchange plan.
      val pre = Tables.manifest(s, path).getOrElse(
        sys.error("load+append must leave a ts manifest"))
      val coldPre = pre.files.filter(_.loaded).map(e => (e.name, e.bytes)).toSet
      require(pre.files.exists(!_.loaded),
        "append must register hot (unloaded) files in the manifest")
      val (nb, na) = Tables.compactIncremental(s, path, Seq("event_type"), "ts")
      val post = Tables.manifest(s, path).getOrElse(
        sys.error("compactIncremental must rewrite the manifest"))
      val postSet = post.files.map(e => (e.name, e.bytes)).toSet
      require(coldPre.subsetOf(postSet),
        s"cold load-layout files must survive the incremental compact " +
          s"untouched; missing: ${coldPre -- postSet}")
      require(post.files.forall(_.loaded),
        "after compact every file belongs to the established layout")
      // deleteRange then rewrites the remaining rows (a full-table
      // operation by nature); the readback aggregate the oracle
      // reproduces is unchanged by every layout step above
      Tables.deleteRange(s, path, "ts",
        lit(1704672000000000000L), lit(1704758400000000000L))
      val scratch = path + "_scratch"
      Tables.load(ev.limit(10), scratch, Seq(), "ts")
      Tables.truncate(s, scratch)
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      val truncated = !fs.exists(new org.apache.hadoop.fs.Path(scratch))
      // snapshot, not a plain directory read: deleteRange grace-retains the
      // replaced generation in place for in-flight readers (the reader half
      // of the reference's MURSIW contract) — the engine's read serves the
      // LIVE generation only
      Tables.snapshot(s, path).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), fl(sum(col("value"))).as("sv"))
        .withColumn("truncated", lit(truncated))
        .withColumn("compacted", lit(na >= 1 && na <= nb))
    },
      """SELECT event_type, count(*) AS n, CAST(sum("value") AS REAL) AS sv,
         true AS truncated, true AS compacted
         FROM events
         WHERE NOT (epoch_ns(ts) >= 1704672000000000000
                    AND epoch_ns(ts) <= 1704758400000000000)
         GROUP BY event_type"""),

    QueryDef("q_lifecycle_bucketed", (s, dir) => {
      // the bucketed layout's lifecycle round-trip (r10): loadBucketed
      // below a ts cut → appendBucketed the tail through the catalog
      // bucket spec → compactBucketed folds multi-file buckets back to
      // one sorted file each (cold buckets carried by rename). Layout is
      // never semantics: the readback aggregate is what the oracle
      // reproduces from the source table; the fold's file-count
      // contraction is fail-loud asserted in-query like q_lifecycle's
      // manifest asserts.
      val ev = Tables.read(s, dir, "events")
      val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
      val cut = mm.getLong(0) / 2 + mm.getLong(1) / 2
      // fixed dir-keyed name + closure-wide lease + in-closure drop
      // (same reasoning as q_get_bucketed): a procTag name never repeats,
      // so a crashed run's table was orphaned forever; now the next
      // run's loadBucketed overwrites it, and a concurrent JVM is
      // excluded for the whole multi-op span
      val t = s"g_lc_bkt_${Tables.dirKey(dir)}"
      s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      withTableLease(s, t) {
        Tables.loadBucketed(ev.filter(col("ts") < cut), t,
          Seq("user_id"), 8, sortCols = Seq("ts"))
        Tables.appendBucketed(ev.filter(col("ts") >= cut), t)
        val (nb, na) = Tables.compactBucketed(s, t)
        require(nb > na && na <= 8,
          s"per-bucket fold must contract to ≤1 file per bucket: $nb -> $na")
        // a second fold is a no-op — the layout is re-established
        val (nb2, na2) = Tables.compactBucketed(s, t)
        require(nb2 == na2, s"re-fold must be a no-op: $nb2 -> $na2")
        // range delete on the BUCKETED layout (r13): the same window
        // q_lifecycle deletes on the clustered one — the rolling-retention
        // op the reference applies to every stored table (btree.c:747-899)
        Tables.deleteRangeBucketed(s, t,
          lit(1704672000000000000L), lit(1704758400000000000L))
        materializeAndDrop(s, s.table(t).groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), fl(sum(col("value"))).as("sv"))
          .withColumn("folded", lit(true)), t)
      }
    },
      """SELECT event_type, count(*) AS n, CAST(sum("value") AS REAL) AS sv,
         true AS folded
         FROM events
         WHERE NOT (epoch_ns(ts) >= 1704672000000000000
                    AND epoch_ns(ts) <= 1704758400000000000)
         GROUP BY event_type"""),

    // ---- top-k positions / directional join / stretch / first-pos ----
    QueryDef("q_top_pos", (s, dir) => {
      // cs_top_max_pos / cs_top_min_pos (func.c:3088-3208)
      val se = evSeries(s, dir).filter(col("event_type") === "error")
      Aggs.topKPos(se, "value", 10, desc = true).withColumn("which", lit("max"))
        .unionByName(
          Aggs.topKPos(se, "value", 10, desc = false).withColumn("which", lit("min")))
    },
      s"""WITH se AS (SELECT pos, "value" FROM ($evPosSql) WHERE event_type = 'error')
         SELECT * FROM (SELECT pos, 'max' AS which FROM se ORDER BY "value" DESC, pos LIMIT 10)
         UNION ALL
         SELECT * FROM (SELECT pos, 'min' AS which FROM se ORDER BY "value" ASC, pos LIMIT 10)"""),
    QueryDef("q_join_dir", (s, dir) => {
      // TABLE_join direction=+1: earliest right ts >= left ts
      // (func.c:6494-6548)
      val ev = Tables.read(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val r = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value"))
      Align.asofJoinDir(l, r, Seq("user_id"), "ts", "value", "next_value", direction = 1)
        .select(col("user_id"), col("event_id"),
          fl(col("value")).as("value"), fl(col("next_value")).as("next_value"))
    },
      """SELECT l.user_id, l.event_id, CAST(l."value" AS REAL) AS value,
         CAST(r."value" AS REAL) AS next_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
         ON l.user_id = r.user_id AND l.ts <= r.ts"""),
    QueryDef("q_stretch", (s, dir) => {
      // cs_stretch (func.c:4308-4360): value at the first right ts
      // STRICTLY greater than the left ts, filler once exhausted (the
      // reference's forward split-adjustment shape). Non-null right
      // values only, so both engines see the same candidate rows.
      val ev = Tables.read(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val r = ev.filter(col("event_type") === "signup" && col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("value"))
      Align.stretch(l, r, Seq("user_id"), "ts", "value", lit(-1.0), "stretched")
        .select(col("user_id"), col("event_id"), fl(col("stretched")).as("stretched"))
    },
      // Strictly-future ASOF: DuckDB's `<` comparator picks the minimum
      // right ts greater than the left ts — the reference's stretch cursor.
      """SELECT l.user_id, l.event_id,
         CAST(coalesce(r."value", -1.0) AS REAL) AS stretched
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT * FROM events
                         WHERE event_type = 'signup' AND "value" IS NOT NULL) r
         ON l.user_id = r.user_id AND l.ts < r.ts"""),
    QueryDef("q_asof_nearest", (s, dir) => {
      // cs_asof_join's documented NEAREST-ts pick at frame level
      // (user_guide.html example; Align.asofJoin keeps the backward
      // industry default). Right side deduped per (user, ts).
      val ev = Tables.read(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val r = ev.filter(col("event_type") === "signup" && col("value").isNotNull)
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("value"))
      Align.asofJoinNearest(l, r, Seq("user_id"), "ts", "value", "near_value")
        .select(col("user_id"), col("event_id"), fl(col("near_value")).as("near_value"))
    },
      """WITH rr AS (SELECT user_id, ts, max("value") AS v FROM events
             WHERE event_type = 'signup' AND "value" IS NOT NULL
             GROUP BY user_id, ts),
         ra AS (SELECT user_id,
                  list(epoch_ns(ts) ORDER BY ts) AS rts,
                  list(v ORDER BY ts) AS rvs
                FROM rr GROUP BY user_id),
         l AS (SELECT user_id, epoch_ns(ts) AS t, event_id FROM events
               WHERE event_type = 'purchase')
         SELECT l.user_id, l.event_id,
           CAST(CASE WHEN ra.user_id IS NULL THEN NULL
                ELSE ra.rvs[list_position(list_transform(ra.rts, x -> abs(x - l.t)),
                       list_min(list_transform(ra.rts, x -> abs(x - l.t))))]
                END AS REAL) AS near_value
         FROM l LEFT JOIN ra ON l.user_id = ra.user_id"""),
    QueryDef("q_filter_first_pos", (s, dir) =>
      // cs_filter_first_pos (func.c:2931-2980)
      Series.filterFirstPos(
        evSeries(s, dir).filter(col("event_type") === "error"),
        col("value") > 250, 20),
      s"""SELECT pos FROM ($evPosSql)
         WHERE event_type = 'error' AND "value" > 250 ORDER BY pos LIMIT 20"""),

    // ---- dictionary + stateful conditional ----
    QueryDef("q_dict", (s, dir) => {
      // cs_str2code/cs_code2str (imcs.c:5769-5812): sorted-rank codes
      val o = ord(s, dir)
      val dict = Dict.build(o, "o_orderpriority")
      Dict.str2code(o, dict, "o_orderpriority")
        .groupBy(col("code"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    },
      """WITH dict AS (SELECT v, dense_rank() OVER (ORDER BY v) - 1 AS code
           FROM (SELECT DISTINCT o_orderpriority AS v FROM orders))
         SELECT d.code, o.o_orderpriority, count(*) AS n
         FROM orders o JOIN dict d ON o.o_orderpriority = d.v
         GROUP BY 1, 2"""),
    QueryDef("q_dict_global", (s, dir) => {
      // the reference's SINGLE store-wide dictionary (imcs.h:125-135):
      // codes assigned to lineitem.l_linestatus and orders.o_orderstatus
      // come from ONE shared dictionary over the union of both domains,
      // so the cross-table join runs on the int codes and must produce
      // exactly what the string-equality join produces (the oracle)
      val l = li(s, dir)
      val o = ord(s, dir)
      val dict = Dict.buildShared(Seq((l, "l_linestatus"), (o, "o_orderstatus")))
      val lc = Dict.str2code(l, dict, "l_linestatus")
        .groupBy(col("code")).agg(count(lit(1)).as("n_li"))
      val oc = Dict.str2code(o, dict, "o_orderstatus")
        .groupBy(col("code")).agg(count(lit(1)).as("n_ord"))
      Dict.code2str(lc.join(oc, Seq("code")), dict, "code", "status")
        .select(col("code"), col("status"), col("n_li"), col("n_ord"))
    },
      """WITH dict AS (SELECT v, dense_rank() OVER (ORDER BY v) - 1 AS code
           FROM (SELECT DISTINCT l_linestatus AS v FROM lineitem
                 UNION SELECT DISTINCT o_orderstatus FROM orders)),
         lc AS (SELECT d.code, count(*) AS n_li
                FROM lineitem l JOIN dict d ON l.l_linestatus = d.v GROUP BY 1),
         oc AS (SELECT d.code, count(*) AS n_ord
                FROM orders o JOIN dict d ON o.o_orderstatus = d.v GROUP BY 1)
         SELECT lc.code, d.v AS status, lc.n_li, oc.n_ord
         FROM lc JOIN oc ON lc.code = oc.code
         JOIN dict d ON lc.code = d.code"""),
    QueryDef("q_code2str", (s, dir) => {
      // cs_code2str (imcs.c:5769-5812): resolve dictionary codes back to
      // strings — encode, drop the string, resolve, and re-aggregate; the
      // oracle reproduces the sorted-rank code assignment independently
      val o = ord(s, dir)
      val dict = Dict.build(o, "o_orderpriority")
      val coded = Dict.str2code(o, dict, "o_orderpriority")
        .select(col("code"), col("o_orderkey"))
      Dict.code2str(coded, dict, "code", "resolved")
        .groupBy(col("code"), col("resolved"))
        .agg(count(lit(1)).as("n"))
    },
      """WITH dict AS (SELECT v, dense_rank() OVER (ORDER BY v) - 1 AS code
           FROM (SELECT DISTINCT o_orderpriority AS v FROM orders))
         SELECT d.code, o.o_orderpriority AS resolved, count(*) AS n
         FROM orders o JOIN dict d ON o.o_orderpriority = d.v
         GROUP BY 1, 2"""),
    QueryDef("q_if", (s, dir) => {
      // cs_if branch-consume conditional (func.c:2559-2681)
      val se = evSeries(s, dir)
      val cond = se.filter(col("event_type") === "error")
        .select(col("pos"), (col("value") > 250).as("c"))
      val a = se.filter(col("event_type") === "purchase").select(col("pos"), col("value"))
      val b = se.filter(col("event_type") === "signup").select(col("pos"), col("value"))
      Conditional.csIf(cond, Seq(), "c", a, b, "value")
        .select(col("pos"), col("c"), fl(col("if_value")).as("if_value"))
    },
      s"""WITH ep AS ($evPosSql),
         c AS (SELECT pos, ("value" > 250) AS c FROM ep WHERE event_type = 'error'),
         ci AS (SELECT pos, c, row_number() OVER (PARTITION BY c ORDER BY pos) - 1 AS bi FROM c),
         a AS (SELECT pos, "value" FROM ep WHERE event_type = 'purchase'),
         b AS (SELECT pos, "value" FROM ep WHERE event_type = 'signup')
         SELECT ci.pos, ci.c,
           CAST(CASE WHEN ci.c THEN a."value" ELSE b."value" END AS REAL) AS if_value
         FROM ci LEFT JOIN a ON ci.c AND a.pos = ci.bi
                 LEFT JOIN b ON (NOT ci.c) AND b.pos = ci.bi"""),

    // ---- cs_* SQL surface (§2.10 / SURVEY §7 M6) ----
    QueryDef("q_sqlext", (s, dir) => {
      // registered Catalyst builders: SQL cs_* plans identically to the
      // DataFrame form (native expressions, whole-stage codegen)
      li(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT l_returnflag,
          CAST(cs_wavg(l_quantity, l_extendedprice) AS FLOAT) AS vwap,
          CAST(cs_wsum(l_quantity, l_extendedprice) AS FLOAT) AS wsum,
          CAST(cs_maxof(max(l_quantity), max(l_discount) * 100) AS FLOAT) AS mx,
          count(*) AS n
        FROM lineitem_v GROUP BY l_returnflag""")
    },
      """SELECT l_returnflag,
         CAST(sum(l_quantity * l_extendedprice) / sum(l_quantity) AS REAL) AS vwap,
         CAST(sum(l_quantity * l_extendedprice) AS REAL) AS wsum,
         CAST(greatest(max(l_quantity), max(l_discount) * 100) AS REAL) AS mx,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag"""),

    QueryDef("q_cs_sketch", (s, dir) => {
      // the 100 TB sketch-rollup pattern in PURE SQL through the cs_
      // sketch surface: per-(event_type, day) HLL + KLL + theta bucket
      // sketches built ONCE (the rollup table), then distinct counts,
      // p90, and audience overlap answered by MERGING sketches — raw
      // rows are scanned only to build buckets and to assert the
      // bounded-error contracts (HLL/theta 5%, KLL 5% rank error — the
      // same contracts as q_sketch_rollup/q_quantile_rollup/
      // q_theta_overlap, which gate the Scala API over these builtins).
      // PROBABILISTIC by nature: the dc_ok/rank_ok/both_ok booleans
      // compare randomized estimates against fixed tolerances chosen
      // ~3x the expected error (KLL k=200 ~1.7% at 99% confidence vs
      // the 5% gate), so a failure here is overwhelmingly a real
      // regression, not a tail draw — but it is not IMPOSSIBLE to flake;
      // if it ever does, re-run before suspecting the sketch code
      Tables.read(s, dir, "events").createOrReplaceTempView("events_v")
      s.sql("""
        WITH buckets AS (
          SELECT event_type, ts div 86400000000000 AS day,
                 cs_dc_sketch(user_id) AS dc_sk,
                 cs_q_sketch(value)    AS q_sk,
                 cs_t_sketch(user_id)  AS t_sk
          FROM events_v GROUP BY 1, 2),
        merged AS (
          SELECT event_type,
                 cs_dc_estimate(cs_dc_merge(dc_sk))   AS adc,
                 cs_q_quantile(cs_q_merge(q_sk), 0.9) AS aq90
          FROM buckets GROUP BY 1),
        tmerged AS (
          SELECT cs_t_merge(CASE WHEN event_type = 'purchase' THEN t_sk END) AS t_a,
                 cs_t_merge(CASE WHEN event_type = 'signup'  THEN t_sk END) AS t_b
          FROM buckets),
        overlap AS (
          SELECT cs_t_estimate(cs_t_intersect(t_a, t_b)) AS n_both FROM tmerged),
        exact AS (
          SELECT event_type, count(DISTINCT user_id) AS exact_dc
          FROM events_v GROUP BY 1),
        eb AS (
          SELECT count(*) AS exact_both FROM (
            SELECT DISTINCT user_id FROM events_v WHERE event_type = 'purchase'
            INTERSECT
            SELECT DISTINCT user_id FROM events_v WHERE event_type = 'signup')),
        rk AS (
          SELECT e.event_type,
                 abs(avg(CASE WHEN e.value <= m.aq90 THEN 1.0 ELSE 0.0 END) - 0.9)
                   <= 0.05 AS rank_ok
          FROM events_v e JOIN merged m USING (event_type) GROUP BY 1)
        SELECT m.event_type, x.exact_dc,
               abs(m.adc - x.exact_dc) / x.exact_dc <= 0.05 AS dc_ok,
               rk.rank_ok, eb.exact_both,
               abs(o.n_both - eb.exact_both)
                 <= greatest(eb.exact_both * 0.05, 2.0) AS both_ok
        FROM merged m JOIN exact x USING (event_type) JOIN rk USING (event_type)
        CROSS JOIN overlap o CROSS JOIN eb""")
    },
      """WITH x AS (SELECT event_type, count(DISTINCT user_id) AS exact_dc
                    FROM events GROUP BY 1),
         eb AS (SELECT count(*) AS exact_both FROM (
                  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
                  INTERSECT
                  SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'))
         SELECT x.event_type, x.exact_dc, true AS dc_ok, true AS rank_ok,
                eb.exact_both, true AS both_ok
         FROM x, eb"""),

    QueryDef("q_tpch_cs", (s, dir) => {
      // The reference's cs_* form of TPC-H Q1 (tpch.sql:60-89), run
      // THROUGH the registered cs_* surface: cs_filter → NULL-masked
      // values, cs_hash_* → map-valued aggregate, cs_project_agg →
      // (group_by, agg_val) rows, cs_cut → compound-key unpack, with the
      // six single-aggregate subqueries natural-joined exactly as the
      // reference writes them. Deltas from the reference text, each
      // forced by PG-vs-Spark SQL dialect, not semantics:
      //  - lineitems_get()            → lineitem_v (table names)
      //  - (cs_project_agg(...)).*    → cs_project_agg(...)  (Spark
      //    generators self-expand; PG needs the record cast)
      //  - cs_cut(...) gets an alias (PG names the output column after
      //    the function; Spark would name it by the full expression, and
      //    NATURAL JOIN matches on names)
      //  - the outer select unpacks cs_cut.f1/f2 into flat columns (for
      //    the parquet dump; the reference renders the record inline)
      //  - date literal: l_shipdate here is a timestamp, so the cut is
      //    timestamp'1998-09-02' (same predicate the q1_agg twin uses)
      li(s, dir).createOrReplaceTempView("lineitem_v")
      val pred = "l_shipdate <= timestamp'1998-09-02'"
      def sub(agg: String, alias: String) = {
        val args =
          if (agg == "cs_hash_count") s"cs_filter($pred, l_returnflag||l_linestatus)"
          else s"cs_filter($pred, __VAL__),\n\t\t\t\t\t cs_filter($pred, l_returnflag||l_linestatus)"
        s"""(select cs_cut(group_by,'i1i1') as cs_cut, agg_val as $alias from
           | (select cs_project_agg($agg($args))
           |  from lineitem_v) agg)""".stripMargin
      }
      val q1 = sub("cs_hash_sum", "sum_qty").replace("__VAL__", "l_quantity")
      val q2 = sub("cs_hash_sum", "sum_base_price").replace("__VAL__", "l_extendedprice")
      val q3 = sub("cs_hash_sum", "sum_disc_price").replace("__VAL__", "l_extendedprice*(-l_discount+1)")
      val q4 = sub("cs_hash_sum", "sum_charge").replace("__VAL__", "l_extendedprice*(-l_discount+1)*(l_tax+1)")
      val q5 = sub("cs_hash_avg", "avg_disc").replace("__VAL__", "l_discount")
      val q6 = sub("cs_hash_count", "count_order")
      s.sql(s"""
        select cs_cut.f1 as l_returnflag, cs_cut.f2 as l_linestatus,
               cast(sum_qty as float) as sum_qty,
               cast(sum_base_price as float) as sum_base_price,
               cast(sum_disc_price as float) as sum_disc_price,
               cast(sum_charge as float) as sum_charge,
               cast(sum_qty/count_order as float) as avg_qty,
               cast(sum_base_price/count_order as float) as avg_price,
               cast(avg_disc as float) as avg_disc,
               cast(count_order as long) as count_order
        from $q1 q1 natural join $q2 q2 natural join $q3 q3
        natural join $q4 q4 natural join $q5 q5 natural join $q6 q6""")
    },
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(l_quantity) AS REAL) AS sum_qty,
         CAST(sum(l_extendedprice) AS REAL) AS sum_base_price,
         CAST(sum(l_extendedprice * (-l_discount + 1)) AS REAL) AS sum_disc_price,
         CAST(sum(l_extendedprice * (-l_discount + 1) * (l_tax + 1)) AS REAL) AS sum_charge,
         CAST(sum(l_quantity) / count(*) AS REAL) AS avg_qty,
         CAST(sum(l_extendedprice) / count(*) AS REAL) AS avg_price,
         CAST(avg(l_discount) AS REAL) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus"""),
    QueryDef("q_tpch_q6", (s, dir) =>
      // TPC-H Q6 (date window shifted to the testdata's 1995-2001 span):
      // the pure-predicate-pushdown plan family — all four conjuncts
      // reach the parquet scan as PushedFilters and the scan reads only
      // the three referenced columns (plan notes in PLANS.md); the agg is
      // one partial→final HashAggregate, no shuffle beyond the 1-row
      // exchange
      li(s, dir)
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(fl(sum(col("l_extendedprice") * col("l_discount"))).as("revenue"),
          count(lit(1)).as("n")),
      """SELECT CAST(sum(l_extendedprice * l_discount) AS REAL) AS revenue,
         count(*) AS n
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate <  TIMESTAMP '1998-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),
    QueryDef("q_tpch_q3", (s, dir) => {
      // TPC-H Q3 adapted to the testdata columns (no mktsegment /
      // shippriority shipped: the customer cut is c_nationkey < 10, the
      // carried order attribute o_orderpriority) — the join-order /
      // broadcast plan family: customer (smallest, filtered) broadcasts
      // into orders, that result broadcasts into lineitem, one shuffle
      // for the group-by, TakeOrdered for the top-10. Ordering is on the
      // FLOAT-cast revenue (ulp-stable across engines) with o_orderkey
      // as the total tiebreak.
      val cut = lit(java.sql.Timestamp.valueOf("1998-06-01 00:00:00"))
      cust(s, dir).filter(col("c_nationkey") < 10)
        .join(ord(s, dir).filter(col("o_orderdate") < cut),
          col("c_custkey") === col("o_custkey"))
        .join(li(s, dir).filter(col("l_shipdate") > cut),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(fl(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
      """SELECT o_orderkey,
         CAST(sum(l_extendedprice * (1 - l_discount)) AS REAL) AS revenue,
         o_orderdate, o_orderpriority
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_nationkey < 10
           AND o_orderdate < TIMESTAMP '1998-06-01'
           AND l_shipdate  > TIMESTAMP '1998-06-01'
         GROUP BY o_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderkey
         LIMIT 10"""),
    QueryDef("q_tpch_q14", (s, dir) => {
      // TPC-H Q14 (promo revenue) — the selective-fact-scan + tiny-
      // dimension-broadcast + CONDITIONAL-aggregate plan family: the one-
      // month window pushes to the lineitem scan, part broadcasts, and
      // the promo share is two conditional sums in ONE aggregate pass
      // (no second scan, no self-join)
      val p = Tables.read(s, dir, "part")
      val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      li(s, dir)
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-03-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00")))
        .join(p, col("l_partkey") === col("p_partkey"))
        .agg(
          fl(sum(when(col("p_type").startsWith("PROMO"), disc).otherwise(lit(0.0)))
            * 100.0 / sum(disc)).as("promo_revenue"),
          count(lit(1)).as("n"))
    },
      """SELECT CAST(100.00 * sum(CASE WHEN p_type LIKE 'PROMO%'
                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
           / sum(l_extendedprice * (1 - l_discount)) AS REAL) AS promo_revenue,
         count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-03-01'
           AND l_shipdate <  TIMESTAMP '1997-04-01'"""),
    QueryDef("q_tpch_q5", (s, dir) => {
      // TPC-H Q5 (local supplier volume) — the MULTI-WAY join family the
      // two-table queries cannot exercise: six tables, the region filter
      // cascading through nation/supplier as broadcast cuts, the
      // c_nationkey = s_nationkey LOCALITY predicate riding the supplier
      // join, one shuffle for the per-nation aggregate
      val sup = Tables.read(s, dir, "supplier")
      val nat = Tables.read(s, dir, "nation")
      val reg = Tables.read(s, dir, "region")
      cust(s, dir)
        .join(ord(s, dir).filter(
          col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
            col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))),
          col("c_custkey") === col("o_custkey"))
        .join(li(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(reg.filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(fl(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue"))
    },
      """SELECT n_name,
         CAST(sum(l_extendedprice * (1 - l_discount)) AS REAL) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate <  TIMESTAMP '1997-01-01'
         GROUP BY n_name"""),
    QueryDef("q_tpch_q4", (s, dir) =>
      // TPC-H Q4 (order priority checking), adapted to the testdata
      // columns (no l_commitdate/l_receiptdate shipped: the EXISTS
      // predicate is "the order has a returned line", l_returnflag='R')
      // — the SEMI-join plan family: EXISTS compiles to LEFT-SEMI, so
      // each order emits AT MOST ONCE however many lines match (a plain
      // join + distinct would shuffle the duplicated rows first). The
      // date-quarter cut pushes to the orders scan; the returned-lines
      // side carries only l_orderkey into the join; one shuffle for the
      // 5-group aggregate. Plan notes in PLANS.md.
      ord(s, dir)
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00")))
        .join(li(s, dir).filter(col("l_returnflag") === "R").select(col("l_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count")),
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate <  TIMESTAMP '1997-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderpriority"""),
    QueryDef("q_tpch_q16", (s, dir) => {
      // TPC-H Q16 (supplier relationship), adapted to the testdata (no
      // partsupp table: lineitem's (l_partkey, l_suppkey) is the
      // part-supplier relationship; no s_comment: the excluded-supplier
      // cut is s_acctbal < 0) — the ANTI-join plan family: NOT IN over a
      // non-null key compiles to LEFT-ANTI against the (tiny, broadcast)
      // excluded set, then the part cuts broadcast into the fact, one
      // shuffle for the distinct-count aggregate. Plan notes in PLANS.md.
      val sup = Tables.read(s, dir, "supplier")
      val p = Tables.read(s, dir, "part")
      li(s, dir).select(col("l_partkey"), col("l_suppkey"))
        .join(sup.filter(col("s_acctbal") < 0).select(col("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(p.filter(col("p_brand") =!= "Brand#1" &&
            !col("p_type").startsWith("SMALL") &&
            col("p_size").isin(1, 4, 7, 10, 15, 23, 45, 49)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
      """SELECT p_brand, p_type, p_size,
         count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand <> 'Brand#1'
           AND p_type NOT LIKE 'SMALL%'
           AND p_size IN (1, 4, 7, 10, 15, 23, 45, 49)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size"""),
    QueryDef("q_tpch_q13", (s, dir) =>
      // TPC-H Q13 (customer distribution), adapted to the testdata (no
      // o_comment: the order-side cut is o_orderpriority <> '1-URGENT')
      // — the OUTER-join plan family: the priority cut must live in the
      // JOIN condition, not a WHERE (a post-join filter would drop the
      // zero-order customers the query exists to count). Customers carry
      // only c_custkey into the join; count(o_orderkey) ignores the
      // nulls outer-preserved rows carry, so empty groups land in the
      // c_count=0 bucket; two shuffles (per-customer count, then the
      // distribution) — the second over |distinct counts| rows only.
      // Plan notes in PLANS.md.
      Tables.read(s, dir, "customer").select(col("c_custkey"))
        .join(ord(s, dir).filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist")),
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey) t
         GROUP BY c_count"""),
    QueryDef("q_tpch_q17", (s, dir) => {
      // TPC-H Q17 (small-quantity-order revenue), adapted to the testdata
      // (no p_container: the part cut is p_brand alone) — the CORRELATED
      // scalar-agg subquery plan family: `l_quantity < 0.2 * avg per
      // part` decorrelates (DecorrelateInnerQuery) into a per-p_partkey
      // aggregate joined back on the correlation key, so the inner
      // lineitem pass runs ONCE as a hash aggregate instead of per outer
      // row. Written as SQL on purpose — the decorrelation rewrite is the
      // thing under test. Plan notes in PLANS.md.
      li(s, dir).createOrReplaceTempView("lineitem_q17")
      Tables.read(s, dir, "part").createOrReplaceTempView("part_q17")
      s.sql("""
        select cast(sum(l_extendedprice) / 7.0 as float) as avg_yearly
        from lineitem_q17, part_q17
        where p_partkey = l_partkey and p_brand = 'Brand#23'
          and l_quantity < (select 0.2 * avg(l_quantity)
                            from lineitem_q17 l2
                            where l2.l_partkey = p_partkey)""")
    },
      """SELECT CAST(sum(l_extendedprice) / 7.0 AS REAL) AS avg_yearly
         FROM lineitem, part
         WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
           AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = p_partkey)"""),
    QueryDef("q_tpch_q18", (s, dir) => {
      // TPC-H Q18 (large-volume customer), adapted thresholds — the
      // AGGREGATE-SEMI-JOIN plan family: `o_orderkey IN (SELECT
      // l_orderkey ... HAVING sum > K)` plans as a semi join against a
      // GROUPED subquery (two-phase partial/final sum, then the filter,
      // then LeftSemi) — the qualifying-keys set stays distributed, never
      // a collected IN-list. Distinct from Q4's EXISTS (no aggregate) and
      // Q17's correlated scalar (per-key threshold): here the subquery is
      // UNCORRELATED but aggregated. SQL on purpose — the IN→semi-join
      // rewrite over an aggregate is the thing under test.
      li(s, dir).createOrReplaceTempView("lineitem_q18")
      ord(s, dir).createOrReplaceTempView("orders_q18")
      Tables.read(s, dir, "customer").createOrReplaceTempView("customer_q18")
      s.sql("""
        select c_custkey, o_orderkey, cast(sum(l_quantity) as float) as total_qty
        from customer_q18, orders_q18, lineitem_q18
        where o_orderkey in (select l_orderkey from lineitem_q18
                             group by l_orderkey having sum(l_quantity) > 150)
          and c_custkey = o_custkey and o_orderkey = l_orderkey
        group by c_custkey, o_orderkey""")
    },
      """SELECT c_custkey, o_orderkey, CAST(sum(l_quantity) AS REAL) AS total_qty
         FROM customer, orders, lineitem
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
           AND c_custkey = o_custkey AND o_orderkey = l_orderkey
         GROUP BY c_custkey, o_orderkey"""),
    QueryDef("q_tpch_q21", (s, dir) => {
      // TPC-H Q21 (suppliers who kept orders waiting), adapted to the
      // testdata (no receipt/commit dates: the "late line" marker is
      // l_returnflag = 'R') — the MULTI-CORRELATED SELF-JOIN family: an
      // EXISTS and a NOT EXISTS against the SAME fact, both correlated on
      // l_orderkey with a non-equi residual (l2.l_suppkey <> l1.l_suppkey).
      // Catalyst must plan the pair as a LeftSemi AND a LeftAnti over
      // lineitem keyed on l_orderkey (the <> residual rides the join
      // condition) — three passes over the fact, each column-pruned to
      // (l_orderkey, l_suppkey[, l_returnflag]), never a per-row subquery.
      // SQL on purpose — the double-correlated rewrite is under test.
      li(s, dir).createOrReplaceTempView("lineitem_q21")
      ord(s, dir).createOrReplaceTempView("orders_q21")
      Tables.read(s, dir, "supplier").createOrReplaceTempView("supplier_q21")
      Tables.read(s, dir, "nation").createOrReplaceTempView("nation_q21")
      s.sql("""
        select s_name, count(*) as numwait
        from supplier_q21, lineitem_q21 l1, orders_q21, nation_q21
        where s_suppkey = l1.l_suppkey and o_orderkey = l1.l_orderkey
          and o_orderstatus = 'F' and l1.l_returnflag = 'R'
          and exists (select * from lineitem_q21 l2
                      where l2.l_orderkey = l1.l_orderkey
                        and l2.l_suppkey <> l1.l_suppkey)
          and not exists (select * from lineitem_q21 l3
                          where l3.l_orderkey = l1.l_orderkey
                            and l3.l_suppkey <> l1.l_suppkey
                            and l3.l_returnflag = 'R')
          and s_nationkey = n_nationkey
          and n_name in ('NATION_3', 'NATION_7')
        group by s_name""")
    },
      """SELECT s_name, count(*) AS numwait
         FROM supplier, lineitem l1, orders, nation
         WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
           AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
           AND EXISTS (SELECT * FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT * FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_returnflag = 'R')
           AND s_nationkey = n_nationkey
           AND n_name IN ('NATION_3', 'NATION_7')
         GROUP BY s_name"""),
    QueryDef("q_tpch_q22", (s, dir) => {
      // TPC-H Q22 (global sales opportunity), adapted (no c_phone: the
      // country code is c_nationkey; "never places an order" has no
      // instances in the testdata, so the anti side is "no URGENT order")
      // — the ANTI JOIN + UNCORRELATED SCALAR-AGG family: the threshold
      // subquery plans as a one-row scalar (computed once, broadcast into
      // the filter), the NOT EXISTS as a LeftAnti against orders pruned
      // to (o_custkey) after its own pushed priority cut. Distinct from
      // Q16 (anti against a DIM) and Q17 (CORRELATED scalar): here the
      // anti side is the fact and the scalar is global. SQL on purpose.
      ord(s, dir).createOrReplaceTempView("orders_q22")
      Tables.read(s, dir, "customer").createOrReplaceTempView("customer_q22")
      s.sql("""
        select c_nationkey as cntry, count(*) as numcust,
               cast(sum(c_acctbal) as float) as totacctbal
        from customer_q22
        where c_nationkey in (1, 2, 3, 10, 17, 20, 23)
          and c_acctbal > (select avg(c_acctbal) from customer_q22
                           where c_acctbal > 0.0
                             and c_nationkey in (1, 2, 3, 10, 17, 20, 23))
          and not exists (select * from orders_q22
                          where o_custkey = c_custkey
                            and o_orderpriority = '1-URGENT')
        group by c_nationkey""")
    },
      """SELECT c_nationkey AS cntry, count(*) AS numcust,
         CAST(sum(c_acctbal) AS REAL) AS totacctbal
         FROM customer
         WHERE c_nationkey IN (1, 2, 3, 10, 17, 20, 23)
           AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                            WHERE c_acctbal > 0.0
                              AND c_nationkey IN (1, 2, 3, 10, 17, 20, 23))
           AND NOT EXISTS (SELECT * FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         GROUP BY c_nationkey"""),
    QueryDef("q_tpch_q7", (s, dir) => {
      // TPC-H Q7 (volume shipping) — the DISJUNCTIVE NATION-PAIR join
      // family: two copies of the nation dim join the same fact chain
      // with an OR-of-pairs predicate that references BOTH copies, so it
      // cannot push to either scan alone and must ride the join; groups
      // on an extracted year. Both nation sides broadcast (stats-driven).
      li(s, dir).createOrReplaceTempView("lineitem_q7")
      ord(s, dir).createOrReplaceTempView("orders_q7")
      cust(s, dir).createOrReplaceTempView("customer_q7")
      Tables.read(s, dir, "supplier").createOrReplaceTempView("supplier_q7")
      Tables.read(s, dir, "nation").createOrReplaceTempView("nation_q7")
      s.sql("""
        select supp_nation, cust_nation, l_year,
               cast(sum(volume) as float) as revenue
        from (select n1.n_name as supp_nation, n2.n_name as cust_nation,
                year(l_shipdate) as l_year,
                l_extendedprice * (1 - l_discount) as volume
              from supplier_q7, lineitem_q7, orders_q7, customer_q7,
                   nation_q7 n1, nation_q7 n2
              where s_suppkey = l_suppkey and o_orderkey = l_orderkey
                and c_custkey = o_custkey and s_nationkey = n1.n_nationkey
                and c_nationkey = n2.n_nationkey
                and ((n1.n_name = 'NATION_2' and n2.n_name = 'NATION_8')
                  or (n1.n_name = 'NATION_8' and n2.n_name = 'NATION_2'))
                and l_shipdate between timestamp '1996-01-01'
                                   and timestamp '1997-12-31') shipping
        group by supp_nation, cust_nation, l_year""")
    },
      """SELECT supp_nation, cust_nation, l_year,
         CAST(sum(volume) AS REAL) AS revenue
         FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 year(l_shipdate) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
               FROM supplier, lineitem, orders, customer,
                    nation n1, nation n2
               WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
                 AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
                 AND c_nationkey = n2.n_nationkey
                 AND ((n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_8')
                   OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_2'))
                 AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                                    AND TIMESTAMP '1997-12-31') shipping
         GROUP BY supp_nation, cust_nation, l_year"""),
    QueryDef("q_tpch_q8", (s, dir) => {
      // TPC-H Q8 (national market share) — the SHARE-OF-GROUP family: a
      // conditional numerator over the same rows as the denominator
      // (sum(case)/sum), computed over the deepest join in the battery
      // (8 relations incl. two nation copies and region). The region and
      // type cuts prune at the dims and semi-reduce the fact chain.
      li(s, dir).createOrReplaceTempView("lineitem_q8")
      ord(s, dir).createOrReplaceTempView("orders_q8")
      cust(s, dir).createOrReplaceTempView("customer_q8")
      Tables.read(s, dir, "part").createOrReplaceTempView("part_q8")
      Tables.read(s, dir, "supplier").createOrReplaceTempView("supplier_q8")
      Tables.read(s, dir, "nation").createOrReplaceTempView("nation_q8")
      Tables.read(s, dir, "region").createOrReplaceTempView("region_q8")
      s.sql("""
        select o_year,
               cast(sum(case when nat = 'NATION_3' then volume else 0 end)
                    / sum(volume) as float) as mkt_share
        from (select year(o_orderdate) as o_year,
                l_extendedprice * (1 - l_discount) as volume,
                n2.n_name as nat
              from part_q8, supplier_q8, lineitem_q8, orders_q8,
                   customer_q8, nation_q8 n1, nation_q8 n2, region_q8
              where p_partkey = l_partkey and s_suppkey = l_suppkey
                and l_orderkey = o_orderkey and o_custkey = c_custkey
                and c_nationkey = n1.n_nationkey
                and n1.n_regionkey = r_regionkey
                and r_name = 'ASIA' and s_nationkey = n2.n_nationkey
                and p_type = 'ECONOMY') all_nations
        group by o_year""")
    },
      """SELECT o_year,
         CAST(sum(CASE WHEN nat = 'NATION_3' THEN volume ELSE 0 END)
              / sum(volume) AS REAL) AS mkt_share
         FROM (SELECT year(o_orderdate) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 n2.n_name AS nat
               FROM part, supplier, lineitem, orders, customer,
                    nation n1, nation n2, region
               WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
                 AND l_orderkey = o_orderkey AND o_custkey = c_custkey
                 AND c_nationkey = n1.n_nationkey
                 AND n1.n_regionkey = r_regionkey
                 AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
                 AND p_type = 'ECONOMY') all_nations
         GROUP BY o_year"""),
    QueryDef("q_tpch_q9", (s, dir) => {
      // TPC-H Q9 (product-type profit), adapted (no partsupp: the cost
      // term is p_retailprice * l_quantity * 0.01 instead of
      // ps_supplycost * l_quantity) — the COMPUTED-MEASURE-OVER-JOIN
      // family: the aggregated amount is an arithmetic expression over
      // columns of THREE different relations, so it can only form after
      // the joins; the p_name LIKE cut prunes the part dim.
      li(s, dir).createOrReplaceTempView("lineitem_q9")
      ord(s, dir).createOrReplaceTempView("orders_q9")
      Tables.read(s, dir, "part").createOrReplaceTempView("part_q9")
      Tables.read(s, dir, "supplier").createOrReplaceTempView("supplier_q9")
      Tables.read(s, dir, "nation").createOrReplaceTempView("nation_q9")
      s.sql("""
        select nat, o_year, cast(sum(amount) as float) as sum_profit
        from (select n_name as nat, year(o_orderdate) as o_year,
                l_extendedprice * (1 - l_discount)
                  - p_retailprice * l_quantity * 0.01 as amount
              from part_q9, supplier_q9, lineitem_q9, orders_q9, nation_q9
              where s_suppkey = l_suppkey and p_partkey = l_partkey
                and o_orderkey = l_orderkey and s_nationkey = n_nationkey
                and p_name like '%blue%') profit
        group by nat, o_year""")
    },
      """SELECT nat, o_year, CAST(sum(amount) AS REAL) AS sum_profit
         FROM (SELECT n_name AS nat, year(o_orderdate) AS o_year,
                 l_extendedprice * (1 - l_discount)
                   - p_retailprice * l_quantity * 0.01 AS amount
               FROM part, supplier, lineitem, orders, nation
               WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
                 AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
                 AND p_name LIKE '%blue%') profit
         GROUP BY nat, o_year"""),
    QueryDef("q_tpch_q10", (s, dir) => {
      // TPC-H Q10 (returned-item reporting) — the TOP-N-REVENUE family:
      // a 4-way join grouped on the customer identity, ordered by the
      // aggregate, cut to 20 (TakeOrderedAndProject over the agg — the
      // ORDER BY + LIMIT must never sort the full group set on one node).
      li(s, dir).createOrReplaceTempView("lineitem_q10")
      ord(s, dir).createOrReplaceTempView("orders_q10")
      cust(s, dir).createOrReplaceTempView("customer_q10")
      Tables.read(s, dir, "nation").createOrReplaceTempView("nation_q10")
      s.sql("""
        select c_custkey, c_name,
               cast(sum(l_extendedprice * (1 - l_discount)) as float) as revenue,
               cast(c_acctbal as float) as c_acctbal, n_name
        from customer_q10, orders_q10, lineitem_q10, nation_q10
        where c_custkey = o_custkey and l_orderkey = o_orderkey
          and o_orderdate >= timestamp '1997-01-01'
          and o_orderdate <  timestamp '1997-07-01'
          and l_returnflag = 'R' and c_nationkey = n_nationkey
        group by c_custkey, c_name, c_acctbal, n_name
        order by revenue desc, c_custkey limit 20""")
    },
      """SELECT c_custkey, c_name,
         CAST(sum(l_extendedprice * (1 - l_discount)) AS REAL) AS revenue,
         CAST(c_acctbal AS REAL) AS c_acctbal, n_name
         FROM customer, orders, lineitem, nation
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate <  TIMESTAMP '1997-07-01'
           AND l_returnflag = 'R' AND c_nationkey = n_nationkey
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20"""),
    QueryDef("q_tpch_q12", (s, dir) => {
      // TPC-H Q12 (shipping-mode priority), adapted (no l_shipmode: the
      // mode column is l_returnflag, the IN cut its two-value set) — the
      // DUAL-CONDITIONAL-COUNT family: two complementary CASE sums over
      // one join pass (one fact read, both counters fold map-side).
      li(s, dir).createOrReplaceTempView("lineitem_q12")
      ord(s, dir).createOrReplaceTempView("orders_q12")
      s.sql("""
        select l_linestatus,
          cast(sum(case when o_orderpriority = '1-URGENT'
                     or o_orderpriority = '2-HIGH' then 1 else 0 end)
            as bigint) as high_line_count,
          cast(sum(case when o_orderpriority <> '1-URGENT'
                    and o_orderpriority <> '2-HIGH' then 1 else 0 end)
            as bigint) as low_line_count
        from orders_q12, lineitem_q12
        where o_orderkey = l_orderkey
          and l_shipdate >= timestamp '1997-01-01'
          and l_shipdate <  timestamp '1998-01-01'
          and l_returnflag in ('A', 'R')
        group by l_linestatus""")
    },
      """SELECT l_linestatus,
         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                    OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
           AS BIGINT) AS high_line_count,
         CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
                   AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END)
           AS BIGINT) AS low_line_count
         FROM orders, lineitem
         WHERE o_orderkey = l_orderkey
           AND l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate <  TIMESTAMP '1998-01-01'
           AND l_returnflag IN ('A', 'R')
         GROUP BY l_linestatus"""),
    QueryDef("q_tpch_q15", (s, dir) => {
      // TPC-H Q15 (top supplier) — the AGGREGATE-OF-AGGREGATE family: a
      // derived per-supplier revenue relation consumed TWICE (once
      // joined to supplier, once reduced to its own max) — the CTE must
      // evaluate as a reusable subplan and the scalar max must come from
      // the aggregate, never a collected list; equality against the
      // scalar selects the top supplier(s).
      li(s, dir).createOrReplaceTempView("lineitem_q15")
      Tables.read(s, dir, "supplier").createOrReplaceTempView("supplier_q15")
      s.sql("""
        with revenue as (
          select l_suppkey as supplier_no,
                 sum(l_extendedprice * (1 - l_discount)) as total_revenue
          from lineitem_q15
          where l_shipdate >= timestamp '1997-01-01'
            and l_shipdate <  timestamp '1997-04-01'
          group by l_suppkey)
        select s_suppkey, s_name, cast(total_revenue as float) as total_revenue
        from supplier_q15, revenue
        where s_suppkey = supplier_no
          and total_revenue = (select max(total_revenue) from revenue)""")
    },
      """WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
                  sum(l_extendedprice * (1 - l_discount)) AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate <  TIMESTAMP '1997-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, CAST(total_revenue AS REAL) AS total_revenue
         FROM supplier, revenue
         WHERE s_suppkey = supplier_no
           AND total_revenue = (SELECT max(total_revenue) FROM revenue)"""),
    QueryDef("q_tpch_q19", (s, dir) => {
      // TPC-H Q19 (discounted revenue), adapted to the testdata (no
      // p_container/l_shipmode: each disjunct pairs p_brand + p_size with
      // an l_quantity band) — the DISJUNCTIVE-PUSHDOWN plan family: an
      // OR-of-ANDs spanning both join sides, where Catalyst must still
      // derive the per-side residue ((brand,size) triple-OR) and push it
      // through the join into the part scan instead of evaluating the
      // whole predicate post-join (PushExtraPredicateThroughJoin). A scan
      // that reads every part row for this query is the regression this
      // gate exists to catch. SQL on purpose. Plan notes in PLANS.md.
      li(s, dir).createOrReplaceTempView("lineitem_q19")
      Tables.read(s, dir, "part").createOrReplaceTempView("part_q19")
      s.sql("""
        select cast(sum(l_extendedprice * (1 - l_discount)) as float) as revenue,
               count(*) as n
        from lineitem_q19, part_q19
        where p_partkey = l_partkey
          and ((p_brand = 'Brand#12' and p_size between 1 and 15
                and l_quantity between 1 and 11)
            or (p_brand = 'Brand#23' and p_size between 1 and 25
                and l_quantity between 10 and 20)
            or (p_brand = 'Brand#34' and p_size between 1 and 35
                and l_quantity between 20 and 30))""")
    },
      """SELECT CAST(sum(l_extendedprice * (1 - l_discount)) AS REAL) AS revenue,
         count(*) AS n
         FROM lineitem, part
         WHERE p_partkey = l_partkey
           AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                 AND l_quantity BETWEEN 1 AND 11)
             OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                 AND l_quantity BETWEEN 10 AND 20)
             OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
                 AND l_quantity BETWEEN 20 AND 30))"""),
    QueryDef("q_tpch_q20", (s, dir) => {
      // TPC-H Q20 (potential part promotion), adapted to the testdata (no
      // partsupp: lineitem is the supplier↔part bridge, and the original's
      // `ps_availqty > 0.5 * correlated sum` becomes `l_quantity > 1.6 *
      // correlated avg per part`) — the NESTED SEMI-JOIN CHAIN family:
      // the outer `s_suppkey IN (...)` must plan as a LeftSemi whose
      // subquery ITSELF contains a second semi join (`l_partkey IN
      // (parts named *gear*)`) plus a correlated scalar agg that
      // decorrelates to ONE per-partkey aggregate — two LeftSemis and a
      // hash agg, no collected IN-list, no per-row subquery anywhere.
      // SQL on purpose. Plan notes in PLANS.md.
      li(s, dir).createOrReplaceTempView("lineitem_q20")
      Tables.read(s, dir, "part").createOrReplaceTempView("part_q20")
      Tables.read(s, dir, "supplier").createOrReplaceTempView("supplier_q20")
      Tables.read(s, dir, "nation").createOrReplaceTempView("nation_q20")
      s.sql("""
        select s_name, cast(s_acctbal as float) as s_acctbal
        from supplier_q20, nation_q20
        where s_suppkey in (
            select l.l_suppkey from lineitem_q20 l
            where l.l_partkey in (select p_partkey from part_q20
                                  where p_name like '%gear%')
              and l.l_quantity > (select 1.6 * avg(l2.l_quantity)
                                  from lineitem_q20 l2
                                  where l2.l_partkey = l.l_partkey))
          and s_nationkey = n_nationkey
          and n_name in ('NATION_1', 'NATION_5', 'NATION_9')""")
    },
      """SELECT s_name, CAST(s_acctbal AS REAL) AS s_acctbal
         FROM supplier, nation
         WHERE s_suppkey IN (
             SELECT l.l_suppkey FROM lineitem l
             WHERE l.l_partkey IN (SELECT p_partkey FROM part
                                   WHERE p_name LIKE '%gear%')
               AND l.l_quantity > (SELECT 1.6 * avg(l2.l_quantity)
                                   FROM lineitem l2
                                   WHERE l2.l_partkey = l.l_partkey))
           AND s_nationkey = n_nationkey
           AND n_name IN ('NATION_1', 'NATION_5', 'NATION_9')"""),
    QueryDef("q_tpch_q2", (s, dir) => {
      // TPC-H Q2 (minimum-cost supplier). The testdata ships no partsupp,
      // so it is SYNTHESIZED inside the query from dbgen's own public
      // supplier-assignment shape (TPC-H spec 4.2.3: 4 suppliers per
      // part, suppkey a modular walk over the supplier domain; costs and
      // quantities a deterministic residue of the keys) — the IDENTICAL
      // integer-arithmetic CTE runs on the DuckDB side, so the oracle
      // compares real engine work, not a shared fixture file. Plan family
      // under test: the CORRELATED MIN subquery over the (re-used) CTE
      // decorrelates to one per-partkey min aggregate joined back on the
      // correlation key, and ORDER BY + LIMIT plans as
      // TakeOrderedAndProject (never a single-node global sort). Output
      // columns adapted to the testdata's trimmed schema (no p_mfgr /
      // s_address / s_phone / s_comment). SQL on purpose. PLANS.md notes.
      Tables.read(s, dir, "part").createOrReplaceTempView("part_q2")
      Tables.read(s, dir, "supplier").createOrReplaceTempView("supplier_q2")
      Tables.read(s, dir, "nation").createOrReplaceTempView("nation_q2")
      Tables.read(s, dir, "region").createOrReplaceTempView("region_q2")
      s.sql("""
        with s as (select count(*) as cnt from supplier_q2),
        partsupp as (
          select p_partkey as ps_partkey,
                 (p_partkey + i.i * (s.cnt div 4 + p_partkey div s.cnt)) % s.cnt
                   as ps_suppkey,
                 ((p_partkey * 7 +
                   (p_partkey + i.i * (s.cnt div 4 + p_partkey div s.cnt))
                     % s.cnt * 13) % 99900 + 100) / 100.0 as ps_supplycost
          from part_q2, s, (values (0), (1), (2), (3)) as i(i))
        select s_acctbal, s_name, n_name, p_partkey
        from part_q2, supplier_q2, partsupp, nation_q2, region_q2
        where p_partkey = ps_partkey and s_suppkey = ps_suppkey
          and p_size <= 25 and p_type in ('STANDARD', 'ECONOMY')
          and s_nationkey = n_nationkey and n_regionkey = r_regionkey
          and r_name = 'EUROPE'
          and ps_supplycost = (
            select min(ps2.ps_supplycost)
            from partsupp ps2, supplier_q2 s2, nation_q2 n2, region_q2 r2
            where p_partkey = ps2.ps_partkey and s2.s_suppkey = ps2.ps_suppkey
              and s2.s_nationkey = n2.n_nationkey
              and n2.n_regionkey = r2.r_regionkey and r2.r_name = 'EUROPE')
        order by s_acctbal desc, n_name, s_name, p_partkey
        limit 100""")
    },
      """WITH s AS (SELECT count(*) AS cnt FROM supplier),
         partsupp AS (
           SELECT p_partkey AS ps_partkey,
                  (p_partkey + i.i * (s.cnt // 4 + p_partkey // s.cnt)) % s.cnt
                    AS ps_suppkey,
                  ((p_partkey * 7 +
                    (p_partkey + i.i * (s.cnt // 4 + p_partkey // s.cnt))
                      % s.cnt * 13) % 99900 + 100) / 100.0 AS ps_supplycost
           FROM part, s, (VALUES (0), (1), (2), (3)) AS i(i))
         SELECT s_acctbal, s_name, n_name, p_partkey
         FROM part, supplier, partsupp, nation, region
         WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
           AND p_size <= 25 AND p_type IN ('STANDARD', 'ECONOMY')
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'EUROPE'
           AND ps_supplycost = (
             SELECT min(ps2.ps_supplycost)
             FROM partsupp ps2, supplier s2, nation n2, region r2
             WHERE p_partkey = ps2.ps_partkey AND s2.s_suppkey = ps2.ps_suppkey
               AND s2.s_nationkey = n2.n_nationkey
               AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
         LIMIT 100"""),
    QueryDef("q_tpch_q11", (s, dir) => {
      // TPC-H Q11 (important stock identification) over the SAME
      // synthesized partsupp as Q2 (identical CTE on the DuckDB side).
      // Plan family: the HAVING threshold is an UNCORRELATED scalar
      // subquery over the same joined shape — one extra aggregate whose
      // single row broadcasts into the group filter; the group-by itself
      // is one shuffle on ps_partkey. The nation cut broadcasts into the
      // 4-row-per-part CTE. SQL on purpose. PLANS.md notes.
      Tables.read(s, dir, "part").createOrReplaceTempView("part_q11")
      Tables.read(s, dir, "supplier").createOrReplaceTempView("supplier_q11")
      Tables.read(s, dir, "nation").createOrReplaceTempView("nation_q11")
      s.sql("""
        with s as (select count(*) as cnt from supplier_q11),
        partsupp as (
          select p_partkey as ps_partkey,
                 (p_partkey + i.i * (s.cnt div 4 + p_partkey div s.cnt)) % s.cnt
                   as ps_suppkey,
                 (p_partkey * 11 +
                  (p_partkey + i.i * (s.cnt div 4 + p_partkey div s.cnt))
                    % s.cnt * 3) % 9999 + 1 as ps_availqty,
                 ((p_partkey * 7 +
                   (p_partkey + i.i * (s.cnt div 4 + p_partkey div s.cnt))
                     % s.cnt * 13) % 99900 + 100) / 100.0 as ps_supplycost
          from part_q11, s, (values (0), (1), (2), (3)) as i(i))
        select ps_partkey,
               cast(sum(ps_supplycost * ps_availqty) as float) as part_value
        from partsupp, supplier_q11, nation_q11
        where ps_suppkey = s_suppkey and s_nationkey = n_nationkey
          and n_name = 'NATION_3'
        group by ps_partkey
        having sum(ps_supplycost * ps_availqty) > (
          select sum(ps_supplycost * ps_availqty) * 0.002
          from partsupp, supplier_q11, nation_q11
          where ps_suppkey = s_suppkey and s_nationkey = n_nationkey
            and n_name = 'NATION_3')""")
    },
      """WITH s AS (SELECT count(*) AS cnt FROM supplier),
         partsupp AS (
           SELECT p_partkey AS ps_partkey,
                  (p_partkey + i.i * (s.cnt // 4 + p_partkey // s.cnt)) % s.cnt
                    AS ps_suppkey,
                  (p_partkey * 11 +
                   (p_partkey + i.i * (s.cnt // 4 + p_partkey // s.cnt))
                     % s.cnt * 3) % 9999 + 1 AS ps_availqty,
                  ((p_partkey * 7 +
                    (p_partkey + i.i * (s.cnt // 4 + p_partkey // s.cnt))
                      % s.cnt * 13) % 99900 + 100) / 100.0 AS ps_supplycost
           FROM part, s, (VALUES (0), (1), (2), (3)) AS i(i))
         SELECT ps_partkey,
                CAST(sum(ps_supplycost * ps_availqty) AS REAL) AS part_value
         FROM partsupp, supplier, nation
         WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
           AND n_name = 'NATION_3'
         GROUP BY ps_partkey
         HAVING sum(ps_supplycost * ps_availqty) > (
           SELECT sum(ps_supplycost * ps_availqty) * 0.002
           FROM partsupp, supplier, nation
           WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
             AND n_name = 'NATION_3')"""),
    QueryDef("q_get_bucketed_key", (s, dir) => {
      // bucket PRUNING on key-equality scans — the per-key half of
      // TABLE_get (btree.c:479-589: descend ONE series' tree). Spark
      // prunes a bucketed scan to the matching bucket when the filter is
      // an equality on the bucket column; nothing in the gated set proved
      // that fires on our layouts (a mis-wired bucket spec would silently
      // read all 8 buckets forever). Fail-loud asserted from the scan's
      // SelectedBucketsCount before the readback aggregate the oracle
      // reproduces — the q_get_bucketed pattern for the KEY dimension.
      val ev = Tables.read(s, dir, "events")
      val t = s"g_get_bktkey_${Tables.dirKey(dir)}"
      Tables.loadBucketedIfAbsent(ev, t, Seq("user_id"), 8, sortCols = Seq("ts"))
      val q = s.table(t).filter(col("user_id") === 7L)
      val scans = q.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      require(scans.nonEmpty, "expected a file scan over the bucketed table")
      val sel = scans.head.metadata.get("SelectedBucketsCount")
      require(sel.exists(_.trim.startsWith("1 ")),
        s"user_id = k must prune the scan to ONE bucket of 8, got " +
          s"${sel.getOrElse("<no bucket pruning recorded>")}")
      q.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), fl(sum(col("value"))).as("sv"))
    },
      """SELECT event_type, count(*) AS n, CAST(sum(value) AS REAL) AS sv
         FROM events WHERE user_id = 7 GROUP BY event_type"""),
    QueryDef("q_tpch_cs_q6", (s, dir) => {
      // Q6 through the registered cs_* surface: cs_filter NULL-masks the
      // non-qualifying rows, cs_sum ignores the masks — the reference's
      // filter→aggregate calculus (imcs--1.1.sql:518-560) on the Q6
      // predicate
      li(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""
        select cast(cs_sum(cs_filter(
                 l_shipdate >= timestamp'1997-01-01' and
                 l_shipdate <  timestamp'1998-01-01' and
                 l_discount between 0.05 and 0.07 and l_quantity < 24,
                 l_extendedprice * l_discount)) as float) as revenue,
               cs_count(cs_filter(
                 l_shipdate >= timestamp'1997-01-01' and
                 l_shipdate <  timestamp'1998-01-01' and
                 l_discount between 0.05 and 0.07 and l_quantity < 24,
                 l_extendedprice)) as n
        from lineitem_v""")
    },
      """SELECT CAST(sum(l_extendedprice * l_discount) AS REAL) AS revenue,
         count(*) AS n
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate <  TIMESTAMP '1998-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),
    QueryDef("q_tpch_cs_q3", (s, dir) => {
      // Q3's aggregate through cs_hash_sum: relational joins stay SQL
      // (the reference composes cs_* with ordinary PG joins the same
      // way), the revenue-per-order rollup runs as the map-valued
      // cs_hash_* aggregate keyed by the stringified order key, and the
      // order attributes re-join after cs_project_agg unpacks the map
      cust(s, dir).createOrReplaceTempView("customer_v")
      ord(s, dir).createOrReplaceTempView("orders_v")
      li(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""
        with joined as (
          select o_orderkey, l_extendedprice*(-l_discount+1) as rev
          from customer_v
          join orders_v on c_custkey = o_custkey
          join lineitem_v on l_orderkey = o_orderkey
          where c_nationkey < 10
            and o_orderdate < timestamp'1998-06-01'
            and l_shipdate  > timestamp'1998-06-01'),
        agg as (
          select cs_project_agg(cs_hash_sum(rev, cast(o_orderkey as string)))
          from joined)
        select cast(group_by as long) as o_orderkey,
               cast(agg_val as float) as revenue,
               o_orderdate, o_orderpriority
        from agg join orders_v on cast(group_by as long) = o_orderkey
        order by revenue desc, o_orderkey
        limit 10""")
    },
      """SELECT o_orderkey,
         CAST(sum(l_extendedprice * (1 - l_discount)) AS REAL) AS revenue,
         o_orderdate, o_orderpriority
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_nationkey < 10
           AND o_orderdate < TIMESTAMP '1998-06-01'
           AND l_shipdate  > TIMESTAMP '1998-06-01'
         GROUP BY o_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderkey
         LIMIT 10"""),
    QueryDef("q_cs_series", (s, dir) => {
      // the array-series cs_* functions (diff/ema/rank) end-to-end in SQL:
      // pack the error series into an ordered array, apply, explode back
      evSeries(s, dir).createOrReplaceTempView("ev_series_v")
      s.sql("""
        WITH arr AS (
          SELECT sort_array(collect_list(struct(pos, value))) AS pv
          FROM ev_series_v WHERE event_type = 'error' AND pos < 64),
        a AS (SELECT transform(pv, e -> e.value) AS xs FROM arr),
        f AS (SELECT xs, cs_diff(xs) AS d, cs_ema(xs, 10) AS e, cs_rank(xs) AS r,
                     cs_top_max(xs, 5) AS tmx, cs_top_min(xs, 5) AS tmn
              FROM a)
        SELECT posexplode(xs) AS (pos, value), d[pos] AS diff, e[pos] AS ema,
               r[pos] AS rnk,
               CAST(tmx[0] AS FLOAT) AS top1_max, CAST(tmn[0] AS FLOAT) AS top1_min
        FROM f""")
        .select(col("pos"), fl(col("value")).as("value"), fl(col("diff")).as("diff"),
          fl(col("ema")).as("ema"), col("rnk"), col("top1_max"), col("top1_min"))
    },
      s"""WITH RECURSIVE d AS (SELECT pos, "value" FROM ($evPosSql)
             WHERE event_type = 'error' AND pos < 64),
         r AS (
           SELECT pos, "value", "value" AS ema FROM d WHERE pos = 0
           UNION ALL
           SELECT d.pos, d."value",
                  d."value" * (2.0 / 11.0) + r.ema * (1 - 2.0 / 11.0) AS ema
           FROM r JOIN d ON d.pos = r.pos + 1)
         SELECT r.pos, CAST(r."value" AS REAL) AS value,
                CAST(CASE WHEN r.pos = 0 THEN 0
                     ELSE r."value" - lag(r."value") OVER (ORDER BY r.pos) END AS REAL) AS diff,
                CAST(r.ema AS REAL) AS ema,
                rank() OVER (ORDER BY r."value") AS rnk,
                CAST((SELECT max("value") FROM d) AS REAL) AS top1_max,
                CAST((SELECT min("value") FROM d) AS REAL) AS top1_min
         FROM r"""),
    QueryDef("q_cs_analytics", (s, dir) => {
      // the §2.8 analytics names over array series: trend carry, L2
      // normalize, zero-crossing count (on the centered series), exact
      // quantile — all per one packed series, exploded back to rows
      evSeries(s, dir).createOrReplaceTempView("ev_series_v")
      s.sql("""
        WITH arr AS (
          SELECT sort_array(collect_list(struct(pos, value))) AS pv
          FROM ev_series_v WHERE event_type = 'error' AND pos < 64),
        a AS (SELECT transform(pv, e -> e.value) AS xs,
                     transform(pv, e -> e.value - 250.0D) AS cs FROM arr),
        f AS (SELECT xs, cs_trend(xs) AS t, cs_norm(xs) AS nm,
                     size(cs_cross(cs, 0)) AS n_cross,
                     cs_quantile(xs, 4)[2] AS med FROM a)
        SELECT posexplode(xs) AS (pos, value), t[pos] AS trend, nm[pos] AS nrm,
               n_cross, med FROM f""")
        .select(col("pos"), fl(col("trend")).as("trend"), fl(col("nrm")).as("nrm"),
          col("n_cross").cast("long").as("n_cross"), fl(col("med")).as("med"))
    },
      s"""WITH d AS (SELECT pos, "value" FROM ($evPosSql)
             WHERE event_type = 'error' AND pos < 64),
         dd AS (SELECT pos, "value",
                CASE WHEN pos = 0 THEN 0
                     ELSE sign("value" - lag("value") OVER (ORDER BY pos)) END AS ds
                FROM d),
         tr AS (SELECT pos, "value",
                coalesce(last_value(nullif(ds, 0) IGNORE NULLS)
                  OVER (ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS trend
                FROM dd),
         cr AS (SELECT pos, sign("value" - 250) AS s FROM d
                WHERE sign("value" - 250) != 0),
         cr2 AS (SELECT pos, s, lag(s) OVER (ORDER BY pos) AS ps FROM cr)
         SELECT tr.pos, CAST(tr.trend AS REAL) AS trend,
                CAST(tr."value" / sqrt((SELECT sum("value" * "value") FROM d)) AS REAL) AS nrm,
                (SELECT count(*) FROM cr2 WHERE ps IS NOT NULL AND s != ps) AS n_cross,
                CAST((SELECT quantile_cont("value", 0.5) FROM d) AS REAL) AS med
         FROM tr"""),
    QueryDef("q_cs_asof", (s, dir) => {
      // cs_asof scalar sugar: per-user sorted signup arrays joined to
      // purchases, binary-search lookup per row — same result contract as
      // q_asof (right deduped per ts so ties can't flip the match)
      Tables.read(s, dir, "events").createOrReplaceTempView("events_v")
      s.sql("""
        WITH r AS (
          SELECT user_id, ts, max(value) AS value FROM events_v
          WHERE event_type = 'signup' GROUP BY user_id, ts),
        ra AS (
          SELECT user_id, sort_array(collect_list(struct(ts, value))) AS tv
          FROM r GROUP BY user_id),
        l AS (SELECT user_id, ts, event_id FROM events_v WHERE event_type = 'purchase')
        SELECT l.user_id, l.event_id,
               CAST(cs_asof(l.ts, transform(ra.tv, e -> e.ts),
                            transform(ra.tv, e -> CAST(e.value AS DOUBLE))) AS FLOAT) AS asof_value
        FROM l LEFT JOIN ra ON l.user_id = ra.user_id""")
    },
      """SELECT l.user_id, l.event_id, CAST(r."value" AS REAL) AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT user_id, ts, max("value") AS value FROM events
                         WHERE event_type = 'signup' GROUP BY user_id, ts) r
         ON l.user_id = r.user_id AND l.ts >= r.ts"""),
    QueryDef("q_cs_ref_literals", (s, dir) => {
      // The reference's OWN regression fixtures through the registered
      // surface (cs_parse wraps its series literals): here the DuckDB
      // "oracle" is the reference's shipped expected output itself
      // (expected/groupbyagg.out, sort.out, transform.out), so the
      // driver gate asserts reference-exact parity directly.
      s.sql("""
        SELECT 'group_all' AS fixture, posexplode(
            cs_cast(cs_group_all(cs_parse('int8:{3,1,6,7,0,3,6,5,2,3,7}'),
                                 cs_parse('int4:{1,1,1,2,2,3,3,4,5,5,5}')),
                    'array<double>')) AS (i, v)
        UNION ALL
        SELECT 'rank' AS fixture, posexplode(
            cs_cast(cs_rank(cs_parse('float4:{1.1,0.1,2.2,0.2,0.1}')),
                    'array<double>')) AS (i, v)
        UNION ALL
        SELECT 'rank_desc' AS fixture, posexplode(
            cs_cast(cs_rank(cs_parse('float4:{1.1,0.2,2.2,0.2,0.1}'), 'desc'),
                    'array<double>')) AS (i, v)
        UNION ALL
        SELECT 'quantile' AS fixture, posexplode(
            cs_quantile(cs_parse('float4:{10,3,0,3,4,5,9,11,7,3,3}'), 2)) AS (i, v)
        UNION ALL
        SELECT 'trend' AS fixture, posexplode(
            cs_trend(cs_cast(cs_parse('int4:{1,2,3,3,2,2,4,5,6,5,5}'),
                             'array<double>'))) AS (i, v)
        UNION ALL
        SELECT 'win_group_sum' AS fixture, posexplode(
            cs_win_group_sum(cs_cast(cs_parse('int4:{1,2,3,4,5,6,7,8,9,10}'),
                                     'array<double>'),
                             cs_parse('int4:{1,1,1,2,2,3,3,3,3,4}'))) AS (i, v)""")
        .select(col("fixture"), col("i"), fl(col("v")).as("v"))
    },
      // The expected values below ARE the reference's shipped regression
      // outputs: expected/groupbyagg.out (int8:{0,0,2,5,2};
      // int8:{6,6,6,9,9,30,30,30,30,10}), expected/sort.out
      // (int8:{4,1,5,3,1}; int8:{2,3,1,3,5}; float4:{0,4,11}),
      // expected/transform.out (char:{0,1,1,1,-1,-1,1,1,1,-1,-1}).
      """WITH f(fixture, vs) AS (VALUES
           ('group_all',     [0.0, 0.0, 2.0, 5.0, 2.0]),
           ('rank',          [4.0, 1.0, 5.0, 3.0, 1.0]),
           ('rank_desc',     [2.0, 3.0, 1.0, 3.0, 5.0]),
           ('quantile',      [0.0, 4.0, 11.0]),
           ('trend',         [0.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0]),
           ('win_group_sum', [6.0, 6.0, 6.0, 9.0, 9.0, 30.0, 30.0, 30.0, 30.0, 10.0]))
         SELECT fixture, CAST(g.i - 1 AS INT) AS i,
                CAST(vs[CAST(g.i AS INT)] AS REAL) AS v
         FROM f JOIN (SELECT unnest(range(1, 12)) AS i) g ON g.i <= len(f.vs)"""),
    QueryDef("q_cs_bitops", (s, dir) => {
      // the round-5 scalar names: bitwise and/or/xor/not, cast-by-name,
      // and the cs_prd product aggregate (one row: products stay bounded
      // on the sub-cent discount factors of a small key range)
      li(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT cs_and(l_partkey, l_suppkey) AS band,
               cs_or(l_partkey, l_suppkey) AS bor,
               cs_xor(l_partkey, l_suppkey) AS bxor,
               cs_bit_not(l_partkey) AS bnot,
               cs_cast(l_quantity, 'bigint') AS qty_int
        FROM lineitem_v WHERE l_orderkey < 200""")
    },
      // DuckDB bitwise operators; floor-then-cast mirrors Spark's
      // truncating double->bigint cast for the positive quantities
      """SELECT l_partkey & l_suppkey AS band,
         l_partkey | l_suppkey AS bor,
         xor(l_partkey, l_suppkey) AS bxor,
         ~l_partkey AS bnot,
         CAST(floor(l_quantity) AS BIGINT) AS qty_int
         FROM lineitem WHERE l_orderkey < 200"""),
    QueryDef("q_cs_prd", (s, dir) => {
      // cs_prd + the grouped bitwise reductions (cs_hash_any/cs_hash_all)
      // exploded through cs_project_agg, like the reference's cs_* form
      li(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""
        WITH p AS (SELECT CAST(cs_prd(1.0D + l_discount) AS FLOAT) AS prd
                   FROM lineitem_v WHERE l_orderkey < 100),
        ha AS (SELECT cs_project_agg(cs_hash_any(l_partkey, l_returnflag))
               FROM lineitem_v),
        hl AS (SELECT cs_project_agg(cs_hash_all(l_partkey, l_returnflag))
               FROM lineitem_v)
        SELECT ha.group_by AS l_returnflag, ha.agg_val AS pk_any,
               hl.agg_val AS pk_all, p.prd
        FROM ha JOIN hl ON ha.group_by = hl.group_by CROSS JOIN p""")
    },
      """WITH p AS (SELECT CAST(product(1.0 + l_discount) AS REAL) AS prd
                    FROM lineitem WHERE l_orderkey < 100),
         h AS (SELECT l_returnflag, bit_or(l_partkey) AS pk_any,
                      bit_and(l_partkey) AS pk_all
               FROM lineitem GROUP BY 1)
         SELECT h.l_returnflag, h.pk_any, h.pk_all, p.prd FROM h CROSS JOIN p"""),
    QueryDef("q_cs_calc", (s, dir) => {
      // the length-preserving series-calculus names (SeriesCalcFns) over
      // one packed series: cumulative, moving-window (fixed-N divisor),
      // dense rank, and run-group windowed sum — exploded back to rows
      evSeries(s, dir).createOrReplaceTempView("ev_series_v")
      s.sql("""
        WITH arr AS (
          SELECT sort_array(collect_list(struct(pos, value))) AS pv
          FROM ev_series_v WHERE event_type = 'error' AND pos < 64),
        a AS (SELECT transform(pv, e -> e.value) AS xs,
                     transform(pv, e -> CAST(FLOOR(e.value / 100) AS BIGINT)) AS gs FROM arr),
        f AS (SELECT xs,
                cs_cum_sum(xs) AS csum, cs_cum_max(xs) AS cmax,
                cs_window_sum(xs, 10) AS wsum, cs_window_avg(xs, 10) AS wavg,
                cs_dense_rank(xs, true) AS drnk,
                cs_win_group_sum(xs, gs) AS wgsum
              FROM a)
        SELECT posexplode(xs) AS (pos, value),
               csum[pos] AS cum_sum, cmax[pos] AS cum_max,
               wsum[pos] AS win_sum, wavg[pos] AS win_avg,
               drnk[pos] AS dense_rnk, wgsum[pos] AS wg_sum
        FROM f""")
        .select(col("pos"), fl(col("value")).as("value"),
          fl(col("cum_sum")).as("cum_sum"), fl(col("cum_max")).as("cum_max"),
          fl(col("win_sum")).as("win_sum"), fl(col("win_avg")).as("win_avg"),
          col("dense_rnk"), fl(col("wg_sum")).as("wg_sum"))
    },
      // Row-level window-SQL formulation (no arrays): cumulative frames,
      // a fixed-divisor moving window, dense_rank, and the gaps-and-islands
      // run id for the windowed group sum.
      s"""WITH s AS (SELECT pos, "value" FROM ($evPosSql)
             WHERE event_type = 'error' AND pos < 64),
         g AS (SELECT pos, "value",
                 CAST(FLOOR("value" / 100) AS BIGINT) AS grp FROM s),
         c AS (SELECT *, CASE WHEN lag(grp) OVER (ORDER BY pos)
                   IS DISTINCT FROM grp THEN 1 ELSE 0 END AS chg FROM g),
         r AS (SELECT *, sum(chg) OVER
                 (ORDER BY pos ROWS UNBOUNDED PRECEDING) AS rid FROM c)
         SELECT pos, CAST("value" AS REAL) AS value,
           CAST(sum("value") OVER (ORDER BY pos ROWS UNBOUNDED PRECEDING) AS REAL) AS cum_sum,
           CAST(max("value") OVER (ORDER BY pos ROWS UNBOUNDED PRECEDING) AS REAL) AS cum_max,
           CAST(sum("value") OVER (ORDER BY pos
                ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS REAL) AS win_sum,
           CAST(sum("value") OVER (ORDER BY pos
                ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) / 10 AS REAL) AS win_avg,
           dense_rank() OVER (ORDER BY "value") AS dense_rnk,
           CAST(sum("value") OVER (PARTITION BY rid) AS REAL) AS wg_sum
         FROM r"""),
    QueryDef("q_cs_grid", (s, dir) => {
      // cs_grid_* (bucket-shaped output, one element per step-bucket)
      evSeries(s, dir).createOrReplaceTempView("ev_series_v")
      s.sql("""
        WITH arr AS (
          SELECT sort_array(collect_list(struct(pos, value))) AS pv
          FROM ev_series_v WHERE event_type = 'error' AND pos < 64),
        a AS (SELECT transform(pv, e -> e.value) AS xs FROM arr),
        f AS (SELECT cs_grid_sum(xs, 10) AS gsm, cs_grid_avg(xs, 10) AS gav,
                     cs_grid_min(xs, 10) AS gmn, cs_grid_max(xs, 10) AS gmx
              FROM a)
        SELECT posexplode(gsm) AS (bucket, grid_sum),
               gav[bucket] AS grid_avg, gmn[bucket] AS grid_min,
               gmx[bucket] AS grid_max
        FROM f""")
        .select(col("bucket"), fl(col("grid_sum")).as("grid_sum"),
          fl(col("grid_avg")).as("grid_avg"), fl(col("grid_min")).as("grid_min"),
          fl(col("grid_max")).as("grid_max"))
    },
      s"""WITH s AS (SELECT pos, "value" FROM ($evPosSql)
             WHERE event_type = 'error' AND pos < 64)
         SELECT CAST(pos // 10 AS BIGINT) AS bucket,
           CAST(sum("value") AS REAL) AS grid_sum,
           CAST(avg("value") AS REAL) AS grid_avg,
           CAST(min("value") AS REAL) AS grid_min,
           CAST(max("value") AS REAL) AS grid_max
         FROM s GROUP BY 1"""),
    QueryDef("q_cs_group", (s, dir) => {
      // cs_group_* (run-shaped output, one element per run of equal
      // adjacent group values)
      evSeries(s, dir).createOrReplaceTempView("ev_series_v")
      s.sql("""
        WITH arr AS (
          SELECT sort_array(collect_list(struct(pos, value))) AS pv
          FROM ev_series_v WHERE event_type = 'error' AND pos < 64),
        a AS (SELECT transform(pv, e -> e.value) AS xs,
                     transform(pv, e -> CAST(FLOOR(e.value / 100) AS BIGINT)) AS gs FROM arr),
        f AS (SELECT cs_group_sum(xs, gs) AS rs, cs_group_count(gs) AS rc,
                     cs_group_first(xs, gs) AS rf, cs_group_last(xs, gs) AS rl
              FROM a)
        SELECT posexplode(rs) AS (run, run_sum),
               rc[run] AS run_count, rf[run] AS run_first, rl[run] AS run_last
        FROM f""")
        .select(col("run"), fl(col("run_sum")).as("run_sum"), col("run_count"),
          fl(col("run_first")).as("run_first"), fl(col("run_last")).as("run_last"))
    },
      s"""WITH s AS (SELECT pos, "value" FROM ($evPosSql)
             WHERE event_type = 'error' AND pos < 64),
         g AS (SELECT pos, "value",
                 CAST(FLOOR("value" / 100) AS BIGINT) AS grp FROM s),
         c AS (SELECT *, CASE WHEN lag(grp) OVER (ORDER BY pos)
                   IS DISTINCT FROM grp THEN 1 ELSE 0 END AS chg FROM g),
         r AS (SELECT *, sum(chg) OVER
                 (ORDER BY pos ROWS UNBOUNDED PRECEDING) AS rid FROM c)
         SELECT CAST(rid - 1 AS BIGINT) AS run, CAST(sum("value") AS REAL) AS run_sum,
           count(*) AS run_count,
           CAST(arg_min("value", pos) AS REAL) AS run_first,
           CAST(arg_max("value", pos) AS REAL) AS run_last
         FROM r GROUP BY 1"""),
    QueryDef("q_cs_dup", (s, dir) => {
      // the SQL-aggregate form of cs_hash_dup_count: the whole query is
      // the reference's map-then-project shape (cs_project_agg over the
      // grouped map), against the same oracle as the frame-level
      // q_hash_dup_count
      Tables.read(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT group_by AS o_orderpriority, agg_val AS dup_count
        FROM (SELECT cs_project_agg(cs_hash_dup_count(o_custkey, o_orderpriority, 3))
              FROM orders_v)""")
    },
      """SELECT o_orderpriority,
           count(*) FILTER (WHERE occ >= 3) AS dup_count FROM (
           SELECT o_orderpriority, o_custkey, count(*) AS occ
           FROM orders GROUP BY 1, 2)
         GROUP BY o_orderpriority"""),
    QueryDef("q_cs_lifted", (s, dir) => {
      // the POLYMORPHIC scalar calculus (SeriesPolyFns): arithmetic, math,
      // comparisons and filter_pos lifted over one packed array series —
      // arr-scalar broadcasts, arr-arr zips (cs_add with its own reverse)
      evSeries(s, dir).createOrReplaceTempView("ev_series_v")
      s.sql("""
        WITH arr AS (
          SELECT sort_array(collect_list(struct(pos, value))) AS pv
          FROM ev_series_v WHERE event_type = 'error' AND pos < 64),
        a AS (SELECT transform(pv, e -> e.value) AS xs FROM arr),
        f AS (SELECT xs,
                cs_add(cs_mul(xs, 2.0D), 1.0D) AS affine,
                cs_div(xs, cs_add(xs, 1.0D)) AS ratio,
                cs_sqrt(cs_abs(cs_sub(xs, 400.0D))) AS dist,
                cs_to_int8_array(cs_gt(xs, 400.0D)) AS gt400,
                CAST(size(cs_filter_pos(cs_gt(xs, 400.0D))) AS BIGINT) AS n_gt,
                cs_add(xs, cs_reverse(xs)) AS palin
              FROM a)
        SELECT posexplode(xs) AS (pos, value), affine[pos] AS affine,
               ratio[pos] AS ratio, dist[pos] AS dist, gt400[pos] AS gt400,
               n_gt, palin[pos] AS palin
        FROM f""")
        .select(col("pos"), fl(col("value")).as("value"),
          fl(col("affine")).as("affine"), fl(col("ratio")).as("ratio"),
          fl(col("dist")).as("dist"), col("gt400"), col("n_gt"),
          fl(col("palin")).as("palin"))
    },
      s"""WITH s AS (SELECT pos, "value" FROM ($evPosSql)
             WHERE event_type = 'error' AND pos < 64),
         n AS (SELECT count(*) AS cnt,
                 CAST(sum(CASE WHEN "value" > 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_gt
               FROM s)
         SELECT s.pos, CAST(s."value" AS REAL) AS value,
           CAST(s."value" * 2.0 + 1.0 AS REAL) AS affine,
           CAST(s."value" / (s."value" + 1.0) AS REAL) AS ratio,
           CAST(sqrt(abs(s."value" - 400.0)) AS REAL) AS dist,
           CAST(CASE WHEN s."value" > 400 THEN 1 ELSE 0 END AS BIGINT) AS gt400,
           n.n_gt AS n_gt,
           CAST(s."value" + r."value" AS REAL) AS palin
         FROM s CROSS JOIN n JOIN s r ON r.pos = n.cnt - 1 - s.pos"""),
    QueryDef("q_cs_asof_nearest", (s, dir) => {
      // cs_asof_join(_pos) with the reference's documented NEAREST-ts
      // semantics (user_guide.html example {4,9}->{1,3,6,10} = {1,3}),
      // plus cs_stretch (first right ts STRICTLY greater). Right side
      // deduped per (user, ts) so ties cannot flip the pick.
      Tables.read(s, dir, "events").createOrReplaceTempView("events_v")
      s.sql("""
        WITH r AS (
          SELECT user_id, ts, max(value) AS v FROM events_v
          WHERE event_type = 'signup' AND value IS NOT NULL
          GROUP BY user_id, ts),
        ra AS (
          SELECT user_id, sort_array(collect_list(struct(ts, v))) AS tv
          FROM r GROUP BY user_id),
        la AS (
          SELECT user_id, sort_array(collect_list(struct(ts, event_id))) AS lv
          FROM events_v WHERE event_type = 'purchase' GROUP BY user_id),
        j AS (SELECT la.user_id, transform(la.lv, e -> e.event_id) AS eids,
                     cs_asof_join_pos(transform(la.lv, e -> e.ts),
                                      transform(ra.tv, e -> e.ts)) AS nps,
                     cs_asof_join(transform(la.lv, e -> e.ts),
                                  transform(ra.tv, e -> e.ts),
                                  transform(ra.tv, e -> CAST(e.v AS DOUBLE))) AS nvs,
                     cs_stretch(transform(la.lv, e -> e.ts),
                                transform(ra.tv, e -> e.ts),
                                transform(ra.tv, e -> CAST(e.v AS DOUBLE)), -1.0D) AS sts
              FROM la JOIN ra ON la.user_id = ra.user_id)
        SELECT user_id, posexplode(eids) AS (i, event_id),
               nps[i] AS near_pos, nvs[i] AS near_val, sts[i] AS stretched
        FROM j""")
        .select(col("user_id"), col("event_id"), col("near_pos"),
          fl(col("near_val")).as("near_val"), fl(col("stretched")).as("stretched"))
    },
      // Nearest-ts as-of via list functions: the 1-based first position of
      // the minimum |Δts| (equidistant ties take the earlier element, the
      // reference's documented pick); stretch = first right ts strictly
      // greater, -1 once exhausted.
      """WITH rr AS (SELECT user_id, ts, max("value") AS v FROM events
             WHERE event_type = 'signup' AND "value" IS NOT NULL
             GROUP BY user_id, ts),
         ra AS (SELECT user_id,
                  list(epoch_ns(ts) ORDER BY ts) AS rts,
                  list(v ORDER BY ts) AS rvs
                FROM rr GROUP BY user_id),
         l AS (SELECT user_id, epoch_ns(ts) AS t, event_id FROM events
               WHERE event_type = 'purchase')
         SELECT l.user_id, l.event_id,
           list_position(list_transform(ra.rts, x -> abs(x - l.t)),
             list_min(list_transform(ra.rts, x -> abs(x - l.t)))) - 1 AS near_pos,
           CAST(ra.rvs[list_position(list_transform(ra.rts, x -> abs(x - l.t)),
             list_min(list_transform(ra.rts, x -> abs(x - l.t))))] AS REAL) AS near_val,
           CAST(CASE WHEN len(list_filter(ra.rts, x -> x > l.t)) = 0 THEN -1.0
                ELSE ra.rvs[len(ra.rts) - len(list_filter(ra.rts, x -> x > l.t)) + 1]
                END AS REAL) AS stretched
         FROM l JOIN ra ON l.user_id = ra.user_id"""),
    QueryDef("q_cs_stretch0", (s, dir) => {
      // cs_stretch0: the merged UNION of click and error timestamps per
      // user — error values where the error series has the ts, -1 filler
      // where only the click series does (both sides ts-deduped)
      Tables.read(s, dir, "events").createOrReplaceTempView("events_v")
      s.sql("""
        WITH l AS (
          SELECT user_id, ts FROM events_v
          WHERE event_type = 'click' GROUP BY user_id, ts),
        la AS (SELECT user_id, sort_array(collect_list(ts)) AS lts
               FROM l GROUP BY user_id),
        r AS (
          SELECT user_id, ts, max(value) AS v FROM events_v
          WHERE event_type = 'error' AND value IS NOT NULL
          GROUP BY user_id, ts),
        ra AS (SELECT user_id, sort_array(collect_list(struct(ts, v))) AS tv
               FROM r GROUP BY user_id),
        j AS (SELECT la.user_id,
                     cs_stretch0(la.lts, transform(ra.tv, e -> e.ts),
                                 transform(ra.tv, e -> CAST(e.v AS DOUBLE)),
                                 -1.0D) AS st
              FROM la JOIN ra ON la.user_id = ra.user_id)
        SELECT user_id, posexplode(st) AS (i, filled) FROM j""")
        .select(col("user_id"), col("i"), fl(col("filled")).as("filled"))
    },
      // Union-merge: a full outer join on (user, ts) IS the merged
      // timestamp union; the merge index is the per-user ts rank.
      """WITH l AS (SELECT user_id, ts FROM events
             WHERE event_type = 'click' GROUP BY user_id, ts),
         r AS (SELECT user_id, ts, max("value") AS v FROM events
             WHERE event_type = 'error' AND "value" IS NOT NULL
             GROUP BY user_id, ts),
         u AS (SELECT coalesce(l.user_id, r.user_id) AS user_id,
                      coalesce(l.ts, r.ts) AS ts, r.v,
                      (r.ts IS NOT NULL) AS has_r
               FROM l FULL JOIN r ON l.user_id = r.user_id AND l.ts = r.ts)
         SELECT user_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS i,
           CAST(CASE WHEN has_r THEN v ELSE -1.0 END AS REAL) AS filled
         FROM u
         WHERE user_id IN (SELECT user_id FROM l)
           AND user_id IN (SELECT user_id FROM r)"""),

    // ---- order analytics (§2.8) ----
    QueryDef("q_trend", (s, dir) =>
      Analytics.trend(evSeries(s, dir).filter(col("pos") < 100), Seq("event_type"), "value")
        .select(col("event_type"), col("pos"), fl(col("trend")).as("trend")),
      s"""WITH se AS (SELECT * FROM ($evPosSql) WHERE pos < 100),
         d AS (SELECT event_type, pos,
             sign("value" - lag("value") OVER (PARTITION BY event_type ORDER BY pos)) AS dd
           FROM se)
         SELECT event_type, pos, CAST(coalesce(
           last_value(CASE WHEN dd <> 0 THEN dd END IGNORE NULLS)
             OVER (PARTITION BY event_type ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS REAL) AS trend
         FROM d"""),
    QueryDef("q_cross", (s, dir) =>
      Analytics.crossings(
          evSeries(s, dir).filter(col("pos") < 300).withColumn("centered", col("value") - 250),
          Seq("event_type"), "centered", 0)
        .select(col("event_type"), col("pos")),
      s"""WITH se AS (SELECT event_type, pos, "value" - 250 AS centered
             FROM ($evPosSql) WHERE pos < 300),
         d AS (SELECT event_type, pos, sign(centered) AS s,
             last_value(CASE WHEN sign(centered) <> 0 THEN sign(centered) END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevs
           FROM se)
         SELECT event_type, pos FROM d
         WHERE prevs IS NOT NULL AND s <> 0 AND s <> prevs"""),
    QueryDef("q_extrema", (s, dir) =>
      Analytics.extrema(evSeries(s, dir).filter(col("pos") < 300), Seq("event_type"), "value")
        .select(col("event_type"), col("pos")),
      s"""WITH se AS (SELECT * FROM ($evPosSql) WHERE pos < 300),
         d AS (SELECT event_type, pos,
             sign("value" - lag("value") OVER (PARTITION BY event_type ORDER BY pos)) AS dd
           FROM se),
         b AS (SELECT event_type, pos,
             last_value(CASE WHEN dd <> 0 THEN dd END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS before
           FROM d),
         a AS (SELECT event_type, pos, before,
             first_value(before IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY pos
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS after
           FROM b)
         SELECT event_type, pos FROM a
         WHERE before IS NOT NULL AND after IS NOT NULL AND before <> after"""),

    // ---- training-data pipeline: text ----
    QueryDef("q_dedup_exact", (s, dir) =>
      Dedup.exactGroups(docs(s, dir), "doc_id", "text")
        .select(col("canonical_id"), col("n_dups")),
      // empty-normalized docs (non-ASCII-only content) group by RAW text,
      // mirroring Dedup.dedupKey's fallback — distinct non-Latin documents
      // must never merge into one "duplicate" group. (The fixture has no
      // such docs today; the CASE keeps the twins equivalent if it ever
      // does.)
      s"""SELECT min(doc_id) AS canonical_id, count(*) AS n_dups
         FROM (SELECT doc_id,
                 CASE WHEN $normSql = '' THEN 'raw:' || text
                      ELSE 'n:' || $normSql END AS norm
               FROM documents)
         GROUP BY norm"""),
    QueryDef("q_sessionize", (s, dir) => {
      // gap-based sessionization: a new session starts when a user's
      // inter-event gap exceeds 1 hour — the event-analytics staple built
      // from the same change-flag + running-count shape as run-ids
      // (one window pass per user, parallel across users)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapNs = 3600L * 1000000000L
      Tables.read(s, dir, "events")
        .withColumn("__new", when(
          lag(col("ts"), 1).over(w).isNull ||
            col("ts") - lag(col("ts"), 1).over(w) > gapNs, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("__new")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          ((max(col("ts")) - min(col("ts"))) / 1000000000L).cast("long").as("dur_sec"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("max_events"),
          fl(avg(col("dur_sec"))).as("avg_dur_sec"))
    },
      """WITH g AS (SELECT user_id, ts, event_id,
             CASE WHEN prev IS NULL OR epoch_ns(ts) - epoch_ns(prev) > 3600000000000
                  THEN 1 ELSE 0 END AS new_s
           FROM (SELECT user_id, ts, event_id,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                 FROM events)),
         s AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
               FROM g),
         per AS (SELECT user_id, session_id, count(*) AS n_events,
                   (epoch_ns(max(ts)) - epoch_ns(min(ts))) // 1000000000 AS dur_sec
                 FROM s GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_events,
           CAST(avg(dur_sec) AS REAL) AS avg_dur_sec
         FROM per GROUP BY user_id"""),
    QueryDef("q_group_quantile", (s, dir) =>
      // per-group exact percentiles (grouped cs_quantile analog)
      Tables.read(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(fl(percentile(col("value"), lit(0.5))).as("p50"),
          fl(percentile(col("value"), lit(0.9))).as("p90"),
          fl(percentile(col("value"), lit(0.99))).as("p99")),
      """SELECT event_type,
         CAST(quantile_cont("value", 0.5) AS REAL) AS p50,
         CAST(quantile_cont("value", 0.9) AS REAL) AS p90,
         CAST(quantile_cont("value", 0.99) AS REAL) AS p99
         FROM events GROUP BY event_type"""),
    QueryDef("q_theta_overlap", (s, dir) => {
      // theta sketch set algebra from a rollup: per-(event_type, day)
      // sketches of user_id built once; "users who BOTH purchased and
      // signed up" and "purchased only" read by union+intersect/difference
      // of sketches — the audience-overlap query HLL cannot answer.
      // Bounded-error contract vs the exact INTERSECT/EXCEPT counts.
      val ev = Tables.read(s, dir, "events")
      val sk = Aggs.thetaRollup(
        ev.withColumn("day", expr("ts div 86400000000000")),
        Seq("event_type", "day"), "user_id")
      val est = Aggs.thetaOverlap(sk, "event_type", "purchase", "signup")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct()
      val g = ev.filter(col("event_type") === "signup")
        .select(col("user_id")).distinct()
      val exact = p.intersect(g).agg(count(lit(1)).as("exact_both"))
        .crossJoin(p.except(g).agg(count(lit(1)).as("exact_a_only")))
      est.crossJoin(exact)
        .select(col("exact_both"), col("exact_a_only"),
          (abs(col("n_both") - col("exact_both")) <=
            greatest(col("exact_both") * 0.05, lit(2.0))).as("both_ok"),
          (abs(col("n_a_only") - col("exact_a_only")) <=
            greatest(col("exact_a_only") * 0.05, lit(2.0))).as("a_only_ok"))
    },
      """WITH p AS (SELECT DISTINCT user_id FROM events
                    WHERE event_type = 'purchase'),
         g AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'signup'),
         b AS (SELECT count(*) AS exact_both
               FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM g)),
         ao AS (SELECT count(*) AS exact_a_only
                FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM g))
         SELECT b.exact_both, ao.exact_a_only,
                true AS both_ok, true AS a_only_ok
         FROM b, ao"""),
    QueryDef("q_quantile_rollup", (s, dir) => {
      // mergeable KLL quantile rollup: per-(returnflag, linestatus) bucket
      // sketches over l_extendedprice, MERGED up to returnflag at query
      // time; the p90 read from the merged sketch must sit within 5% rank
      // error of 0.9 against the raw data — the same bounded-error
      // contract style as q_approx_quantile/q_sketch_rollup
      val l = li(s, dir)
      val buckets = Aggs.quantileRollup(l,
        Seq("l_returnflag", "l_linestatus"), "l_extendedprice")
      val est = Aggs.quantileEstimate(buckets, Seq("l_returnflag"), 0.9)
      l.select(col("l_returnflag"), col("l_extendedprice").as("x"))
        .join(est, Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg((abs(sum(when(col("x") <= col("approx_q"), 1L).otherwise(0L))
          / count(lit(1)) - 0.9) <= lit(0.05)).as("rank_ok"))
    },
      """SELECT l_returnflag, true AS rank_ok
         FROM lineitem GROUP BY 1"""),
    QueryDef("q_approx_quantile", (s, dir) => {
      // the 100 TB quantile path: percentile_approx (mergeable sketch,
      // partial-agg friendly) with its rank-error guarantee asserted as a
      // bounded-error contract — |rank(approx_p90) − 0.9| ≤ 0.01, far
      // looser than the sketch's 1/accuracy bound, so the boolean is
      // deterministic; the exact p90 rides along for value comparison
      // r18: cpuSplit reverted — the 9-rep A/B measured the round-robin
      // Exchange as a consistent loss (1.88 vs 1.63 s min; see q_median)
      val l = li(s, dir).select(col("l_extendedprice").as("x"))
      val a = l.agg(
        percentile_approx(col("x"), lit(0.9), lit(10000)).as("ap"),
        percentile(col("x"), lit(0.9)).as("ex"),
        count(lit(1)).as("n"))
      l.crossJoin(a)
        .agg(fl(max(col("ex"))).as("p90_exact"),
          (abs(sum(when(col("x") <= col("ap"), 1L).otherwise(0L)) / max(col("n"))
            - 0.9) <= lit(0.01)).as("rank_ok"))
    },
      """SELECT CAST(quantile_cont(l_extendedprice, 0.9) AS REAL) AS p90_exact,
         true AS rank_ok FROM lineitem"""),
    QueryDef("q_group_topk", (s, dir) =>
      // per-group top-k: one shuffle on the group key + a bounded window
      // rank — no global sort; k rows survive per group regardless of
      // group size, so the plan holds under key skew
      ord(s, dir)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("o_orderpriority"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
        .filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
          fl(col("o_totalprice")).as("price")),
      """SELECT o_orderpriority,
         CAST(row_number() OVER (PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rk,
         o_orderkey, CAST(o_totalprice AS REAL) AS price
         FROM orders
         QUALIFY rk <= 3"""),
    QueryDef("q_json", (s, dir) =>
      // structured metadata extraction from a JSON props column — the
      // training-pipeline sidecar-parsing op; get_json_object is the
      // codegen'd path (no UDF), and the extracted key feeds a normal agg
      Tables.read(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k_val")).as("sum_k"),
          min(col("k_val")).as("min_k"), max(col("k_val")).as("max_k")),
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
         max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY event_type"""),
    QueryDef("q_token_count", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.tokenCountWs(col("text")).as("n_ws"),
        TextOps.tokenCountRegex(col("text")).as("n_tok")),
      """SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_ws,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tok
         FROM documents"""),
    QueryDef("q_quality", (s, dir) =>
      TextOps.qualityScore(docs(s, dir), "text")
        .select(col("doc_id"), col("n_words"),
          fl(col("mean_word_len")).as("mean_word_len"),
          fl(col("punct_ratio")).as("punct_ratio"),
          fl(col("upper_ratio")).as("upper_ratio"),
          fl(col("stopword_ratio")).as("stopword_ratio"),
          col("quality_score")),
      """WITH s AS (SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS nc,
           CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nwc,
           CASE WHEN length(trim(text)) = 0 THEN 0.0
                ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) END AS nw,
           CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE) AS np,
           CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS nu,
           CAST(len(list_filter(
             list_transform(regexp_split_to_array(trim(text), '\s+'),
               w -> lower(regexp_replace(w, '[^A-Za-z]', '', 'g'))),
             x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x)))
             AS DOUBLE) AS ns
           FROM documents)
         SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
           CAST(CASE WHEN nw > 0 THEN nwc / nw END AS REAL) AS mean_word_len,
           CAST(CASE WHEN nc > 0 THEN np / nc END AS REAL) AS punct_ratio,
           CAST(CASE WHEN nc > 0 THEN nu / nc END AS REAL) AS upper_ratio,
           CAST(CASE WHEN nw > 0 THEN ns / nw END AS REAL) AS stopword_ratio,
           CAST(CASE WHEN nw >= 5 THEN 4 ELSE 0 END
              + CASE WHEN nw > 0 AND ns / nw >= 0.1 THEN 3 ELSE 0 END
              + CASE WHEN nc > 0 AND np / nc <= 0.2 THEN 3 ELSE 0 END AS INT) AS quality_score
         FROM s"""),
    QueryDef("q_lang_id", (s, dir) =>
      TextOps.langId(docs(s, dir), "text").select(col("doc_id"), col("lang_pred")),
      langIdOracle),
    QueryDef("q_fingerprint", (s, dir) =>
      // portable md5 fingerprint — DuckDB reproduces it bit-for-bit,
      // verifying the whole normalization pipeline
      docs(s, dir).select(col("doc_id"), TextOps.fingerprintPortable(col("text")).as("fp")),
      s"""SELECT doc_id,
         CASE WHEN length($normSql) > 0 THEN md5($normSql)
              ELSE md5(text) END AS fp
         FROM documents"""),
    QueryDef("q_repetition", (s, dir) =>
      // Gopher-style repetition filters: map-only array expressions (the
      // per-doc mode count comes from the longest run of a sorted token
      // array, not an explode+groupBy over every token of the corpus)
      TextOps.repetitionSignals(docs(s, dir), "text")
        .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
          fl(col("distinct_ratio")).as("distinct_ratio"),
          fl(col("top_word_frac")).as("top_word_frac"),
          fl(col("top_bigram_frac")).as("top_bigram_frac")),
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         wc AS (SELECT doc_id, unnest(w) AS tok FROM t),
         c AS (SELECT doc_id, tok, count(*) AS cnt FROM wc GROUP BY 1, 2),
         aw AS (SELECT doc_id, max(cnt) AS mxw FROM c GROUP BY 1),
         bg AS (SELECT doc_id, [w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))] AS b
           FROM t),
         bc AS (SELECT doc_id, unnest(b) AS tok FROM bg),
         cb AS (SELECT doc_id, tok, count(*) AS cnt FROM bc GROUP BY 1, 2),
         ab AS (SELECT doc_id, max(cnt) AS mxb, CAST(sum(cnt) AS BIGINT) AS nb FROM cb GROUP BY 1)
         SELECT t.doc_id, len(t.w) AS n_words,
           len(list_distinct(t.w)) AS n_distinct_words,
           CAST(CAST(len(list_distinct(t.w)) AS DOUBLE) / len(t.w) AS REAL) AS distinct_ratio,
           CAST(CAST(aw.mxw AS DOUBLE) / len(t.w) AS REAL) AS top_word_frac,
           CAST(coalesce(CAST(ab.mxb AS DOUBLE) / ab.nb, 0.0) AS REAL) AS top_bigram_frac
         FROM t JOIN aw USING (doc_id) LEFT JOIN ab USING (doc_id)"""),
    QueryDef("q_vocab", (s, dir) =>
      // global vocabulary head: two-phase hash agg (map-side partials
      // absorb token skew) + TakeOrdered top-k; deterministic tiebreak
      docs(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(20),
      """SELECT tok, count(*) AS n FROM
         (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents)
         GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 20"""),
    QueryDef("q_curation", (s, dir) => {
      // END-TO-END curation pipeline in ONE plan: exact-dedup keep-one →
      // benchmark decontamination → minimum-length gate → per-language
      // corpus stats. The composition a 100 TB preprocessing job runs
      // nightly; every stage is the gated operator above, chained.
      val d = docs(s, dir)
      val train = d.filter(col("doc_id") < 480)
      val bench = d.filter(col("doc_id") >= 480)
      val kept = Dedup.exactDedup(train, "doc_id", "text")
      val clean = Dedup.contaminationFlags(train, bench, "doc_id", "text", 30)
        .filter(!col("contaminated")).select("doc_id")
      kept.join(clean, "doc_id")
        .filter(TextOps.tokenCountWs(col("text")) >= 5)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCountWs(col("text"))).as("n_tokens"))
    },
      s"""WITH train AS (SELECT *, $normSql AS norm FROM documents WHERE doc_id < 480),
         bench AS (SELECT doc_id, $normSql AS norm FROM documents WHERE doc_id >= 480),
         keep AS (SELECT min(doc_id) AS doc_id FROM train GROUP BY norm),
         bs AS (SELECT DISTINCT g FROM (
           SELECT unnest(list_distinct(list_filter(
             [substr(norm, i, 30) FOR i IN range(1, greatest(len(norm) - 28, 2))],
             x -> len(x) = 30))) AS g FROM bench)),
         hit AS (SELECT DISTINCT c.doc_id FROM (
           SELECT doc_id, unnest(list_distinct(list_filter(
             [substr(norm, i, 30) FOR i IN range(1, greatest(len(norm) - 28, 2))],
             x -> len(x) = 30))) AS g FROM train) c JOIN bs USING (g)),
         kept AS (SELECT t.* FROM train t
           JOIN keep USING (doc_id)
           WHERE t.doc_id NOT IN (SELECT doc_id FROM hit)
             AND len(regexp_split_to_array(trim(t.text), '\\s+')) >= 5)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
         FROM kept GROUP BY 1"""),
    QueryDef("q_tfidf", (s, dir) =>
      // top-3 tf-idf terms per doc over the doc_id<50 slice (df computed
      // over the same slice — self-consistent corpus)
      TextOps.tfidfTopTerms(docs(s, dir).filter(col("doc_id") < 50),
        "doc_id", "text", 3),
      s"""WITH d AS (SELECT doc_id, $normSql AS norm FROM documents WHERE doc_id < 50),
         t AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM d),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM t
                WHERE len(term) > 0 GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM d),
         s AS (SELECT tf.doc_id, tf.term,
             tf.tf * ln(CAST(n.n AS DOUBLE) / dfq.df) AS score
           FROM tf JOIN dfq USING (term), n),
         r AS (SELECT *, row_number() OVER (
             PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM s)
         SELECT doc_id, term, CAST(score AS REAL) AS tfidf FROM r WHERE rn <= 3"""),
    QueryDef("q_bm25", (s, dir) =>
      TextOps.bm25TopTerms(docs(s, dir).filter(col("doc_id") < 50),
        "doc_id", "text", 3),
      s"""WITH d AS (SELECT doc_id, $normSql AS norm FROM documents WHERE doc_id < 50),
         t AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM d),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM t
                WHERE len(term) > 0 GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         st AS (SELECT (SELECT count(*) FROM d) AS n,
                       (SELECT sum(tf) FROM tf) AS tt),
         s AS (SELECT tf.doc_id, tf.term,
             ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl
                   / (CAST(st.tt AS DOUBLE) / st.n))) AS score
           FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), st),
         r AS (SELECT *, row_number() OVER (
             PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM s)
         SELECT doc_id, term, CAST(score AS REAL) AS bm25 FROM r WHERE rn <= 3"""),
    QueryDef("q_sample", (s, dir) =>
      // deterministic hash-based stratified sampling: downsample the
      // high-resource language, keep all of the lowest-resource one —
      // reproducible across engines/retries/partitionings (md5, not rand)
      TextOps.stratifiedSample(docs(s, dir), "text", "lang",
        Map("en" -> 4, "zh" -> 16), 8)
        .select(col("doc_id"), col("lang")),
      """SELECT doc_id, lang FROM documents
         WHERE strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1
           < CASE WHEN lang = 'en' THEN 4 WHEN lang = 'zh' THEN 16 ELSE 8 END"""),
    QueryDef("q_mixture", (s, dir) =>
      // data-mixture downsampling at target source proportions 5:3:2 —
      // the binding source keeps all rows, others hash-gate to rate
      // C*w/n; deterministic md5 gate so DuckDB replays the exact row set
      TextOps.mixtureSample(docs(s, dir), "source", "text",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select(col("doc_id"), col("source")),
      """WITH w AS (SELECT source, CAST(w AS DOUBLE) AS w
             FROM (VALUES ('src0', 0.5), ('src1', 0.3),
             ('src2', 0.2)) AS t(source, w)),
         i AS (SELECT d.doc_id, d.source, d.text, w.w
               FROM documents d JOIN w USING (source)),
         counts AS (SELECT source, count(*) AS n, min(w) AS sw
                    FROM i GROUP BY source),
         c AS (SELECT min(n / sw) AS c FROM counts),
         rates AS (SELECT source, (c.c * sw / n) AS rate FROM counts, c)
         SELECT i.doc_id, i.source
         FROM i JOIN rates r USING (source)
         WHERE CAST(('0x' || substring(md5(i.text || 'gmix'), 1, 4)) AS INTEGER)
             < floor(r.rate * 65536 + 1e-9)"""),
    QueryDef("q_redact", (s, dir) =>
      // PII redaction scan: counts per kind + redacted text fingerprint
      // (the corpus plants no PII, so counts are 0 and fp equals the
      // original's — the oracle COMPUTES both, keeping the contract real;
      // planted-PII behavior is spec-asserted in TextPipelineSpec)
      TextOps.redactPii(docs(s, dir), "text")
        .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
          md5(col("redacted")).as("red_fp")),
      redactOracle),
    QueryDef("q_chunk", (s, dir) =>
      // sliding token-window chunking (32-token windows, stride 24) — the
      // long-document splitting step; one map-only explode
      graft.text.Chunking.chunkWords(docs(s, dir), "doc_id", "text", 32, 24)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          md5(col("chunk_text")).as("chunk_fp")),
      """WITH t AS (SELECT doc_id,
           CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '\s+') END AS w
           FROM documents),
         s AS (SELECT doc_id, w,
             CASE WHEN len(w) = 0 THEN 0
               WHEN len(w) > 32
               THEN CAST(ceil(CAST(len(w) - 32 AS DOUBLE) / 24) AS INT) + 1
               ELSE 1 END AS nc
           FROM t),
         c AS (SELECT doc_id, w, unnest(range(0, nc)) AS ci FROM s)
         SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
           CAST(len(w[ci * 24 + 1 : least(ci * 24 + 32, len(w))]) AS BIGINT) AS n_tokens,
           md5(array_to_string(w[ci * 24 + 1 : least(ci * 24 + 32, len(w))], ' ')) AS chunk_fp
         FROM c"""),
    QueryDef("q_pack", (s, dir) =>
      // greedy sequence packing into 512-token bins per source shard — a
      // keyed single-pass fold (one shuffle, zero driver state); bins are
      // shard-local by design, the way training shards are built
      graft.text.Chunking.packGreedy(
        docs(s, dir)
          .withColumn("pos", col("doc_id"))
          .withColumn("n_tokens", TextOps.tokenCountWs(col("text"))),
        Seq("source"), "n_tokens", 512)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("bin")),
      """WITH RECURSIVE d AS (SELECT source, doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM documents),
         p AS (
           SELECT source, doc_id, n_tokens, rn, n_tokens AS fill, CAST(0 AS BIGINT) AS bin
           FROM d WHERE rn = 1
           UNION ALL
           SELECT d.source, d.doc_id, d.n_tokens, d.rn,
             CASE WHEN p.fill + d.n_tokens > 512 THEN d.n_tokens
                  ELSE p.fill + d.n_tokens END,
             CASE WHEN p.fill + d.n_tokens > 512 THEN p.bin + 1 ELSE p.bin END
           FROM d JOIN p ON d.source = p.source AND d.rn = p.rn + 1)
         SELECT doc_id, source, n_tokens, bin FROM p"""),
    QueryDef("q_dup_clusters", (s, dir) =>
      // pairwise near-dup evidence → dedup groups: connected components
      // (min-label propagation, O(diameter) joins) over verified pairs.
      // maxDf is disabled HERE because the oracle's recursive closure is
      // exact all-pairs — the df-cap is the production scale guard, but a
      // capped pair set would silently diverge from the exact oracle on a
      // corpus large enough for the cap to bind. The slice bounds the
      // uncapped (oracle-exact) configuration at ANY sf, like q_jaccard —
      // production runs the capped path over the full corpus
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs(s, dir).filter(col("doc_id") < 250),
          "doc_id", "text", 7, 0.6, maxDf = Int.MaxValue))
        .withColumnRenamed("id", "doc_id"),
      s"""WITH RECURSIVE pairs AS (${jaccardPairsOracle(7, 0.6, "doc_id < 250")}),
         e AS (SELECT id1 AS a, id2 AS b FROM pairs
               UNION SELECT id2, id1 FROM pairs),
         r AS (SELECT a, a AS m FROM (SELECT DISTINCT a FROM e)
               UNION SELECT e.a, r.m FROM e JOIN r ON r.a = e.b)
         SELECT a AS doc_id, min(m) AS cluster_id FROM r GROUP BY a"""),
    QueryDef("q_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir).filter(col("doc_id") < 200), "doc_id", "text", 8, 0.2),
      jaccardPairsOracle(8, 0.2, "doc_id < 200")),
    QueryDef("q_minhash_lsh", (s, dir) =>
      // banded LSH candidates + exact-Jaccard verify; equals the oracle's
      // all-pairs answer because 8×2-band recall at j≥0.5 is ~1 (see Dedup).
      // CORPUS PROPERTY the equality relies on: every qualifying pair in
      // this testdata shares at least one minhash band (probabilistically
      // ~0.97 per pair at j=0.6; observed 1.0 here). If testdata changes
      // and this flakes, switch to q_simhash's recall-floor contract.
      Dedup.minhashLshPairsVerified(docs(s, dir).filter(col("doc_id") < 200), "doc_id", "text"),
      jaccardPairsOracle(5, 0.5, "doc_id < 200")),
    QueryDef("q_landing_dedup", (s, dir) => {
      // the REAL two-table landing-dedup protocol under the hard oracle
      // (VERDICT r15 #2): batch 0 lands a stored corpus through
      // dedupIngestBatch (its own in-batch min-id components apply),
      // batch 1 lands against it — banded candidates verified at exact
      // Jaccard ≥ 0.5 against the RETAINED docs, then in-batch
      // components over verified pairs. The returned retained doc set is
      // what DuckDB reproduces from the j≥0.5 relation directly: banding
      // recall at j≥0.5 is ~1 on this corpus (q_minhash_lsh's pinned
      // property — measured exact⊆collisions with zero misses), and the
      // r16 verification makes precision exactly 1, so survivor sets
      // coincide. Both batches run the real exactly-once machinery
      // (probe, bloom sidecars, lease, commit log) — layout is never
      // semantics, so the oracle sees only the retained ids.
      val tag = Tables.dirKey(dir)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_landing_${procTag}_$tag"
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val d = docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"), col("doc_id").as("ts"))
      val docP = s"$root/docs.parquet"
      val bktP = s"$root/buckets.parquet"
      def land(bid: Long, part: DataFrame): Unit =
        graft.streaming.Streams.dedupIngestBatch(part, docP, bktP, "ts",
          "q-landing", "doc_id", "text", 5, 8, 2, bid)
      land(0L, d.filter(col("doc_id") < 100))
      land(1L, d.filter(col("doc_id") >= 100))
      Tables.snapshot(s, docP).select(col("doc_id"))
    },
      // landing dedup, batch-wise: stored survivors = min-id components of
      // the j≥0.5 graph among doc_id<100; batch docs drop on a j≥0.5 edge
      // to a stored SURVIVOR (losers never landed, so their edges don't
      // suppress); the rest resolve by min-id components among themselves.
      // Cross pairs always have id1 on the stored side (ids are ordered
      // and pairs are emitted id1 < id2).
      s"""WITH RECURSIVE pairs AS (${jaccardPairsOracle(5, 0.5, "doc_id < 200")}),
         se AS (SELECT id1 AS a, id2 AS b FROM pairs WHERE id2 < 100
                UNION SELECT id2, id1 FROM pairs WHERE id2 < 100),
         sr AS (SELECT a, a AS m FROM (SELECT DISTINCT a FROM se)
                UNION SELECT se.a, sr.m FROM se JOIN sr ON sr.a = se.b),
         sloser AS (SELECT a FROM sr GROUP BY a HAVING min(m) < a),
         ssurv AS (SELECT doc_id FROM documents WHERE doc_id < 100
                   AND doc_id NOT IN (SELECT a FROM sloser)),
         bfresh AS (SELECT doc_id FROM documents
                    WHERE doc_id >= 100 AND doc_id < 200
                    AND doc_id NOT IN (
                      SELECT p.id2 FROM pairs p
                      JOIN ssurv s ON p.id1 = s.doc_id WHERE p.id2 >= 100)),
         be AS (SELECT p.id1 AS a, p.id2 AS b FROM pairs p
                JOIN bfresh x ON p.id1 = x.doc_id
                JOIN bfresh y ON p.id2 = y.doc_id
                UNION
                SELECT p.id2, p.id1 FROM pairs p
                JOIN bfresh x ON p.id1 = x.doc_id
                JOIN bfresh y ON p.id2 = y.doc_id),
         br AS (SELECT a, a AS m FROM (SELECT DISTINCT a FROM be)
                UNION SELECT be.a, br.m FROM be JOIN br ON br.a = be.b),
         bloser AS (SELECT a FROM br GROUP BY a HAVING min(m) < a)
         SELECT doc_id FROM ssurv
         UNION ALL
         SELECT doc_id FROM bfresh
         WHERE doc_id NOT IN (SELECT a FROM bloser)"""),
    QueryDef("q_landing_dedup_retain", (s, dir) => {
      // q_landing_dedup composed with the RETENTION beat under the same
      // hard oracle: both batches pass retainNs = 150, so batch 1's beat
      // derives cut = max(manifest ts) - 150 from the just-landed
      // survivors' footer stats and head-deletes ts <= cut - 1 from BOTH
      // tables (deleteRangeNs — row-exact, not file-approximate). The
      // oracle replays the landing protocol (same CTEs as
      // q_landing_dedup) and then applies the cut arithmetic to the
      // survivor set directly: ts IS doc_id here, so the retained window
      // is doc_id >= max(surviving doc_id) - 150. Batch 0's own beat is
      // a no-op by the guard (min >= cut at corpus scale), which the
      // final filter reproduces vacuously.
      val tag = Tables.dirKey(dir)
      val root =
        s"${System.getProperty("java.io.tmpdir")}/graft_landing_ret_${procTag}_$tag"
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val d = docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"), col("doc_id").as("ts"))
      val docP = s"$root/docs.parquet"
      val bktP = s"$root/buckets.parquet"
      def land(bid: Long, part: DataFrame): Unit =
        graft.streaming.Streams.dedupIngestBatch(part, docP, bktP, "ts",
          "q-landing-ret", "doc_id", "text", 5, 8, 2, bid, retainNs = 150L)
      land(0L, d.filter(col("doc_id") < 100))
      land(1L, d.filter(col("doc_id") >= 100))
      Tables.snapshot(s, docP).select(col("doc_id"))
    },
      s"""WITH RECURSIVE pairs AS (${jaccardPairsOracle(5, 0.5, "doc_id < 200")}),
         se AS (SELECT id1 AS a, id2 AS b FROM pairs WHERE id2 < 100
                UNION SELECT id2, id1 FROM pairs WHERE id2 < 100),
         sr AS (SELECT a, a AS m FROM (SELECT DISTINCT a FROM se)
                UNION SELECT se.a, sr.m FROM se JOIN sr ON sr.a = se.b),
         sloser AS (SELECT a FROM sr GROUP BY a HAVING min(m) < a),
         ssurv AS (SELECT doc_id FROM documents WHERE doc_id < 100
                   AND doc_id NOT IN (SELECT a FROM sloser)),
         bfresh AS (SELECT doc_id FROM documents
                    WHERE doc_id >= 100 AND doc_id < 200
                    AND doc_id NOT IN (
                      SELECT p.id2 FROM pairs p
                      JOIN ssurv s ON p.id1 = s.doc_id WHERE p.id2 >= 100)),
         be AS (SELECT p.id1 AS a, p.id2 AS b FROM pairs p
                JOIN bfresh x ON p.id1 = x.doc_id
                JOIN bfresh y ON p.id2 = y.doc_id
                UNION
                SELECT p.id2, p.id1 FROM pairs p
                JOIN bfresh x ON p.id1 = x.doc_id
                JOIN bfresh y ON p.id2 = y.doc_id),
         br AS (SELECT a, a AS m FROM (SELECT DISTINCT a FROM be)
                UNION SELECT be.a, br.m FROM be JOIN br ON br.a = be.b),
         bloser AS (SELECT a FROM br GROUP BY a HAVING min(m) < a),
         surv AS (SELECT doc_id FROM ssurv
                  UNION ALL
                  SELECT doc_id FROM bfresh
                  WHERE doc_id NOT IN (SELECT a FROM bloser))
         SELECT doc_id FROM surv
         WHERE doc_id >= (SELECT max(doc_id) FROM surv) - 150"""),
    QueryDef("q_landing_dedup_emb", (s, dir) => {
      // the EMBEDDING twin of q_landing_dedup under the hard oracle: the
      // real two-table RHP-LSH landing protocol (probe, vector-fingerprint
      // tier, lease, exactly-once commits) with a batch CONSTRUCTED to
      // exercise every decision tier DETERMINISTICALLY. Exact re-uploads
      // (v % 4 == 0) carry an identical fingerprint — tier 1. Scaled
      // copies (v % 4 == 1, each element × 2) sit on the SAME side of
      // every hyperplane as the original — doubling is exact in IEEE
      // double and sign(dot(p, 2v)) = sign(dot(p, v)) — so the RHP
      // signature is identical in ALL tables and cos(v, 2v) = 1 ≥ 0.95,
      // while the fingerprint differs: the exact-cosine tier decides.
      // Fresh vectors (v % 4 == 2, a disjoint source slice) land; an
      // in-batch exact pair (v % 4 == 3, the same source vector under two
      // ids) resolves by min-id components. The corpus has no natural
      // pair above cos 0.52 (measured), so the ≥0.95 relation is EXACTLY
      // the constructed one — banding recall is 1 by construction, and
      // the exact-cosine verification makes precision exactly 1, so the
      // engine's survivor set and DuckDB's protocol replay coincide.
      val tag = Tables.dirKey(dir)
      val root =
        s"${System.getProperty("java.io.tmpdir")}/graft_landing_emb_${procTag}_$tag"
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val src = emb(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val a = src.filter(col("vec_id") < 100)
      val c2 = src.select((col("vec_id") - 200).as("vec_id"), col("v").as("v2"))
      val c3 = src.select((col("vec_id") - 300).as("vec_id"), col("v").as("v3"))
      val b1 = a.join(c2, Seq("vec_id")).join(c3, Seq("vec_id"))
        .select((col("vec_id") + 100).cast("long").as("id"),
          when(col("vec_id") % 4 === 0, col("v"))
            .when(col("vec_id") % 4 === 1,
              transform(col("v"), x => x * lit(2.0)))
            .when(col("vec_id") % 4 === 2, col("v2"))
            .otherwise(col("v3")).as("v"))
        .unionByName(
          a.filter(col("vec_id") % 4 === 3).join(c3, Seq("vec_id"))
            .select((col("vec_id") + 600).cast("long").as("id"),
              col("v3").as("v")))
      val docP = s"$root/vecs.parquet"
      val bktP = s"$root/buckets.parquet"
      def land(bid: Long, part: DataFrame): Unit =
        graft.streaming.Streams.dedupIngestEmbeddingBatch(
          part.withColumn("ts", col("id")), docP, bktP, "ts",
          "q-landing-emb", "id", "v", 64, 0.95, 32, 16, bid)
      land(0L, a.select(col("vec_id").cast("long").as("id"), col("v")))
      land(1L, b1)
      Tables.snapshot(s, docP).select(col("id"))
    },
      """WITH RECURSIVE src AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         u AS (
           SELECT CAST(vec_id AS BIGINT) AS id, v FROM src WHERE vec_id < 100
           UNION ALL
           SELECT CAST(a.vec_id + 100 AS BIGINT),
                  CASE a.vec_id % 4
                    WHEN 0 THEN a.v
                    WHEN 1 THEN list_transform(a.v, x -> x * 2)
                    WHEN 2 THEN c.v ELSE d.v END
           FROM src a JOIN src c ON c.vec_id = a.vec_id + 200
                      JOIN src d ON d.vec_id = a.vec_id + 300
           WHERE a.vec_id < 100
           UNION ALL
           SELECT CAST(a.vec_id + 600 AS BIGINT), d.v
           FROM src a JOIN src d ON d.vec_id = a.vec_id + 300
           WHERE a.vec_id < 100 AND a.vec_id % 4 = 3),
         px AS (SELECT x.id AS id1, y.id AS id2,
                       unnest(x.v) AS xe, unnest(y.v) AS ye
                FROM u x JOIN u y ON x.id < y.id),
         pairs AS (SELECT id1, id2 FROM px GROUP BY id1, id2
                   HAVING sum(xe * ye)
                     / (sqrt(sum(xe * xe)) * sqrt(sum(ye * ye))) >= 0.95),
         se AS (SELECT id1 AS a, id2 AS b FROM pairs WHERE id2 < 100
                UNION SELECT id2, id1 FROM pairs WHERE id2 < 100),
         sr AS (SELECT a, a AS m FROM (SELECT DISTINCT a FROM se)
                UNION SELECT se.a, sr.m FROM se JOIN sr ON sr.a = se.b),
         sloser AS (SELECT a FROM sr GROUP BY a HAVING min(m) < a),
         ssurv AS (SELECT id FROM u WHERE id < 100
                   AND id NOT IN (SELECT a FROM sloser)),
         bfresh AS (SELECT id FROM u WHERE id >= 100
                    AND id NOT IN (
                      SELECT p.id2 FROM pairs p
                      JOIN ssurv s ON p.id1 = s.id WHERE p.id2 >= 100)),
         be AS (SELECT p.id1 AS a, p.id2 AS b FROM pairs p
                JOIN bfresh x ON p.id1 = x.id
                JOIN bfresh y ON p.id2 = y.id
                UNION
                SELECT p.id2, p.id1 FROM pairs p
                JOIN bfresh x ON p.id1 = x.id
                JOIN bfresh y ON p.id2 = y.id),
         br AS (SELECT a, a AS m FROM (SELECT DISTINCT a FROM be)
                UNION SELECT be.a, br.m FROM be JOIN br ON br.a = be.b),
         bloser AS (SELECT a FROM br GROUP BY a HAVING min(m) < a)
         SELECT id FROM ssurv
         UNION ALL
         SELECT id FROM bfresh WHERE id NOT IN (SELECT a FROM bloser)"""),
    QueryDef("q_simhash", (s, dir) => {
      // recall-floor contract (mirrors q_cos_lsh): simhash band candidates
      // guarantee recall 1 only for Hamming ≤ bands−1, and no bound links
      // char-shingle Jaccard ≥ 0.6 to Hamming ≤ 7 — pair-set equality with
      // the exact answer would be corpus-dependent. Precision is 1 by
      // construction (same exact-Jaccard verify as the ground truth), so
      // the contract is the exact pair count + a measured recall floor.
      val d = docs(s, dir).filter(col("doc_id") < 200)
      // ONE materialized shingle frame feeds both the exact ground truth
      // and the candidate verify — the normalize+shingle pass runs once
      val sh = Dedup.shingleSetsMaterialized(d, "doc_id", "text", 7)
      val exact = Dedup.jaccardPairsExactSh(sh, "doc_id", 0.6)
      val cand = Dedup.verifyJaccard(
        Dedup.simhashPairs(d, "doc_id", "text").select(col("id1"), col("id2")),
        sh, "doc_id", 0.6)
      exact.join(cand.select(col("id1"), col("id2"), lit(1).as("__f")),
          Seq("id1", "id2"), "left")
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(coalesce(col("__f"), lit(0))) / count(lit(1)) >= 0.9,
            lit(true)).as("recall_ok")) // zero exact pairs → vacuously true, matching the oracle
    },
      s"""WITH pairs AS (${jaccardPairsOracle(7, 0.6, "doc_id < 200")})
         SELECT count(*) AS n_exact, true AS recall_ok FROM pairs"""),

    // ---- training-data pipeline: embeddings ----
    QueryDef("q_knn", (s, dir) => {
      val e = emb(s, dir)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding")).head().getSeq[Float](0)
      Similarity.topKCosine(e, "vec_id", "embedding", qv, 10)
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
         p AS (SELECT e.vec_id,
             unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(q.qe) AS y
           FROM embeddings e, q),
         c AS (SELECT vec_id,
             CAST(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS REAL) AS cosine
           FROM p GROUP BY vec_id)
         SELECT vec_id, cosine FROM c ORDER BY cosine DESC, vec_id ASC LIMIT 10"""),
    QueryDef("q_cos_pairs", (s, dir) =>
      Dedup.cosinePairs(
        emb(s, dir).filter(col("vec_id") < 300)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")),
        "vec_id", "embedding", 0.3),
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id < 300),
         p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
             unnest(a.v) AS x, unnest(b.v) AS y
           FROM e a JOIN e b ON a.vec_id < b.vec_id),
         c AS (SELECT id1, id2,
             sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cosd
           FROM p GROUP BY id1, id2)
         SELECT id1, id2, CAST(cosd AS REAL) AS cosine FROM c WHERE cosd >= 0.3"""),
    QueryDef("q_decontaminate", (s, dir) => {
      // n-gram decontamination: flag training docs (id < 480) sharing any
      // 30-char normalized shingle with the held-out benchmark slice (the
      // usual ~13-token overlap test; short shingles flag generic phrases)
      val d = docs(s, dir)
      Dedup.contaminationFlags(
        d.filter(col("doc_id") < 480), d.filter(col("doc_id") >= 480),
        "doc_id", "text", 30)
    },
      s"""WITH cand AS (SELECT doc_id, $normSql AS norm FROM documents WHERE doc_id < 480),
         bench AS (SELECT doc_id, $normSql AS norm FROM documents WHERE doc_id >= 480),
         cs AS (SELECT doc_id, list_distinct(list_filter(
             [substr(norm, i, 30) FOR i IN range(1, greatest(len(norm) - 28, 2))],
             x -> len(x) = 30)) AS s
           FROM cand),
         bs AS (SELECT DISTINCT g FROM (
           SELECT unnest(list_distinct(list_filter(
             [substr(norm, i, 30) FOR i IN range(1, greatest(len(norm) - 28, 2))],
             x -> len(x) = 30))) AS g FROM bench)),
         hit AS (SELECT DISTINCT c.doc_id FROM
           (SELECT doc_id, unnest(s) AS g FROM cs) c JOIN bs USING (g))
         SELECT cand.doc_id, (hit.doc_id IS NOT NULL) AS contaminated
         FROM cand LEFT JOIN hit USING (doc_id)"""),
    QueryDef("q_passage_dedup", (s, dir) => {
      // CCNet/RefinedWeb repeated-passage removal: the fixture plants a
      // corpus-wide boilerplate footer passage plus a mostly-unique
      // per-doc prefix passage around each document's body (both engines
      // build the same text deterministically). Passages occurring in >1
      // distinct doc (the footer, any colliding prefixes/bodies) are
      // dropped; documents reassemble from survivors in original order.
      val d = docs(s, dir)
        .withColumn("text2", concat(col("text"),
          lit("\nthe big table boilerplate footer\n"),
          substring(col("text"), 1, 40)))
      Dedup.passageDedup(d, "doc_id", "text2", delim = "\n", maxDocs = 1)
        .select(col("doc_id"), col("clean_text"), col("n_kept"))
    },
      """WITH d AS (SELECT doc_id,
             text || chr(10) || 'the big table boilerplate footer' || chr(10)
                  || substr(text, 1, 40) AS t
           FROM documents),
         s AS (SELECT doc_id, string_split(t, chr(10)) AS parts FROM d),
         p AS (SELECT doc_id, unnest(
             [{'ord': i, 'passage': parts[i]} FOR i IN range(1, len(parts) + 1)],
             recursive := true) FROM s),
         hot AS (SELECT passage FROM p
           GROUP BY passage HAVING count(DISTINCT doc_id) > 1),
         kept AS (SELECT p.* FROM p ANTI JOIN hot USING (passage))
         SELECT doc_id,
                string_agg(passage, chr(10) ORDER BY ord) AS clean_text,
                count(*) AS n_kept
         FROM kept GROUP BY doc_id"""),
    QueryDef("q_sem_dedup", (s, dir) =>
      // SemDeDup: keep one representative per embedding-near-dup component
      // (exact pair generator here so the recursive-CTE oracle is exact;
      // cosinePairsBucketed is the corpus-scale candidate path)
      Dedup.semanticDedup(
        emb(s, dir).filter(col("vec_id") < 300)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")),
        "vec_id", "embedding", 0.3),
      """WITH RECURSIVE e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id < 300),
         p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
             unnest(a.v) AS x, unnest(b.v) AS y
           FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id),
         c AS (SELECT id1, id2,
             sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cosd
           FROM p GROUP BY id1, id2),
         pairs AS (SELECT id1, id2 FROM c WHERE cosd >= 0.3),
         e AS (SELECT id1 AS a, id2 AS b FROM pairs
               UNION SELECT id2, id1 FROM pairs),
         r AS (SELECT a, a AS m FROM (SELECT DISTINCT a FROM e)
               UNION SELECT e.a, r.m FROM e JOIN r ON r.a = e.b),
         comp AS (SELECT a AS vec_id, min(m) AS rep FROM r GROUP BY a)
         SELECT v.vec_id, COALESCE(cp.rep, v.vec_id) AS representative,
           (COALESCE(cp.rep, v.vec_id) = v.vec_id) AS keep
         FROM (SELECT vec_id FROM embeddings WHERE vec_id < 300) v
         LEFT JOIN comp cp USING (vec_id)"""),
    QueryDef("q_cos_lsh", (s, dir) => {
      // scale path: multi-table RHP-LSH candidates + exact verify, asserted
      // against the exact all-pairs answer as a measured recall floor
      // (precision is 1 by construction; T=32 tables × 4 bits gives ~0.90
      // recall at cos ≥ 0.3 on this data — floor set at 0.85). The slice
      // bounds the GROUND-TRUTH all-pairs stage at any sf (the recall
      // measurement needs exact-vs-LSH over the same set, and exact is
      // quadratic by nature); the LSH path itself is the full-corpus
      // production configuration
      val e = emb(s, dir).filter(col("vec_id") < 1000)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val exact = Dedup.cosinePairs(e, "vec_id", "embedding", 0.3)
      val lsh = Dedup.cosinePairsBucketed(e, "vec_id", "embedding", 64, 0.3)
      exact.join(lsh.select(col("id1"), col("id2"), lit(1).as("__f")),
          Seq("id1", "id2"), "left")
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(coalesce(col("__f"), lit(0))) / count(lit(1)) >= 0.85,
            lit(true)).as("recall_ok")) // zero exact pairs → vacuously true, matching the oracle
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
             WHERE vec_id < 1000),
         p AS (SELECT a.vec_id AS i, b.vec_id AS j,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
           FROM e a JOIN e b ON a.vec_id < b.vec_id)
         SELECT count(*) AS n_exact, true AS recall_ok FROM p WHERE c >= 0.3"""),
    QueryDef("q_knn_join", (s, dir) => {
      // batch KNN: top-5 neighbors for EACH query vector — broadcast
      // queries, map-side scoring, per-query windowed rank (k survivors
      // per query regardless of corpus size)
      val e = emb(s, dir)
      Similarity.topKCosineJoin(e, e.filter(col("vec_id") < 3), "vec_id", "embedding", 5)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
         s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product(e.v, q.qv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS c
           FROM e JOIN q ON e.vec_id != q.query_id)
         SELECT query_id, neighbor_id, CAST(c AS REAL) AS cosine FROM s
         QUALIFY row_number() OVER (PARTITION BY query_id
           ORDER BY c DESC, neighbor_id ASC) <= 5"""),
    QueryDef("q_ivf_query", (s, dir) => {
      // trained IVF (deterministic k-means) probing 5 of 8 partitions;
      // brute-force top-10 is the oracle-checked base, ivf_found asserts
      // the probe set covered every true neighbor (measured recall 1.0 at
      // nProbe=4 on this data; 5 adds margin)
      val e = emb(s, dir)
      val cents = Similarity.kmeansTrain(e, "vec_id", "embedding", 8, 3)
      val indexed = Similarity.ivfAssign(
        e.select(col("vec_id"), col("embedding")), "embedding", cents)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding")).head().getSeq[Float](0)
      val ivf = Similarity.ivfQuery(indexed, "vec_id", "embedding", cents, qv, 10, 5)
        .select(col("vec_id").as("__ivf_id"))
      Similarity.topKCosine(e, "vec_id", "embedding", qv, 10)
        .join(ivf, col("vec_id") === col("__ivf_id"), "left")
        .select(col("vec_id"), col("cosine"), col("__ivf_id").isNotNull.as("ivf_found"))
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
         p AS (SELECT e.vec_id,
             unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(q.qe) AS y
           FROM embeddings e, q),
         c AS (SELECT vec_id,
             CAST(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS REAL) AS cosine
           FROM p GROUP BY vec_id)
         SELECT vec_id, cosine, true AS ivf_found FROM c
         ORDER BY cosine DESC, vec_id ASC LIMIT 10"""),
    QueryDef("q_pq", (s, dir) => {
      // product quantization: 8 subspaces × 16 centroids (dim 64 → 8
      // codes/vector), approximate scoring on reconstructed vectors with
      // exact rerank of the top-150 pool; pq_found asserts the pool
      // covered every true top-10 neighbor. CORPUS PROPERTY: these
      // near-uniform synthetic embeddings are PQ's hardest case (little
      // cluster structure), so the pool is 30% of the 500-vector corpus;
      // with real clustered embeddings a 1-5% pool suffices
      val e = emb(s, dir)
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val books = Similarity.pqTrain(e, "vec_id", "embedding", dim, 8, 16, 3)
      val encoded = Similarity.pqEncode(
        e.select(col("vec_id"), col("embedding")), "embedding", books)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding")).head().getSeq[Float](0)
      val pq = Similarity.pqTopK(encoded, "vec_id", "embedding", qv, 10, 150)
        .select(col("vec_id").as("__pq_id"), lit(1).as("__f"))
      // recall-floor contract (NOT per-row equality): k-means mean
      // summation order is nondeterministic across runs, so codebooks can
      // drift by an ulp and swap a borderline pool member; measured
      // recall here is 1.0 and the floor (0.7) absorbs that drift
      Similarity.topKCosine(e, "vec_id", "embedding", qv, 10)
        .join(pq.select(col("__pq_id"), col("__f")),
          col("vec_id") === col("__pq_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(coalesce(col("__f"), lit(0))) / count(lit(1)) >= 0.7,
            lit(true)).as("recall_ok")) // zero exact pairs → vacuously true, matching the oracle
    },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
         p AS (SELECT e.vec_id,
             unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(q.qe) AS y
           FROM embeddings e, q),
         c AS (SELECT vec_id, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
           FROM p GROUP BY vec_id),
         t AS (SELECT vec_id FROM c ORDER BY c DESC, vec_id ASC LIMIT 10)
         SELECT count(*) AS n_exact, true AS recall_ok FROM t"""),
    QueryDef("q_ivf", (s, dir) => {
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id").isin(1, 2, 3, 4))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toSeq)).toSeq
      Similarity.ivfAssign(e, "embedding", cents)
        .groupBy(col("centroid_id")).agg(count(lit(1)).as("n"))
    },
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
             FROM embeddings WHERE vec_id IN (1, 2, 3, 4)),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee FROM embeddings),
         d AS (SELECT e.vec_id, c.cid,
             2 * list_dot_product(ee, ce) - list_dot_product(ce, ce) AS score FROM e, c),
         a AS (SELECT vec_id, cid FROM d
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid DESC) = 1)
         SELECT CAST(cid AS INT) AS centroid_id, count(*) AS n FROM a GROUP BY 1"""),

    // ---- training-data pipeline: multimodal plumbing ----
    QueryDef("q_media_meta", (s, dir) => {
      val bin = docs(s, dir).select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("bytes"), lit("text/plain").as("mime"))
      graft.multimodal.Multimodal.extractMeta(bin, "media_id", "bytes")
        .select(col("media_id"), col("n_bytes"))
    },
      """SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
         FROM documents"""),
    QueryDef("q_media_pcm", (s, dir) => {
      // REAL decode path: synthesize RIFF/PCM16 WAV bytes from a
      // deterministic per-doc formula, then samplePcm parses the container
      // and extracts amplitudes — the oracle replays the formula, so a
      // header-offset or endianness bug fails the hash
      val mkWav = udf { (d: Long) =>
        val samples = (0 until 50).map(i => (((d * 31 + i * 7) % 65536) - 32768).toShort)
        val bb = java.nio.ByteBuffer.allocate(44 + 100)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes); bb.putInt(36 + 100); bb.put("WAVE".getBytes)
        bb.put("fmt ".getBytes); bb.putInt(16)
        bb.putShort(1); bb.putShort(1)
        bb.putInt(8000); bb.putInt(16000)
        bb.putShort(2); bb.putShort(16)
        bb.put("data".getBytes); bb.putInt(100)
        samples.foreach(bb.putShort)
        bb.array()
      }
      val bin = docs(s, dir).filter(col("doc_id") < 20)
        .select(col("doc_id").as("media_id"), mkWav(col("doc_id")).as("bytes"))
      graft.multimodal.Multimodal.samplePcm(bin, "media_id", "bytes", 5)
        .select(col("media_id"), col("sample_idx"), fl(col("amplitude")).as("amplitude"))
    },
      """SELECT doc_id AS media_id, CAST(i AS BIGINT) AS sample_idx,
         CAST((((doc_id * 31 + i * 7) % 65536) - 32768) / 32768.0 AS REAL) AS amplitude
         FROM documents, (SELECT unnest(range(0, 50, 5)) AS i)
         WHERE doc_id < 20"""),
    QueryDef("q_media_frames", (s, dir) => {
      val bin = docs(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("bytes"), lit("application/octet-stream").as("mime"))
      graft.multimodal.Multimodal.sampleFrames(
        graft.multimodal.Multimodal.extractMeta(bin, "media_id", "bytes"), 2)
    },
      """SELECT media_id, CAST(f AS INT) AS frame_idx FROM (
           SELECT doc_id AS media_id,
             unnest(range(0, 1 + octet_length(encode(text)) % 32, 2)) AS f
           FROM documents WHERE doc_id < 50)"""),
    QueryDef("q_media_decode", (s, dir) => {
      // REAL pixel decode: per-doc formula pixels → PNG-ENCODE (zlib) →
      // ImageIO decode → per-channel means. The oracle computes the means
      // straight from the pixel formula, so the deflate round-trip must be
      // bit-exact for the hash to match — this gates a real compressed-
      // format decode, not a header peek.
      val bin = docs(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id").as("media_id"), mkPng(col("doc_id")).as("bytes"))
      graft.multimodal.Multimodal.imageFeatures(bin, "media_id", "bytes")
        .select(col("media_id"), col("width"), col("height"),
          fl(col("mean_r")).as("mean_r"), fl(col("mean_g")).as("mean_g"),
          fl(col("mean_b")).as("mean_b"))
    },
      // replays SparkEntry.mkPng's pixel formulas — the Spark side must
      // PNG-encode and ImageIO-decode back to exactly these values
      """WITH dims AS (SELECT doc_id AS media_id, 8 + (doc_id % 9) AS w,
                8 + ((doc_id * 3) % 9) AS h
              FROM documents WHERE doc_id < 100),
         xs AS (SELECT media_id, w, h, unnest(range(0, w)) AS x FROM dims),
         xy AS (SELECT media_id, w, h, x, unnest(range(0, h)) AS y FROM xs)
         SELECT media_id, w AS width, h AS height,
                CAST(avg((7 * x + 13 * y + media_id) % 256) AS REAL) AS mean_r,
                CAST(avg((3 * x + 5 * y + 2 * media_id) % 256) AS REAL) AS mean_g,
                CAST(avg((11 * x + y + 3 * media_id) % 256) AS REAL) AS mean_b
         FROM xy GROUP BY 1, 2, 3"""),
    QueryDef("q_media_resize", (s, dir) => {
      // decode → deterministic nearest-neighbor thumbnail → featurize;
      // the oracle replays dst(x,y) = src(x·w/dw, y·h/dh) in integer math
      val bin = docs(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id").as("media_id"), mkPng(col("doc_id")).as("bytes"))
      graft.multimodal.Multimodal.imageFeatures(bin, "media_id", "bytes", resizeTo = 5)
        .select(col("media_id"), col("width"), col("height"),
          fl(col("mean_r")).as("mean_r"))
    },
      """WITH dims AS (SELECT doc_id AS media_id, 8 + (doc_id % 9) AS w,
                8 + ((doc_id * 3) % 9) AS h
              FROM documents WHERE doc_id < 100),
         d2 AS (SELECT media_id, w, h,
                greatest(1, (w * 5) // greatest(w, h)) AS dw,
                greatest(1, (h * 5) // greatest(w, h)) AS dh FROM dims),
         xs AS (SELECT media_id, w, h, dw, dh, unnest(range(0, dw)) AS x FROM d2),
         xy AS (SELECT media_id, w, h, dw, dh, x, unnest(range(0, dh)) AS y FROM xs)
         SELECT media_id, dw AS width, dh AS height,
                CAST(avg((7 * ((x * w) // dw) + 13 * ((y * h) // dh) + media_id) % 256) AS REAL) AS mean_r
         FROM xy GROUP BY 1, 2, 3"""),
    QueryDef("q_media_dup", (s, dir) => {
      // image near-dup via perceptual hash: ids 50-99 carry the SAME image
      // as ids 0-49 (mkPng(id % 50)); each planted duplicate must hash
      // identically to its original across two independent decode+hash
      // evaluations (hash VALUES stay out of the output — bit-exactness
      // is spec territory, the oracle checks the pairing they induce).
      // Plain (ahash, dhash) grouping is NOT the gate here: the synthetic
      // high-frequency textures box-average to near-uniform grids and
      // collide across ids — a true property of perceptual hashes (they
      // group by LOOKS), and exactly why the pair-equality form is the
      // right driver contract for this fixture
      val bin = docs(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id").as("media_id"),
          mkPng(col("doc_id") % 50).as("bytes"))
      val h = graft.multimodal.Multimodal.imageHashes(bin, "media_id", "bytes")
      h.as("a").join(h.as("b"), col("a.media_id") + 50 === col("b.media_id"))
        .select(col("a.media_id").as("media_id"),
          (col("a.ahash") === col("b.ahash") &&
            col("a.dhash") === col("b.dhash")).as("dup_found"))
    },
      """SELECT doc_id AS media_id, true AS dup_found
         FROM documents WHERE doc_id < 50"""),
    QueryDef("q_media_dup_banded", (s, dir) => {
      // image near-dup at SCALE: banded-hamming bucketing over the aHash
      // (Dedup.hammingPairs64 — the simhash band machinery on a
      // perceptual hash; Σ bucket² candidates, never all-pairs). Recall
      // contract: with maxDist=7 < bands=8, pigeonhole makes the banded
      // pair set PROVABLY equal to the all-pairs hamming ≤ 7 set —
      // asserted here by set-difference against the bounded 100-image
      // exact slice (set_equal), alongside the planted-pair contract
      // (every id finds its id+50 twin at hamming 0).
      val bin = docs(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id").as("media_id"),
          mkPng(col("doc_id") % 50).as("bytes"))
      val h = graft.multimodal.Multimodal.imageHashes(bin, "media_id", "bytes")
        .select(col("media_id"), col("ahash")).localCheckpoint()
      val banded = graft.dedup.Dedup.hammingPairs64(h, "media_id", "ahash",
        bands = 8, maxDist = 7).select(col("id1"), col("id2"))
      val exact = h.as("a").join(h.as("b"), col("a.media_id") < col("b.media_id"))
        .filter(graft.dedup.Dedup.hamming64(col("a.ahash"), col("b.ahash")) <= 7)
        .select(col("a.media_id").as("id1"), col("b.media_id").as("id2"))
      val eq = banded.exceptAll(exact).union(exact.exceptAll(banded))
        .agg((count(lit(1)) === 0).as("set_equal"))
      val planted = banded.filter(col("id2") === col("id1") + 50)
        .select(col("id1").as("media_id"), lit(true).as("banded_found"))
      h.filter(col("media_id") < 50).select(col("media_id"))
        .join(planted, Seq("media_id"), "left")
        .na.fill(false, Seq("banded_found"))
        .crossJoin(broadcast(eq))
    },
      """SELECT doc_id AS media_id, true AS banded_found, true AS set_equal
         FROM documents WHERE doc_id < 50""")
  )

  /** Synthetic image for the media-decode gates: w=8+(id%9), h=8+(3id%9),
    * pixel (x,y) channels r=(7x+13y+id)%256, g=(3x+5y+2id)%256,
    * b=(11x+y+3id)%256 — integer formulas an external oracle replays
    * exactly; PNG is lossless so the decode must return these exact values.
    */
  private val mkPng = udf { (id: Long) =>
    val w = 8 + (id % 9).toInt
    val h = 8 + ((id * 3) % 9).toInt
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (7 * x + 13 * y + id) % 256
        val g = (3 * x + 5 * y + 2 * id) % 256
        val b = (11 * x + y + 3 * id) % 256
        img.setRGB(x, y, (r.toInt << 16) | (g.toInt << 8) | b.toInt)
        x += 1
      }
      y += 1
    }
    graft.multimodal.Multimodal.encodePng(img)
  }

  /** Oracle for q_lang_id, generated from the same marker table the Spark
    * side uses (TextOps.langMarkers) so the two can't drift.
    */
  private lazy val langIdOracle: String = {
    val langs = TextOps.langMarkers.keys.toSeq.sorted
    def hits(lang: String): String = {
      val words = TextOps.langMarkers(lang).map(m => s"'$m'").mkString(", ")
      s"len(list_filter(p, x -> list_contains([$words], x)))"
    }
    val hcols = langs.map(l => s"(${hits(l)}) AS h_$l").mkString(", ")
    val gm = s"greatest(${langs.map(l => s"h_$l").mkString(", ")})"
    val caseArms = langs.map(l => s"WHEN h_$l = gm THEN '$l'").mkString(" ")
    s"""WITH h AS (SELECT doc_id, $hcols
          FROM (SELECT doc_id,
                regexp_split_to_array(lower(trim(text)), '\\s+') AS p FROM documents)),
        g AS (SELECT *, $gm AS gm FROM h)
        SELECT doc_id, CASE WHEN gm = 0 THEN 'und' $caseArms ELSE 'und' END AS lang_pred
        FROM g"""
  }

  /** DuckDB expression mirroring TextOps.normalizedText (same single-pass
    * shape: non-alnum runs → one space, trim, lower).
    */
  private val normSql =
    """lower(trim(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g')))"""

  /** Exact all-pairs n-gram Jaccard ≥ minJ over `documents` rows matching
    * `filter` — the oracle for the near-dup pipelines (q_jaccard,
    * q_minhash_lsh, q_simhash): LSH/SimHash candidates + exact verify must
    * equal the exact answer when candidate recall at minJ is 1.
    */
  /** q_redact oracle generated from TextOps.piiPatterns so the DuckDB
    * replay can never drift from the Spark patterns (both engines run
    * RE2-compatible syntax; Spark's regexp_replace is global, DuckDB
    * needs the 'g' flag). Each kind counts over the text AFTER the
    * earlier patterns replaced theirs — matching redactPii's sequential
    * fold, so counts always equal the placeholders actually emitted.
    */
  private def redactOracle: String = {
    // standard SQL string literals: backslash is literal, only quotes escape
    def q(s: String) = s.replace("'", "''")
    val prefixes = graft.text.TextOps.piiPatterns.scanLeft("text") {
      case (acc, (_, pat, tok)) => s"regexp_replace($acc, '${q(pat)}', '$tok', 'g')"
    }
    val chain = prefixes.last
    val counts = graft.text.TextOps.piiPatterns.zip(prefixes.init).map {
      case ((kind, pat, _), base) =>
        s"len(regexp_extract_all($base, '${q(pat)}')) AS n_$kind"
    }.mkString(", ")
    s"SELECT doc_id, $counts, md5($chain) AS red_fp FROM documents"
  }

  private def jaccardPairsOracle(len: Int, minJ: Double, filter: String): String =
    s"""WITH d AS (SELECT doc_id, $normSql AS norm FROM documents WHERE $filter),
       sh AS (SELECT doc_id, list_distinct(list_filter(
           [substr(norm, i, $len) FOR i IN range(1, greatest(len(norm) - ${len - 2}, 2))],
           x -> len(x) = $len)) AS s
         FROM d),
       sh2 AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
       inv AS (SELECT doc_id, unnest(s) AS g FROM sh2),
       cand AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS inter
         FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id
         GROUP BY 1, 2),
       sz AS (SELECT doc_id, len(s) AS ssz FROM sh2)
       SELECT id1, id2,
         CAST(CAST(inter AS DOUBLE) / (s1.ssz + s2.ssz - inter) AS REAL) AS jaccard
       FROM cand JOIN sz s1 ON s1.doc_id = id1 JOIN sz s2 ON s2.doc_id = id2
       WHERE CAST(inter AS DOUBLE) / (s1.ssz + s2.ssz - inter) >= $minJ"""
}
