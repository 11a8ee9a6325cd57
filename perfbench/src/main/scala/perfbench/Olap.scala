package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.io.Tables

/** One benchmark workload: a closed loop with one client thread. */
trait Workload {
  /** The session the measured windows run in (valid after set-up). */
  def session: SparkSession
  /** Set-up: data generation and caching. */
  def setup(): Unit
  /** Unmeasured warm-up after set-up. */
  def warm(): Unit
  /** Runs operations until `seconds` have passed (whole units of work). */
  def window(t: Tracer, seconds: Double): Seq[OpRec]
  /** Bytes held per byte of user data (see the benchmark doc). */
  def spaceAmp(): Double
  /** Bytes in Spark's block store (memory and disk) after set-up. */
  def cachedBytes: Long
  /** Post-run correctness checks: (check, passed, detail). */
  def checks(): Seq[(String, Boolean, String)]
  /** Workload-specific layer metrics of a traced window. */
  def layerExtras(t: Tracer, window: Seq[OpRec],
                  fs: Map[String, Long]): Map[String, Double]
  /** Operations that threw, with their error. */
  def failures: Seq[(String, String)]
  /** Extra facts for the detail output. */
  def detail: Map[String, Any]
}

object Olap {
  /** The olap_sf01 mix: 13 of the 24 scan entries of graft.Bench.headline.
    * The benchmark owns its mix. Left out, so that set-up, a cold check
    * pass and two measured passes stay near 45 s a run on four cores:
    * the three slowest after q_tpch_q3 (q_minhash_lsh, q_hash_multi,
    * q1_agg), and shapes another entry already covers: q_concat_ranges
    * (as q_concat_sum), q_asof (as q_asof_exec), q_tpch_q6 (as
    * q_filter_count), q_tpch_q21 and q_join (as q_tpch_q3),
    * q_asof_bucketed (writes tables on first use), q_dedup_exact and
    * q_tumbling.
    */
  val Sf01Mix: Seq[String] = Seq(
    "q_vwap", "q_filter_count", "q_grid_agg", "q_cum_agg", "q_concat_sum",
    "q_window_agg", "q_topk", "q_get", "q_tpch_q3", "q_asof_exec", "q_ema",
    "q_knn", "q_lang_id")

  /** Measured passes per window: two give each query two samples. */
  val MinPasses = 2

  /** Threads of the set-up and the check pass (not of the windows). */
  val SetupThreads = 4

  /** Tables persisted at set-up, as graft.Bench's load phase does. */
  val Tables7: Seq[String] = Seq("lineitem", "orders", "customer", "part",
    "events", "documents", "embeddings")
}

/** Seeded, shuffled whole passes over a query mix on cached tables. Each
  * query is one operation, timed from the builder call through a `noop`
  * write (spans `build` and `execute`).
  */
final class Olap(spark: SparkSession, sfDir: String, val mix: Seq[String],
                 seed: Long, outDir: String) extends Workload {
  private var pass = 0
  private var cached = 0L
  private val failed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  def session: SparkSession = spark
  def cachedBytes: Long = cached
  def failures: Seq[(String, String)] = failed.toSeq

  private def persist(t: String): Unit =
    Tables.read(spark, sfDir, t).persist(StorageLevel.MEMORY_AND_DISK).count()

  /** Persists the tables and builds the events series, as graft.Bench's
    * load phase does. The tables load side by side (the events series
    * right after its table), which hides much of a cold JVM's start-up.
    */
  def setup(): Unit = {
    Runner.inParallel(Olap.SetupThreads)(Olap.Tables7.map { t => () =>
      persist(t)
      if (t == "events") SparkEntry.warmSeries(spark, sfDir)
    }: _*)
    cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
  }

  /** The warm pass is also the correctness pass: every query of the mix
    * runs once, side by side on [[Olap.SetupThreads]] threads, and its
    * result is written for the DuckDB oracle check.
    */
  def warm(): Unit = {
    Runner.inParallel(Olap.SetupThreads)(
      Gen.passOrder(seed, mix, pass).map(q => () => checkQuery(q)): _*)
    pass += 1
    val oracle = mix.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      org.json4s.jackson.Serialization.write(oracle)(org.json4s.DefaultFormats))
  }

  private def checkQuery(q: String): Unit =
    try SparkEntry.queries(q)(spark, sfDir).coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/$q")
    catch {
      case e: Exception =>
        failed.synchronized { failed += ((q, s"check pass: ${e.getMessage}")) }
    }

  private def runQuery(t: Tracer, q: String): Unit = t.op(q) {
    val df = t.span("build")(SparkEntry.queries(q)(spark, sfDir))
    t.noteBuilt(df)
    t.span("execute")(df.write.format("noop").mode("overwrite").save())
  }

  /** Whole passes: at least [[Olap.MinPasses]], and at least `seconds`. */
  def window(t: Tracer, seconds: Double): Seq[OpRec] = {
    val before = t.ops.size
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < Olap.MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      Gen.passOrder(seed, mix, pass).foreach { q =>
        try runQuery(t, q)
        catch { case e: Exception => failed += ((q, e.getMessage)) }
      }
      pass += 1
      passes += 1
    }
    t.ops.drop(before)
  }

  def spaceAmp(): Double = {
    val src = Olap.Tables7.map(t => Runner.du(new java.io.File(s"$sfDir/$t.parquet"))).sum
    cached.toDouble / src
  }

  def checks(): Seq[(String, Boolean, String)] = Nil

  def layerExtras(t: Tracer, window: Seq[OpRec],
                  fs: Map[String, Long]): Map[String, Double] = {
    val n = math.max(1, window.size).toDouble
    Map("entry.build_ms" -> window.map(_.partMs("build")).sum / n)
  }

  def detail: Map[String, Any] = Map("mix" -> mix, "passes_run" -> pass)
}
