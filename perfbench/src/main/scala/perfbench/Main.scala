package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s.jackson.Serialization

object Runner {
  /** Bytes of a file, or of every file under a directory. */
  def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum
    else if (f.isFile) f.length
    else 0L

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs independent set-up tasks on `threads` threads and waits for all
    * of them; rethrows the first failure. Set-up and warm-up only: the
    * measured windows keep one client thread.
    */
  def inParallel(threads: Int)(tasks: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = t()
      }))
      fs.foreach { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
  }
}

/** One benchmark run in one JVM: set-up, warm-up, the
  * untraced window, and with `--trace 1` a traced window after it. Raw
  * samples and layer aggregates go to the `--out` JSON file; `run.py`
  * turns them into metrics.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --sf DIR
  *       --work DIR --out FILE
  */
object Main {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val sf = a("sf")
    val work = a("work")
    // eager reclaim of replaced files, as graft.Bench sets it
    sys.props.getOrElseUpdate("graft.retire.grace.ms", "0")
    val cpus = Runtime.getRuntime.availableProcessors()
    // graft.Bench's session settings, except the master; the warehouse
    // and Spark's scratch space stay inside the work dir
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) {
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingFileSystem],
        s"fs.file.impl not in effect: ${fs.getClass.getName}")
    }

    val wl: Workload = workload match {
      case "olap_sf01" =>
        val out = s"$work/check"
        new java.io.File(out).mkdirs()
        new Olap(spark, sf, Olap.Sf01Mix, seed, out)
      case "ingest_mixed" => new Ingest(spark, work, seed)
      case other => sys.error(s"unknown workload $other")
    }

    val setupS = Runner.seconds(wl.setup())
    val cached = wl.cachedBytes
    val warmS = Runner.seconds(wl.warm())
    val plain = wl.window(new Tracer(wl.session, traced = false), seconds)
    val spaceAmp = wl.spaceAmp()

    var tracedOps: Option[Seq[OpRec]] = None
    var layers: Map[String, Double] = Map.empty
    if (traced) {
      val t = new Tracer(wl.session, traced = true)
      val fs0 = CountingFileSystem.snapshot()
      val ops = wl.window(t, seconds)
      if (!t.settle()) System.err.println("[perfbench] listener did not settle")
      val fsd = CountingFileSystem.delta(fs0, CountingFileSystem.snapshot())
      val n = math.max(1, ops.size).toDouble
      val fsKinds = Seq("create", "rename", "delete", "list", "status", "open")
      layers = t.layerMetrics(ops) ++ wl.layerExtras(t, ops, fsd) ++
        fsKinds.map(k => s"fs.$k" -> fsd.getOrElse(k, 0L) / n) ++ Map(
          "fs.ops_per_batch" ->
            (fsKinds :+ "mkdirs").map(k => fsd.getOrElse(k, 0L)).sum / n,
          "cache.mb" -> cached / 1e6)
      tracedOps = Some(ops)
      val w = Files.newBufferedWriter(Paths.get(s"$work/spans.jsonl"))
      try t.spanRecords().foreach { r => w.write(Serialization.write(r)); w.newLine() }
      finally w.close()
    }

    val checks = wl.checks()
    def opsJson(ops: Seq[OpRec]): Seq[Map[String, Any]] = {
      val start = ops.headOption.map(_.startMs).getOrElse(0L)
      ops.map(o => Map("name" -> o.name, "ms" -> o.ms,
        "t" -> (o.startMs - start) / 1000.0,
        "spans" -> o.children.map { case (k, v) => Seq(k, v / 1e6) }))
    }
    // absent keys (traced window, layers) are left out of the JSON
    val raw = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cpus" -> cpus, "sf_dir" -> sf,
      "setup_s" -> setupS, "warm_s" -> warmS,
      "cached_bytes" -> cached, "space_amp" -> spaceAmp,
      "plain" -> opsJson(plain), "traced" -> tracedOps.map(opsJson),
      "layers" -> (if (traced) Some(layers) else None),
      "failures" -> wl.failures.map { case (n, m) => Map("op" -> n, "error" -> m) },
      "checks" -> checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "detail" -> wl.detail)
    Files.writeString(Paths.get(a("out")), Serialization.write(raw))
    spark.stop()
  }
}
