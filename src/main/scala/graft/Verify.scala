package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session(cpus, cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional per-query wall budget (seconds). The round-5 lesson: the
    // sf0.01 correctness loop HID a 70 s shingle blowup and a 218 s
    // uncapped index that only bit at sf0.1 — a deliberately-quadratic
    // stage passes a correctness diff just fine. tools/run_budget.sh runs
    // this main at sf0.1 with the budget set; any query over it fails the
    // loop loudly, so a quadratic stage can't land even without a manual
    // graft.Prof pass.
    val budget = sys.env.get("SPARK_GRAFT_TIME_BUDGET").flatMap(_.toDoubleOption)
    val over = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val crashed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val sec = (System.nanoTime() - t0) / 1e9
        budget.foreach { b =>
          System.err.println(f"[verify-time] $name $sec%.1f s")
          if (sec > b) over += ((name, sec))
        }
      } catch { case e: Throwable =>
        // in budget mode a CRASH must fail the gate like a blown budget —
        // the whole point is catching sf0.1-only failure modes, and a
        // hard crash (OOM on 10x the data) is the worst of them
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        crashed += name
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (budget.isDefined && (over.nonEmpty || crashed.nonEmpty)) {
      if (over.nonEmpty) System.err.println(
        s"[verify-budget] OVER ${budget.get}s: " +
          over.map { case (n, s) => f"$n ($s%.1f s)" }.mkString(", "))
      if (crashed.nonEmpty) System.err.println(
        s"[verify-budget] CRASHED: ${crashed.mkString(", ")}")
      sys.exit(2)
    }
  }
}
