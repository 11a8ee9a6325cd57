package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. Every main and the test
  * suite build their session here; a library operator never changes
  * session state, so these settings are what the engine assumes:
  *  - `spark.sql.session.timeZone=UTC`;
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: TIMESTAMP(NANOS)
  *    parquet columns (some events encodings) read as int64 ns, and the
  *    file streaming sources refuse to start without it;
  *  - `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`:
  *    engine-written timestamp columns carry INT64-µs min/max stats (the
  *    INT96 default has none, so row-group pruning over written layouts
  *    would silently be a no-op; PLANS.md, round 8);
  *  - the UI off;
  *  - the `cs_*` SQL names installed ([[graft.sqlext.GraftFunctions.register]]).
  *
  * A session built elsewhere runs every Column and DataFrame operator; it
  * needs the confs above for nanosecond parquet and streaming, and the
  * install for `cs_*` SQL text.
  */
object Session {

  /** The bench-style core count: `SPARK_GRAFT_CPUS`, else the machine's
    * cores capped at 32.
    */
  def benchCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** A `local[cores]` session with `shufflePartitions` shuffle partitions;
    * `conf` pairs are applied last and override any setting above.
    */
  def apply(cores: Int, shufflePartitions: Int,
            conf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    graft.sqlext.GraftFunctions.register(spark)
    spark
  }
}
