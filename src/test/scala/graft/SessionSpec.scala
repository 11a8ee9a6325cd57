package graft

import graft.dedup.Dedup
import graft.sim.Similarity
import graft.sqlext.GraftFunctions
import graft.streaming.Streams
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The session contract: library operators build their `cs_*` expressions
  * directly, so they run on any session, install nothing and change no
  * session state; a session is configured by [[graft.Session]] alone.
  */
class SessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def docs(s: SparkSession): DataFrame = s.createDataFrame(Seq(
    (1L, "The quick brown fox, jumps over the lazy dog!", Array(1.0f, 2.0f, -0.5f)),
    (2L, "  Der schnelle braune Fuchs und das   Kind ist hier ", Array(0.25f, 0.0f, 4.0f)),
    (3L, "A B C D E F. G!! the the THE", Array(-1.0f, 3.0f, 0.5f)),
    (4L, "", Array(0.0f, 0.0f, 0.0f)),
    (5L, null: String, Array(1.0f, 1.0f, 1.0f))
  )).toDF("id", "text", "v")

  /** Every converted Column/DataFrame operator over `docs(s)`, rows by id. */
  private def evaluate(s: SparkSession): Seq[Row] = {
    val norm = TextOps.normalizedText(col("text"))
    val cols = TextOps.langId(TextOps.qualitySignals(docs(s), "text"), "text")
      .select(col("id"), norm.as("norm"),
        TextOps.hashedCharShingles(norm, 3).as("sh"),
        Dedup.simhash(Dedup.tokenHashes(col("text"))).as("simhash"),
        Similarity.dotFused(col("v"), col("v")).as("dot"),
        col("mean_word_len"), col("punct_ratio"), col("upper_ratio"),
        col("stopword_ratio"), col("lang_pred"))
    cols.orderBy("id").collect().toSeq
  }

  test("library operators run on a session that is not the active one") {
    val expected = evaluate(spark)
    val other = spark.newSession()
    SparkSession.setActiveSession(spark)
    try {
      assert(!other.catalog.functionExists("cs_norm_text"))
      assert(evaluate(other) == expected)
      // the operators installed nothing on either session's behalf
      assert(!other.catalog.functionExists("cs_norm_text"))
    } finally SparkSession.setActiveSession(spark)
  }

  test("a user function named cs_dot survives the operators and the install") {
    val s = spark.newSession()
    s.udf.register("cs_dot", (_: Seq[Double], _: Seq[Double]) => -1.0)
    val df = s.createDataFrame(Seq((1L, Array(1.0, 0.0)), (2L, Array(0.0, 2.0))))
      .toDF("id", "v")
    val dots = df.select(Similarity.dotFused(col("v"), col("v")))
      .collect().map(_.getDouble(0)).toSeq
    assert(dots == Seq(1.0, 4.0))
    val cids = Similarity.ivfAssign(df, "v", Seq((7, Seq(1.0, 0.0)), (9, Seq(0.0, 1.0))))
      .orderBy("id").select("centroid_id").collect().map(_.getInt(0)).toSeq
    assert(cids == Seq(7, 9))
    GraftFunctions.register(s)
    val sqlDot = s.sql("SELECT cs_dot(array(1.0D, 0.0D), array(1.0D, 0.0D))")
      .head().getDouble(0)
    assert(sqlDot == -1.0)
    // the install still added every name the user had not taken
    assert(s.catalog.functionExists("cs_norm_text"))
  }

  test("streaming sources refuse a session without nanosAsLong and leave it unset") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.get(key)
    val dir = java.nio.file.Files.createTempDirectory("graft_session_stream").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", LongType),
      StructField("value", DoubleType), StructField("text", StringType)))
    spark.conf.set(key, "false")
    try {
      val calls: Seq[() => DataFrame] = Seq(
        () => Streams.tumblingAgg(spark, dir, schema),
        () => Streams.dedupStreamWithinWatermark(spark, dir, schema, "text", "ts"),
        () => Streams.intervalJoinStream(spark, dir, schema, 3600L))
      calls.foreach { call =>
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.contains(key))
        assert(spark.conf.get(key) == "false")
      }
    } finally spark.conf.set(key, prev)
  }

  test("session hygiene: library code looks up, installs and sets no session state") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root (${root.getAbsolutePath})")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.sortBy(_.getName).flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val lines = scalaFiles(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex
        .map { case (l, i) => (rel, i + 1, l.trim) }.toSeq
    }
    def hits(pattern: String): Seq[(String, Int, String)] =
      lines.filter(_._3.contains(pattern))
    def files(hs: Seq[(String, Int, String)]): Seq[String] = hs.map(_._1)

    assert(hits("call_function(\"cs_").isEmpty)
    assert(hits("SparkSession.active").isEmpty)
    val register = hits("GraftFunctions.register(")
      .filterNot(h => h._1 == "sqlext/GraftFunctions.scala" || h._1 == "Session.scala")
    assert(files(register) == Seq("SparkEntry.scala"), register)
    val builders = hits("SparkSession.builder")
    assert(files(builders) == Seq("Session.scala"), builders)
    // bucketedTableScan.outputOrdering stays a per-entry setting while
    // BucketedJoinSpec toggles it per test
    val confSets = hits("conf.set(")
    assert(files(confSets) == Seq("SparkEntry.scala", "SparkEntry.scala"),
      confSets)
    assert(confSets.forall(_._3.contains(
      "conf.set(\"spark.sql.legacy.bucketedTableScan.outputOrdering\", \"true\")")), confSets)
    // per-call reads plan no query at construction: `.rdd` (whose planning
    // starts an `rdd` SQL execution) stays out of the table and landing
    // layers, but for the memoized cache source's one re-split probe
    val rddUse = "\\.rdd\\b".r
    val rdds = lines.filter(h => (h._1.startsWith("io/") || h._1.startsWith("streaming/")) &&
      rddUse.findFirstIn(h._3).nonEmpty).map(h => (h._1, h._3))
    val allowed = Seq(
      // Tables.readRaw
      ("io/Tables.scala", "if (raw.rdd.getNumPartitions < target) raw.repartition(target) else raw"))
    assert(rdds == allowed, rdds)
  }
}
