package graft

import graft.sqlext.GraftFunctions
import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** cs_* SQL surface: registered builders must plan to the same native
  * expressions as the DataFrame forms.
  */
class SqlExtSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cs_wavg/cs_wsum SQL equals the DataFrame aggregates") {
    GraftFunctions.register(spark)
    Seq((10.0, 2.0), (20.0, 3.0), (30.0, 5.0)).toDF("x", "y")
      .createOrReplaceTempView("t_wavg")
    val r = spark.sql(
      "SELECT cs_wavg(x, y) AS wavg, cs_wsum(x, y) AS wsum FROM t_wavg")
      .as[(Double, Double)].head()
    assert(math.abs(r._1 - (10 * 2 + 20 * 3 + 30 * 5) / 60.0) < 1e-12)
    assert(r._2 == 10 * 2 + 20 * 3 + 30 * 5)
  }

  test("cs_iif / cs_maxof / cs_minof / cs_hamming are native and correct") {
    GraftFunctions.register(spark)
    Seq((1L, 9L, 12L)).toDF("a", "b", "c").createOrReplaceTempView("t_sc")
    val r = spark.sql(
      """SELECT cs_iif(a < b, b, a) AS i, cs_maxof(b, c) AS mx,
         cs_minof(b, c) AS mn, cs_hamming(b, c) AS h FROM t_sc""")
      .as[(Long, Long, Long, Int)].head()
    assert(r == ((9L, 12L, 9L, 2))) // 9^12 = 5 (0101) → 2 differing bits
  }

  test("cs_cosine / cs_token_count / cs_md5_fp SQL equal the library forms") {
    GraftFunctions.register(spark)
    Seq((1L, Array(1.0, 0.0, 2.0), Array(2.0, 1.0, 4.0), "  Hello,  World 42 "))
      .toDF("id", "a", "b", "t").createOrReplaceTempView("t_cs3")
    val r = spark.sql(
      """SELECT cs_cosine(a, b) AS c, cs_token_count(t) AS n, cs_md5_fp(t) AS fp
         FROM t_cs3""").head()
    val expectCos = (1 * 2 + 0 * 1 + 2 * 4) /
      (math.sqrt(1 + 4) * math.sqrt(4 + 1 + 16))
    assert(math.abs(r.getDouble(0) - expectCos) < 1e-12)
    assert(r.getInt(1) == 3)
    val libFp = Seq(Tuple1("  Hello,  World 42 ")).toDF("t")
      .select(TextOps.fingerprintPortable(col("t"))).as[String].head()
    assert(r.getString(2) == libFp)
  }

  test("cs_dot (codegen ArrayDot) is bit-equal to the HOF dot") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(99)
    val rows = (1 to 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1), Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "vf", "vd")
    val cmp = df.select(
      expr("cs_dot(vf, vd)").as("fused"),
      graft.sim.Similarity.dot(col("vf").cast("array<double>"), col("vd")).as("hof"),
      expr("cs_dot(vf, vf)").as("fused_ff"),
      graft.sim.Similarity.dot(col("vf").cast("array<double>"),
        col("vf").cast("array<double>")).as("hof_ff"))
    assert(cmp.filter(col("fused") =!= col("hof") || col("fused_ff") =!= col("hof_ff")).isEmpty)
  }

  test("cs_dot propagates NULL elements like the HOF form; hash aggs reject decimals") {
    GraftFunctions.register(spark)
    // a NULL element poisons the dot to NULL, matching
    // aggregate(zip_with(...)) — not a garbage partial sum
    val r = spark.sql(
      "SELECT cs_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS d")
      .head()
    assert(r.isNullAt(0))
    // decimal values would ClassCastException at runtime in the primitive
    // buffer — reject at analysis instead
    val e = intercept[Exception] {
      Seq((BigDecimal(1), "g")).toDF("v", "g")
        .selectExpr("cs_hash_sum(v, g)").collect()
    }
    assert(e.getMessage.contains("non-decimal"))
  }

  test("cs_hash_* group keys longer than 64KB survive partial serialization") {
    GraftFunctions.register(spark)
    // writeUTF would abort at 65535 encoded bytes; compound || keys can
    // legitimately exceed that
    val big = "k" * 70000
    val out = Seq((1.0, big), (2.0, big)).toDF("v", "g")
      .repartition(2) // force a partial/final split with serialization
      .selectExpr("cs_hash_sum(v, g) AS m").head().getMap[String, Double](0)
    assert(out(big) == 3.0)
  }

  test("cs_fingerprint matches TextOps.fingerprint") {
    GraftFunctions.register(spark)
    val df = Seq("Hello, World!  Twice  spaced.").toDF("text")
    df.createOrReplaceTempView("t_fp")
    val sql = spark.sql("SELECT cs_fingerprint(text) AS fp FROM t_fp").as[Long].head()
    val dfv = df.select(TextOps.fingerprint(col("text")).as("fp")).as[Long].head()
    assert(sql == dfv)
  }

  test("cs_hash_* / cs_project_agg / cs_cut: the reference's series calculus") {
    GraftFunctions.register(spark)
    Seq(("A", "X", 1.0, true), ("A", "X", 2.0, true), ("B", "Y", 5.0, true),
      ("B", "Y", 7.0, false), ("C", "Z", 9.0, true))
      .toDF("g1", "g2", "x", "keep").createOrReplaceTempView("t_hash")
    val rows = spark.sql(
      """SELECT cs_cut(group_by, 'i1i1').f1 AS g1, cs_cut(group_by, 'i1i1').f2 AS g2,
         agg_val AS s
         FROM (SELECT cs_project_agg(cs_hash_sum(cs_filter(keep, x),
                                                 cs_filter(keep, g1||g2)))
               FROM t_hash)""")
      .as[(String, String, Double)].collect().toSet
    // the keep=false row is excluded entirely (its group key is NULL too)
    assert(rows == Set(("A", "X", 3.0), ("B", "Y", 5.0), ("C", "Z", 9.0)))
    val avgCntMinMax = spark.sql(
      """SELECT cs_hash_avg(x, g1) AS a, cs_hash_count(g1) AS c,
                cs_hash_min(x, g1) AS mn, cs_hash_max(x, g1) AS mx
         FROM t_hash""").head()
    assert(avgCntMinMax.getMap[String, Double](0)("A") == 1.5)
    assert(avgCntMinMax.getMap[String, Long](1)("B") == 2L)
    assert(avgCntMinMax.getMap[String, Double](2)("B") == 5.0)
    assert(avgCntMinMax.getMap[String, Double](3)("B") == 7.0)
  }

  test("array-series cs_diff / cs_ema / cs_rank / cs_top / cs_asof") {
    GraftFunctions.register(spark)
    Seq(Tuple1(Array(3.0, 1.0, 4.0, 1.0, 5.0))).toDF("xs")
      .createOrReplaceTempView("t_arr")
    val r = spark.sql(
      """SELECT cs_diff(xs) AS d, cs_ema(xs, 3) AS e, cs_rank(xs) AS rk,
                cs_top_max(xs, 2) AS tx, cs_top_min(xs, 2) AS tn,
                cs_asof(4L, array(1L, 3L, 7L), array(10.0D, 30.0D, 70.0D)) AS av,
                cs_asof(0L, array(1L, 3L, 7L), array(10.0D, 30.0D, 70.0D)) AS av0
         FROM t_arr""").head()
    assert(r.getSeq[Double](0) == Seq(0.0, -2.0, 3.0, -3.0, 4.0))
    val e = r.getSeq[Double](1)
    assert(e.head == 3.0 && math.abs(e(1) - (0.5 * 1.0 + 0.5 * 3.0)) < 1e-12)
    assert(r.getSeq[Long](2) == Seq(3L, 1L, 4L, 1L, 5L)) // ties share min rank
    assert(r.getSeq[Double](3) == Seq(5.0, 4.0))
    assert(r.getSeq[Double](4) == Seq(1.0, 1.0))
    assert(r.getDouble(5) == 30.0 && r.isNullAt(6))
  }

  test("native-alias cs_* names match their Spark-native twins") {
    GraftFunctions.register(spark)
    Seq((4.0, 2.0, 9L), (16.0, 3.0, 12L)).toDF("x", "y", "b")
      .createOrReplaceTempView("t_alias")
    val r = spark.sql(
      """SELECT cs_sqrt(x) AS sq, cs_pow(y, 2) AS p, cs_abs(cs_neg(x)) AS ab,
                cs_mod(b, 5) AS md, cs_gt(x, y) AS g
         FROM t_alias ORDER BY x""").collect()
    assert(r(0).getDouble(0) == 2.0 && r(0).getDouble(1) == 4.0 &&
      r(0).getDouble(2) == 4.0 && r(0).getLong(3) == 4L && r(0).getBoolean(4))
    val a = spark.sql(
      """SELECT cs_count(x) AS c, cs_sum(x) AS s, cs_avg(x) AS a,
                cs_var(x) AS v, cs_median(x) AS m, cs_all(b) AS ba, cs_any(b) AS bo
         FROM t_alias""").head()
    assert(a.getLong(0) == 2 && a.getDouble(1) == 20.0 && a.getDouble(2) == 10.0)
    assert(a.getDouble(3) == 36.0 && a.getDouble(4) == 10.0)
    assert(a.getLong(5) == (9L & 12L) && a.getLong(6) == (9L | 12L))
    val d = spark.sql(
      "SELECT cs_year(TIMESTAMP '2024-03-15 10:30:45') AS y, " +
        "cs_month(TIMESTAMP '2024-03-15 10:30:45') AS m, " +
        "cs_hour(TIMESTAMP '2024-03-15 10:30:45') AS h").head()
    assert(d.getInt(0) == 2024 && d.getInt(1) == 3 && d.getInt(2) == 10)
  }

  test("cs_ sketch family: rollup -> merge -> estimate in pure SQL") {
    GraftFunctions.register(spark)
    // 3 buckets x 60 distinct values with overlap across groups; exact
    // below the sketches' retained-sample sizes, so estimates are EXACT
    // u = (i/3) % 60 so EVERY group g0/g1/g2 sees all 60 distinct u's
    // (u = i % 60 would give each group only its residue class mod 3)
    Seq.tabulate(180)(i => (s"g${i % 3}", (i / 3) % 60, ((i / 3) % 60).toDouble))
      .toDF("g", "u", "v").createOrReplaceTempView("t_sk")
    val r = spark.sql(
      """WITH b AS (SELECT g, cs_dc_sketch(u) AS dc, cs_q_sketch(v) AS q,
                           cs_t_sketch(u) AS t
                    FROM t_sk GROUP BY g)
         SELECT cs_dc_estimate(cs_dc_merge(dc)) AS n,
                cs_q_quantile(cs_q_merge(q), 1.0) AS mx,
                cs_t_estimate(cs_t_intersect(
                  cs_t_merge(CASE WHEN g = 'g0' THEN t END),
                  cs_t_merge(CASE WHEN g = 'g1' THEN t END))) AS both
         FROM b""").head()
    assert(r.getLong(0) == 60)            // HLL exact at this cardinality
    assert(r.getDouble(1) == 59.0)        // KLL max = quantile 1.0
    assert(r.getLong(2) == 60L)           // g0 and g1 both see all 60 u's
    // difference: g0 minus g1 is empty on this data
    val d = spark.sql(
      """WITH b AS (SELECT g, cs_t_sketch(u) AS t FROM t_sk GROUP BY g)
         SELECT cs_t_estimate(cs_t_diff(
           cs_t_merge(CASE WHEN g = 'g0' THEN t END),
           cs_t_merge(CASE WHEN g = 'g1' THEN t END))) AS d FROM b""").head()
    assert(d.getLong(0) == 0L)
  }

  test("operators' direct cs_* expressions plan as the registered-name forms") {
    import graft.sqlext._
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.GraftPlanBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.Literal
    GraftFunctions.register(spark)
    val df = Seq((1L, "Some text, here!", Array(0.5, -1.0, 2.0), Array(3L, 5L),
      Array(1L, 2L, 3L))).toDF("id", "t", "v", "h", "ids")
      .withColumn("m", array(struct(col("id"), col("id").as("h64"))))
    def same(direct: DataFrame, byName: DataFrame): Unit =
      assert(direct.queryExecution.optimizedPlan.canonicalized ==
        byName.queryExecution.optimizedPlan.canonicalized,
        s"\n${direct.queryExecution.optimizedPlan}\nvs\n${byName.queryExecution.optimizedPlan}")
    def sameCol(direct: Column, name: String, args: Column*): Unit =
      same(df.select(direct), df.select(call_function(name, args: _*)))
    // the public Column operators, called as the library exposes them
    sameCol(graft.sim.Similarity.dotFused(col("v"), col("v")), "cs_dot", col("v"), col("v"))
    sameCol(TextOps.normalizedText(col("t")), "cs_norm_text", col("t"))
    sameCol(TextOps.hashedCharShingles(col("t"), 3), "cs_shingle_hashes", col("t"), lit(3))
    sameCol(graft.dedup.Dedup.simhash(col("h")), "cs_simhash", col("h"))
    sameCol(graft.sim.Similarity.rhpSignatures(col("v"), 3, 4, 2), "cs_rhp_sig",
      col("v"), lit(3), lit(4), lit(2))
    // the constructions the DataFrame operators make inline (Dedup's
    // banding and pair emits, TextOps' signal scans, FileBlooms' build)
    sameCol(column(MinHashSig(expression(col("h")), 16)), "cs_minhash", col("h"), lit(16))
    sameCol(column(BucketPairs(expression(col("ids")))), "cs_pairs", col("ids"))
    sameCol(column(HammingBucketPairs(expression(col("m")), Literal(7))),
      "cs_hamming_pairs", col("m"), lit(7))
    sameCol(column(QualitySig(expression(col("t")))), "cs_quality_sig", col("t"))
    sameCol(column(LangSig(expression(col("t")))), "cs_lang_sig", col("t"))
    sameCol(column(RepSig(expression(col("t")))), "cs_rep_sig", col("t"))
    same(df.groupBy(col("t")).agg(column(CsBloomAgg(expression(col("id")),
        expression(lit(64L)), expression(lit(0.01))).toAggregateExpression())),
      df.groupBy(col("t")).agg(call_function("cs_bloom_agg", col("id"), lit(64L), lit(0.01))))
  }

  test("GraftExtensions injects the functions at session build time") {
    // Force a NEW session over the shared context: getOrCreate would
    // otherwise return the active test session (without the extensions).
    val prev = spark // materialize the shared session first
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      // withExtensions (not the spark.sql.extensions config): the static
      // config is read from the SparkContext conf, which this reused
      // test context predates
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.sqlext.GraftExtensions())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val n = s2.sql("SELECT cs_maxof(1, 2) AS m").collect()(0).getInt(0)
      assert(n == 2)
      // the tpch.sql cs_* machinery end-to-end through the injected session
      val r = s2.sql(
        """SELECT cs_cut(group_by, 'i1i1').f1 AS a, agg_val AS n
           FROM (SELECT cs_project_agg(cs_hash_count(g))
                 FROM VALUES ('AX'), ('AX'), ('BY') AS t(g))""")
        .collect().map(x => (x.getString(0), x.getLong(1))).toSet
      assert(r == Set(("A", 2L), ("B", 1L)))
      // do NOT stop s2 — it shares the JVM-wide SparkContext
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(prev)
      org.apache.spark.sql.SparkSession.setActiveSession(prev)
    }
  }
}
