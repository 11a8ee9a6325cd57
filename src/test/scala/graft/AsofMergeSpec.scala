package graft

import graft.join.Align
import graft.plans.{AsofMerge, AsofMergeJoinExec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom as-of plan node (graft.plans.AsofMergeJoin): semantics must
  * be bit-identical to AsofReference's union+window form on every shape,
  * and the physical plan must actually be the custom exec (not a fallback).
  */
class AsofMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val left = Seq(("k", 5L), ("k", 10L), ("k", 15L), ("k", 3L)).toDF("key", "ts")
  val right = Seq(("k", 4L, "a"), ("k", 10L, "b"), ("k", 20L, "c")).toDF("key", "ts", "v")

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map(v => if (v == null) "∅" else v)).toSeq
      .sortBy(_.mkString("|"))

  private def assertSameAsUnionForm(l: DataFrame, r: DataFrame, keys: Seq[String],
                                    inclusive: Boolean = true): Unit = {
    val merge = AsofMerge.asofJoin(l, r, keys, "ts", "v", inclusive = inclusive)
    val window = AsofReference.asofJoinDir(l, r, keys, "ts", "v", "asof_value",
      direction = -1, inclusive = inclusive)
    assert(rows(merge) == rows(window))
  }

  test("merge exec matches the union+window form (keyed, inclusive)") {
    assertSameAsUnionForm(left, right, Seq("key"))
  }

  test("merge exec matches the union+window form (strict boundary)") {
    assertSameAsUnionForm(left, right, Seq("key"), inclusive = false)
  }

  test("multi-key groups, keys missing on one side, empty right") {
    val l = Seq(("a", 1, 10L), ("a", 1, 20L), ("a", 2, 15L), ("b", 1, 5L))
      .toDF("k1", "k2", "ts")
    val r = Seq(("a", 1, 9L, "x"), ("a", 1, 15L, "y"), ("c", 9, 1L, "z"))
      .toDF("k1", "k2", "ts", "v")
    assertSameAsUnionForm(l, r, Seq("k1", "k2"))
    assertSameAsUnionForm(l, r.filter(lit(false)), Seq("k1", "k2"))
  }

  test("NULL keys group together and NULL right values carry, as in the window form") {
    val l = Seq((Some("k"), 10L), (None, 10L), (None, 20L)).toDF("key", "ts")
    val r = Seq((Some("k"), 5L, Some("a")), (None, 4L, Some("n")),
      (None, 15L, None: Option[String])).toDF("key", "ts", "v")
    // NOTE the window form's last(ignoreNulls) SKIPS null-valued right rows
    // while the merge carries them; align on non-null values only here and
    // assert the null-valued-row case directly below
    val merge = AsofMerge.asofJoin(l, r.filter(col("v").isNotNull), Seq("key"), "ts", "v")
    val window = AsofReference.asofJoin(l, r.filter(col("v").isNotNull), Seq("key"), "ts", "v")
    assert(rows(merge) == rows(window))
    // merge semantics: the latest right ROW wins even if its value is NULL —
    // (null,10) carries "n" (ts 4), (null,20) carries the NULL at ts 15
    val m2 = AsofMerge.asofJoin(l, r, Seq("key"), "ts", "v")
      .orderBy(col("key").asc_nulls_first, col("ts"))
      .select("asof_value").collect().map(_.get(0)).toSeq
    assert(m2 == Seq("n", null, "a"))
  }

  test("self-join from one scan (duplicate exprIds) resolves") {
    val ev = Seq(("u1", 1L, "signup", 7.0), ("u1", 5L, "purchase", 1.0),
      ("u2", 2L, "purchase", 2.0)).toDF("user_id", "ts", "event_type", "value")
    val l = ev.filter(col("event_type") === "purchase").select("user_id", "ts", "value")
    val r = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("value").as("v"))
    val out = AsofMerge.asofJoin(l, r, Seq("user_id"), "ts", "v").orderBy("user_id")
      .select("asof_value").collect().map(_.get(0)).toSeq
    assert(out == Seq(7.0, null))
  }

  test("keyless as-of routes to the parallel ranged scan (no single-task merge)") {
    val l = Seq(Tuple1(7L), Tuple1(3L), Tuple1(5L)).toDF("ts")
    val r = Seq((5L, 1.5), (6L, 2.5)).toDF("ts", "v")
    val df = AsofMerge.asofJoin(l, r, Seq(), "ts", "v")
    val out = df.orderBy("ts").select("asof_value").collect().map(_.get(0)).toSeq
    assert(out == Seq(null, 1.5, 2.5))
    // the whole point of the routing: the plan contains NO AsofMergeJoinExec
    // (which keyless would pin to one AllTuples task)
    assert(!df.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
      "keyless numeric as-of must not plan the single-task merge exec")
    // larger keyless frame cross-validated against Align's independent scan
    val rnd = new scala.util.Random(7)
    val bl = Seq.fill(500)(Tuple1(rnd.nextInt(1000).toLong)).toDF("ts")
    val br = Seq.fill(300)(rnd.nextInt(1000).toLong).distinct
      .map(t => (t, t.toDouble * 2)).toDF("ts", "v")
    assert(rows(AsofMerge.asofJoin(bl, br, Seq(), "ts", "v")) ==
      rows(AsofReference.asofJoin(bl, br, Seq(), "ts", "v")))
    // succeeding direction + strict boundary through the routed path
    for (dir <- Seq(-1, 1); incl <- Seq(true, false)) {
      val merge = AsofMerge.asofJoinDir(bl, br, Seq(), "ts",
        Seq("v"), Seq("asof_value"), direction = dir, inclusive = incl)
      val window = AsofReference.asofJoinDir(bl, br, Seq(), "ts", "v",
        "asof_value", direction = dir, inclusive = incl)
      assert(rows(merge) == rows(window), s"direction=$dir inclusive=$incl")
    }
  }

  test("keyless as-of with a NULL-valued right row carries the ROW (null out)") {
    // row-carry contract preserved by the ranged routing: the NULL value at
    // ts=6 masks the 1.5 at ts=5 for left ts=7 — same as the merge exec
    val l = Seq(Tuple1(7L), Tuple1(5L)).toDF("ts")
    val r = Seq((5L, Some(1.5)), (6L, None: Option[Double])).toDF("ts", "v")
    val out = AsofMerge.asofJoin(l, r, Seq(), "ts", "v")
      .orderBy("ts").select("asof_value").collect().map(_.get(0)).toSeq
    assert(out == Seq(1.5, null))
  }

  test("keyless as-of carries date and boolean values in one carried row") {
    val l = Seq(Tuple1(7L), Tuple1(4L)).toDF("ts")
    val r = Seq((5L, java.sql.Date.valueOf("2021-03-04"), true),
      (3L, java.sql.Date.valueOf("1969-12-25"), false)).toDF("ts", "d", "b")
    val out = AsofMerge.asofJoinDir(l, r, Seq(), "ts",
      Seq("d", "b"), Seq("ad", "ab"))
    assert(!out.queryExecution.executedPlan.toString.contains("AsofMergeJoin"))
    val rows2 = out.orderBy("ts").collect()
    assert(rows2(0).getDate(1) == java.sql.Date.valueOf("1969-12-25") &&
      rows2(0).getBoolean(2) == false)
    assert(rows2(1).getDate(1) == java.sql.Date.valueOf("2021-03-04") &&
      rows2(1).getBoolean(2) == true)
  }

  /** The serial single-task merge: the keyed exec over one constant key
    * added to both sides, so every row lands in one group and one task —
    * the ground truth the parallel keyless scan must match.
    */
  private def serialKeylessExec(l: DataFrame, r: DataFrame, ts: String,
                                v: String, direction: Int = -1,
                                inclusive: Boolean = true): DataFrame =
    AsofMerge.asofJoinDir(l.withColumn("__one", lit(0)), r.withColumn("__one", lit(0)),
      Seq("__one"), ts, Seq(v), Seq("asof_value"), direction, inclusive)
      .drop("__one")

  /** A value as text that tells NaN, -0.0 and byte contents apart, with
    * map entries sorted (`collect()` hands maps back unordered).
    */
  private def show(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.mkString("bytes[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${show(k)}->${show(x)}" }.sorted.mkString("map{", ",", "}")
    case r: org.apache.spark.sql.Row => r.toSeq.map(show).mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(show).mkString("[", ",", "]")
    case o => o.toString
  }

  test("keyless as-of carries every value type through the ranged scan, equal to the serial exec") {
    import java.time.{Duration, LocalDateTime}
    val l = Seq(3L, 5L, 6L, 7L, 9L, 11L).map(Tuple1(_)).toDF("ts")
    val cases: Seq[(String, DataFrame)] = Seq(
      "timestamp_ntz" -> Seq[(Long, Option[LocalDateTime])](
        (5L, Some(LocalDateTime.parse("2024-02-29T23:59:59.123456"))), (6L, None),
        (8L, Some(LocalDateTime.parse("1969-12-31T00:00:00.000001"))),
        (10L, Some(LocalDateTime.parse("0001-01-01T00:00:00")))).toDF("ts", "v"),
      "interval day to second" -> Seq[(Long, Option[Duration])](
        (5L, Some(Duration.ofSeconds(-90061L, 5000L))), (6L, None),
        (8L, Some(Duration.ofDays(3))), (10L, Some(Duration.ZERO))).toDF("ts", "v"),
      "binary" -> Seq[(Long, Array[Byte])]((5L, Array[Byte](0, -1, 7)), (6L, null),
        (8L, Array.empty[Byte]), (10L, Array[Byte](-128, 127))).toDF("ts", "v"),
      "decimal(38,18)" -> Seq[(Long, Option[BigDecimal])](
        (5L, Some(BigDecimal("12345678901234567890.123456789012345678"))), (6L, None),
        (8L, Some(BigDecimal("-0.000000000000000001"))), (10L, Some(BigDecimal(0))))
        .toDF("ts", "v"),
      "float NaN/-0.0" -> Seq[(Long, Option[Float])]((5L, Some(Float.NaN)), (6L, Some(-0.0f)),
        (8L, None), (10L, Some(0.0f))).toDF("ts", "v"),
      "struct<a: map<string,int>, b: double>" -> Seq[(Long, Map[String, Int], Option[Double], Boolean)](
        (5L, Map("x" -> 1, "y" -> 2), Some(-0.0), true), (6L, null, Some(Double.NaN), true),
        (8L, Map.empty, Some(1.5), false), (10L, Map.empty, None, true))
        .toDF("ts", "a", "b", "present")
        .select(col("ts"), when(col("present"), struct(col("a"), col("b"))).as("v")))
    assert(cases.map(_._2.schema("v").dataType.sql) == Seq("TIMESTAMP_NTZ",
      "INTERVAL DAY TO SECOND", "BINARY", "DECIMAL(38,18)", "FLOAT",
      "STRUCT<a: MAP<STRING, INT>, b: DOUBLE>"))
    def shown(df: DataFrame): Seq[String] =
      df.collect().map(r => r.toSeq.map(show).mkString("|")).toSeq.sorted
    for ((name, r) <- cases; dir <- Seq(-1, 1); incl <- Seq(true, false)) {
      val merge = AsofMerge.asofJoinDir(l, r, Seq(), "ts",
        Seq("v"), Seq("asof_value"), direction = dir, inclusive = incl)
      assert(!merge.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
        s"$name dir=$dir incl=$incl planned the single-task merge")
      val ground = serialKeylessExec(l, r, "ts", "v", direction = dir, inclusive = incl)
      assert(shown(merge) == shown(ground), s"$name dir=$dir incl=$incl")
    }
    // the carry copies Catalyst values: a round trip through Scala values
    // would hand back an eight-entry map in hash order and move dates in
    // the 1582 Julian/Gregorian gap
    val r = Seq(Tuple1(5L)).toDF("ts").select(col("ts"),
      map_from_arrays(array((1 to 8).map(i => lit(s"z$i")): _*),
        array((1 to 8).map(lit(_)): _*)).as("m"),
      lit("1582-10-10").cast("date").as("d"),
      lit("1582-10-10 01:02:03").cast("timestamp").as("t"))
    val out = AsofMerge.asofJoinDir(l, r, Seq(), "ts", Seq("m", "d", "t"), Seq("om", "od", "ot"))
    val got = out.filter(col("ts") === 7L).select(map_keys(col("om")), col("od").cast("string"),
      col("ot").cast("string")).head()
    assert(got.getSeq[String](0) == (1 to 8).map(i => s"z$i"))
    assert(got.getString(1) == "1582-10-10" && got.getString(2) == "1582-10-10 01:02:03")
  }

  test("keyless string as-of runs the carry scan (no single-task merge)") {
    val l = Seq(Tuple1(3L), Tuple1(5L), Tuple1(7L), Tuple1(9L)).toDF("ts")
    val r = Seq((5L, "a"), (6L, "b"), (8L, null: String)).toDF("ts", "v")
    val df = AsofMerge.asofJoin(l, r, Seq(), "ts", "v")
    assert(!df.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
      "string keyless as-of must run the ranged carry scan")
    // equality with the SERIAL EXEC on the same inputs — including the
    // row-carry contract: the NULL-valued right ROW at ts=8 masks "b"
    val serial = serialKeylessExec(l, r, "ts", "v")
    assert(serial.queryExecution.executedPlan.toString.contains("AsofMergeJoin"))
    assert(rows(df) == rows(serial))
    val out = df.orderBy("ts").select("asof_value").collect().map(_.get(0)).toSeq
    assert(out == Seq(null, "a", "b", null))
    // directions × boundaries on a larger frame vs the SERIAL EXEC (the
    // window form's keyless scan deliberately rejects strings, and the
    // exec is the semantics this routing replaces)
    val rnd = new scala.util.Random(11)
    val bl = Seq.fill(300)(Tuple1(rnd.nextInt(500).toLong)).toDF("ts")
    val br = Seq.fill(200)(rnd.nextInt(500).toLong).distinct
      .map(t => (t, s"s${t % 37}")).toDF("ts", "v")
    for (dir <- Seq(-1, 1); incl <- Seq(true, false)) {
      val merge = AsofMerge.asofJoinDir(bl, br, Seq(), "ts",
        Seq("v"), Seq("asof_value"), direction = dir, inclusive = incl)
      assert(!merge.queryExecution.executedPlan.toString.contains("AsofMergeJoin"))
      val ground = serialKeylessExec(bl, br, "ts", "v",
        direction = dir, inclusive = incl)
      assert(rows(merge) == rows(ground), s"string dir=$dir incl=$incl")
    }
  }

  test("keyless string carry: random frames WITH NULL values match the serial exec") {
    // the row-carry contract under fire: ~25% NULL-valued right rows on a
    // random frame, all four direction×boundary configs — the carry scan
    // must carry (and mask with) NULL rows exactly as the serial exec does
    val rnd = new scala.util.Random(13)
    val bl = Seq.fill(250)(Tuple1(rnd.nextInt(400).toLong)).toDF("ts")
    val br = Seq.fill(150)(rnd.nextInt(400).toLong).distinct
      .map(t => (t, if (t % 4 == 0) null else s"v${t % 31}")).toDF("ts", "v")
    for (dir <- Seq(-1, 1); incl <- Seq(true, false)) {
      val merge = AsofMerge.asofJoinDir(bl, br, Seq(), "ts",
        Seq("v"), Seq("asof_value"), direction = dir, inclusive = incl)
      assert(!merge.queryExecution.executedPlan.toString.contains("AsofMergeJoin"))
      val ground = serialKeylessExec(bl, br, "ts", "v",
        direction = dir, inclusive = incl)
      assert(rows(merge) == rows(ground), s"null-carry dir=$dir incl=$incl")
    }
  }

  test("keyless mixed value columns: string, decimal and double carry from one row") {
    val l = Seq(Tuple1(4L), Tuple1(7L)).toDF("ts")
    val r = Seq((3L, "y", BigDecimal("2.50"), 20.0),
      (5L, "x", BigDecimal("1.25"), 10.0)).toDF("ts", "s", "dec", "d")
    val out = AsofMerge.asofJoinDir(l, r, Seq(), "ts",
      Seq("s", "dec", "d"), Seq("as", "adec", "ad"))
    assert(!out.queryExecution.executedPlan.toString.contains("AsofMergeJoin"))
    val got = out.orderBy("ts").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDecimal(2), x.getDouble(3))).toSeq
    assert(got == Seq(
      (4L, "y", new java.math.BigDecimal("2.50").setScale(18), 20.0),
      (7L, "x", new java.math.BigDecimal("1.25").setScale(18), 10.0)))
  }

  test("keyless struct as-of carries the whole struct (no single-task merge)") {
    // struct of (double, long, string): the carry scan carries the whole
    // struct value — every field from the SAME row
    val l = Seq(Tuple1(3L), Tuple1(5L), Tuple1(7L), Tuple1(9L)).toDF("ts")
    val r = Seq[(Long, (java.lang.Double, java.lang.Long, String))](
      (5L, (1.5, 1L << 40 | 3L, "a")),     // int64 field past 2^32: carried exactly
      (6L, (null, 2L, null)),              // present struct, NULL fields inside
      (8L, null))                          // NULL struct row — must MASK ts=6
      .toDF("ts", "v")
    val df = AsofMerge.asofJoin(l, r, Seq(), "ts", "v")
    assert(!df.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
      "struct keyless as-of must run the ranged carry scan")
    val got = df.orderBy("ts").select("asof_value").collect().map(_.get(0))
    assert(got(0) == null, "no match yet")
    assert(got(1) == org.apache.spark.sql.Row(1.5, 1L << 40 | 3L, "a"))
    assert(got(2) == org.apache.spark.sql.Row(null, 2L, null),
      "present struct with NULL fields must surface as a struct, not NULL")
    assert(got(3) == null, "carried NULL struct must mask the older rows")
    // and the serial exec agrees on every row (row-carry ground truth)
    val serial = serialKeylessExec(l, r, "ts", "v")
    assert(serial.queryExecution.executedPlan.toString.contains("AsofMergeJoin"))
    assert(rows(df) == rows(serial))
  }

  test("keyless struct carry: random frames with NULL structs/fields match serial exec") {
    val rnd = new scala.util.Random(17)
    val l = Seq.fill(250)(Tuple1(rnd.nextInt(400).toLong)).toDF("ts")
    val r = Seq.fill(150)(rnd.nextInt(400).toLong).distinct.map { t =>
      val v =
        if (t % 5 == 0) null
        else (if (t % 3 == 0) null else java.lang.Double.valueOf(t * 0.5),
          if (t % 4 == 0) null else s"g${t % 23}")
      (t, v)
    }.toDF("ts", "v")
    for (dir <- Seq(-1, 1); incl <- Seq(true, false)) {
      val merge = AsofMerge.asofJoinDir(l, r, Seq(), "ts",
        Seq("v"), Seq("asof_value"), direction = dir, inclusive = incl)
      assert(!merge.queryExecution.executedPlan.toString.contains("AsofMergeJoin"))
      val ground = serialKeylessExec(l, r, "ts", "v",
        direction = dir, inclusive = incl)
      assert(rows(merge) == rows(ground), s"struct-carry dir=$dir incl=$incl")
    }
  }

  test("keyless ARRAY as-of runs the carry scan (no single-task merge)") {
    val l = Seq(Tuple1(3L), Tuple1(7L), Tuple1(9L)).toDF("ts")
    val r = Seq((5L, Seq(1, 2)), (6L, Seq(3)), (8L, null)).toDF("ts", "v")
    val df = AsofMerge.asofJoin(l, r, Seq(), "ts", "v")
    assert(!df.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
      "array keyless as-of must run the ranged carry scan")
    val got = df.orderBy("ts").collect()
    assert(got(0).isNullAt(1), "no match yet")
    assert(got(1).getSeq[Int](1) == Seq(3))
    assert(got(2).isNullAt(1), "carried NULL array row must mask ts=6 (row-carry)")
    // and the serial exec agrees on every row
    assert(rows(df) == rows(serialKeylessExec(l, r, "ts", "v")))
  }

  test("keyless struct-in-struct as-of carries the nested struct whole") {
    // a struct FIELD inside the struct value: the carry scan carries the
    // outer value whole, nested struct included
    val l = Seq(Tuple1(3L), Tuple1(7L), Tuple1(9L)).toDF("ts")
    val r = Seq(
      (5L, (1.5, (10L, "a"))),
      (6L, (2.5, (20L, "b"))),
      (8L, null.asInstanceOf[(Double, (Long, String))])).toDF("ts", "v")
    val df = AsofMerge.asofJoin(l, r, Seq(), "ts", "v")
    assert(!df.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
      "struct-in-struct keyless as-of must run the ranged carry scan")
    val got = df.orderBy("ts").select("asof_value").collect()
    assert(got(0).isNullAt(0))
    assert(got(1) == org.apache.spark.sql.Row(
      org.apache.spark.sql.Row(2.5, org.apache.spark.sql.Row(20L, "b"))))
    assert(got(2).isNullAt(0), "carried NULL struct row masks ts=6")
    assert(rows(df) == rows(serialKeylessExec(l, r, "ts", "v")))
  }

  test("keyless carry: DUPLICATE right ts values carry ONE whole tied row (ADVICE r17)") {
    // ties on the right ts are a legal arbitrary choice, but the carried
    // columns must come from the SAME row — the carry scan carries one
    // whole row, so a (value, tag) mix across the tied rows would mean it
    // split a tie between columns
    val l = Seq(Tuple1(5L), Tuple1(7L)).toDF("ts")
    val r = Seq(
      (5L, Map("a" -> 1), "rowA"),
      (5L, Map("b" -> 2), "rowB"), // duplicate ts — the tie under test
      (6L, Map("c" -> 3), "rowC")).toDF("ts", "v", "tag")
    val df = AsofMerge.asofJoinDir(l, r, Seq(), "ts",
      Seq("v", "tag"), Seq("ov", "otag"))
    assert(!df.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
      "map values must run the ranged carry scan")
    val got = df.orderBy("ts").collect()
    val m = got(0).getMap[String, Int](1)
    val tag = got(0).getString(2)
    assert((m == Map("a" -> 1) && tag == "rowA") ||
      (m == Map("b" -> 2) && tag == "rowB"),
      s"tie must carry ONE whole row, got ($m, $tag)")
    assert(got(1).getMap[String, Int](1) == Map("c" -> 3) &&
      got(1).getString(2) == "rowC")
  }

  test("keyless MAP as-of runs the carry scan (no single-task merge)") {
    val l = Seq(Tuple1(3L), Tuple1(5L), Tuple1(7L), Tuple1(9L), Tuple1(11L)).toDF("ts")
    val r = Seq(
      (5L, Map("b" -> 3, "a" -> 1)),        // multi-entry: pairing must hold
      (6L, Map.empty[String, Int]),         // EMPTY map ≠ NULL map
      (8L, null.asInstanceOf[Map[String, Int]]), // NULL map row — must MASK ts=6
      (10L, Map("z" -> 9))).toDF("ts", "v")
    val df = AsofMerge.asofJoin(l, r, Seq(), "ts", "v")
    assert(!df.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
      "map keyless as-of must run the ranged carry scan")
    val got = df.orderBy("ts").collect()
    assert(got(0).isNullAt(1), "no match yet")
    assert(got(1).getMap[String, Int](1) == Map("a" -> 1, "b" -> 3))
    assert(got(2).getMap[String, Int](1).isEmpty,
      "carried EMPTY map must round-trip as empty, not NULL")
    assert(got(3).isNullAt(1), "carried NULL map row must mask ts=6 (row-carry)")
    assert(got(4).getMap[String, Int](1) == Map("z" -> 9))
    // and the serial exec agrees on every row (maps canonicalized to
    // sorted entry arrays — Row.toSeq map ordering is representation-
    // dependent, entry arrays are not)
    def canon(d: DataFrame) =
      rows(d.withColumn("asof_value", array_sort(map_entries(col("asof_value")))))
    val serial = serialKeylessExec(l, r, "ts", "v")
    assert(serial.queryExecution.executedPlan.toString.contains("AsofMergeJoin"))
    assert(canon(df) == canon(serial))
  }

  test("keyless map carry: random frames with NULL/empty maps match the serial exec") {
    val rnd = new scala.util.Random(29)
    val l = Seq.fill(200)(Tuple1(rnd.nextInt(300).toLong)).toDF("ts")
    val r = Seq.fill(120)(rnd.nextInt(300).toLong).distinct.map { t =>
      val v: Map[String, Long] =
        if (t % 7 == 0) null
        else if (t % 5 == 0) Map.empty
        else Seq.tabulate((t % 3 + 1).toInt)(j => s"k${(t + j) % 11}" -> (t * j))
          .toMap
      (t, v)
    }.toDF("ts", "v")
    def canon(d: DataFrame) =
      rows(d.withColumn("asof_value", array_sort(map_entries(col("asof_value")))))
    for (dir <- Seq(-1, 1); incl <- Seq(true, false)) {
      val merge = AsofMerge.asofJoinDir(l, r, Seq(), "ts",
        Seq("v"), Seq("asof_value"), direction = dir, inclusive = incl)
      assert(!merge.queryExecution.executedPlan.toString.contains("AsofMergeJoin"))
      val ground = serialKeylessExec(l, r, "ts", "v",
        direction = dir, inclusive = incl)
      assert(canon(merge) == canon(ground), s"map-carry dir=$dir incl=$incl")
    }
  }

  test("keyless NESTED-map as-of runs the carry scan (no single-task merge)") {
    // map<k, map<k2, v2>>: the carry scan carries the whole map value
    // from its row — NULL inner maps, EMPTY inner maps and a NULL outer
    // map row each round-trip as they were stored
    val l = Seq(Tuple1(3L), Tuple1(5L), Tuple1(7L), Tuple1(9L), Tuple1(11L)).toDF("ts")
    val r = Seq(
      (5L, Map("a" -> Map("x" -> 1, "y" -> 2), "b" -> Map("z" -> 3))),
      (6L, Map("c" -> null.asInstanceOf[Map[String, Int]])), // NULL inner map
      (8L, null.asInstanceOf[Map[String, Map[String, Int]]]), // NULL outer — masks
      (10L, Map("d" -> Map.empty[String, Int]))) // EMPTY inner ≠ NULL inner
      .toDF("ts", "v")
    val df = AsofMerge.asofJoin(l, r, Seq(), "ts", "v")
    assert(!df.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
      "one-level nested maps must run the ranged carry scan")
    val got = df.orderBy("ts").collect()
    assert(got(0).isNullAt(1), "no match yet")
    assert(got(1).getMap[String, Map[String, Int]](1).toMap
      .map { case (k, v) => (k, Option(v).map(_.toMap).orNull) } ==
      Map("a" -> Map("x" -> 1, "y" -> 2), "b" -> Map("z" -> 3)))
    val atC = got(2).getMap[String, Map[String, Int]](1)
    assert(atC.keySet == Set("c") && atC("c") == null,
      s"carried NULL inner map must stay null, got $atC")
    assert(got(3).isNullAt(1), "carried NULL outer map row must mask ts=6")
    val atD = got(4).getMap[String, Map[String, Int]](1)
    assert(atD.keySet == Set("d") && atD("d") != null && atD("d").isEmpty,
      s"carried EMPTY inner map must round-trip empty, not null, got $atD")
  }

  test("keyless nested-map carry: random frames match the serial exec") {
    val rnd = new scala.util.Random(31)
    val l = Seq.fill(150)(rnd.nextInt(300).toLong).distinct
      .map(Tuple1(_)).toDF("ts")
    val r = Seq.fill(100)(rnd.nextInt(300).toLong).distinct.map { t =>
      val v: Map[String, Map[String, Long]] =
        if (t % 7 == 0) null
        else if (t % 5 == 0) Map.empty
        else Seq.tabulate((t % 3 + 1).toInt) { j =>
          val inner: Map[String, Long] =
            if ((t + j) % 4 == 0) null
            else if ((t + j) % 6 == 0) Map.empty
            else Seq.tabulate((j % 2 + 1))(m => s"i${(t + m) % 5}" -> (t * m)).toMap
          s"k${(t + j) % 11}" -> inner
        }.toMap
      (t, v)
    }.toDF("ts", "v")
    def pairs(d: DataFrame): Seq[(Long, Map[String, Map[String, Long]])] =
      d.orderBy("ts").collect().map { row =>
        val m = if (row.isNullAt(1)) null
        else row.getMap[String, scala.collection.Map[String, Long]](1).toMap
          .map { case (k, v) => (k, Option(v).map(_.toMap).orNull) }
        (row.getLong(0), m)
      }.toSeq
    for (dir <- Seq(-1, 1); incl <- Seq(true, false)) {
      val merge = AsofMerge.asofJoinDir(l, r, Seq(), "ts",
        Seq("v"), Seq("asof_value"), direction = dir, inclusive = incl)
      assert(!merge.queryExecution.executedPlan.toString.contains("AsofMergeJoin"))
      val ground = serialKeylessExec(l, r, "ts", "v",
        direction = dir, inclusive = incl)
      assert(pairs(merge) == pairs(ground), s"nested-map carry dir=$dir incl=$incl")
    }
  }

  test("maps at ANY depth/position run the carry scan") {
    // depth-3 maps, maps inside structs, and maps inside arrays are all
    // carried whole by the parallel carry scan; the serial exec is
    // reachable only by direct plan construction
    val l = Seq(Tuple1(7L)).toDF("ts")
    val r3 = Seq((5L, Map("a" -> Map("x" -> Map("deep" -> 1)))),
      (6L, Map("b" -> Map("y" -> Map("deep" -> 3)))))
      .toDF("ts", "v")
    val d3 = AsofMerge.asofJoin(l, r3, Seq(), "ts", "v")
    assert(!d3.queryExecution.executedPlan.toString.contains("AsofMergeJoin"),
      "three-level maps must run the carry scan, not the single merge")
    assert(d3.head().getMap[String, Map[String, Map[String, Int]]](1)
      .toMap.keySet == Set("b"))
    // map inside a struct
    val rs = Seq((5L, ("tag1", Map("a" -> 1))), (6L, ("tag2", Map("b" -> 2))))
      .toDF("ts", "v")
    val ds = AsofMerge.asofJoin(l, rs, Seq(), "ts", "v")
    assert(!ds.queryExecution.executedPlan.toString.contains("AsofMergeJoin"))
    val sRow = ds.head().getStruct(1)
    assert(sRow.getString(0) == "tag2" &&
      sRow.getMap[String, Int](1).toMap == Map("b" -> 2))
    // map inside an array (with a null element)
    val ra = Seq((5L, Seq(Map("a" -> 1), null)), (6L, Seq(Map("b" -> 2), null)))
      .toDF("ts", "v")
    val da = AsofMerge.asofJoin(l, ra, Seq(), "ts", "v")
    assert(!da.queryExecution.executedPlan.toString.contains("AsofMergeJoin"))
    val aGot = da.head().getSeq[scala.collection.Map[String, Int]](1)
    assert(aGot.size == 2 && aGot.head.toMap == Map("b" -> 2) && aGot(1) == null,
      s"array-of-maps carry (null element preserved), got $aGot")
  }

  test("keyless deep-map carry: random depth-3 frames match the serial exec") {
    val rnd = new scala.util.Random(47)
    val l = Seq.fill(120)(rnd.nextInt(250).toLong).distinct
      .map(Tuple1(_)).toDF("ts")
    val r = Seq.fill(80)(rnd.nextInt(250).toLong).distinct.map { t =>
      val v: Map[String, Map[String, Map[String, Long]]] =
        if (t % 7 == 0) null
        else if (t % 5 == 0) Map.empty
        else Seq.tabulate((t % 3 + 1).toInt) { j =>
          val mid: Map[String, Map[String, Long]] =
            if ((t + j) % 4 == 0) null
            else if ((t + j) % 6 == 0) Map.empty
            else Seq.tabulate(j % 2 + 1) { m =>
              val inner: Map[String, Long] =
                if ((t + j + m) % 5 == 0) null
                else Map(s"z${(t + m) % 3}" -> (t * m))
              s"i${(t + m) % 5}" -> inner
            }.toMap
          s"k${(t + j) % 11}" -> mid
        }.toMap
      (t, v)
    }.toDF("ts", "v")
    def deepCanon(m: scala.collection.Map[String, _]): Map[String, Any] =
      if (m == null) null
      else m.toMap.map { case (k, v) => (k, v match {
        case inner: scala.collection.Map[_, _] =>
          deepCanon(inner.asInstanceOf[scala.collection.Map[String, _]])
        case other => other
      }) }
    def pairs(d: DataFrame): Seq[(Long, Any)] =
      d.orderBy("ts").collect().map { row =>
        val m = if (row.isNullAt(1)) null
          else deepCanon(row.getMap[String, Any](1))
        (row.getLong(0), m)
      }.toSeq
    for (dir <- Seq(-1, 1); incl <- Seq(true, false)) {
      val merge = AsofMerge.asofJoinDir(l, r, Seq(), "ts",
        Seq("v"), Seq("asof_value"), direction = dir, inclusive = incl)
      assert(!merge.queryExecution.executedPlan.toString.contains("AsofMergeJoin"))
      val ground = serialKeylessExec(l, r, "ts", "v",
        direction = dir, inclusive = incl)
      assert(pairs(merge) == pairs(ground), s"deep-map carry dir=$dir incl=$incl")
    }
  }

  test("exec path demands equal key/ts types across sides (wrong-bytes hazard)") {
    // the merge orderings are built from the LEFT types and compare
    // right-projected rows too — an int/long mismatch would read the
    // wrong bytes and emit wrong carries silently
    val l = Seq((1, 1L, 1.0)).toDF("k", "ts", "v")
    val r = Seq((1L, 1L, 2.0)).toDF("k", "ts", "v")
    val e = intercept[IllegalArgumentException] {
      AsofMerge.asofJoin(l, r, Seq("k"), "ts", "v")
    }
    assert(e.getMessage.contains("type differs"))
    val l2 = Seq((1L, 1, 1.0)).toDF("k", "ts", "v")
    val e2 = intercept[IllegalArgumentException] {
      AsofMerge.asofJoin(l2, r, Seq("k"), "ts", "v")
    }
    assert(e2.getMessage.contains("type differs"))
  }

  test("outCols colliding with left columns fail loud (silent-replace hazard)") {
    val l = Seq((1L, 3.0)).toDF("ts", "price")
    val r = Seq((1L, 9.0)).toDF("ts", "price")
    val e = intercept[IllegalArgumentException] {
      AsofMerge.asofJoin(l, r, Seq(), "ts", "price", "price")
    }
    assert(e.getMessage.contains("already exist on"))
  }

  test("reserved-name guards match case-insensitively, like Spark resolution") {
    val l = Seq((7L, 1.0)).toDF("ts", "__SIDE")
    val r = Seq((5L, 2.0)).toDF("ts", "v")
    val e = intercept[IllegalArgumentException] {
      AsofMerge.asofJoin(l, r, Seq(), "ts", "v")
    }
    assert(e.getMessage.contains("__SIDE"))
  }

  test("asofJoinTol reserves its __mts staleness temp") {
    val l = Seq((7L, 1.0)).toDF("ts", "__mts")
    val r = Seq((5L, 2.0)).toDF("ts", "v")
    val e = intercept[IllegalArgumentException] {
      Align.asofJoinTol(l, r, Seq(), "ts", "v", lit(10L))
    }
    assert(e.getMessage.contains("__mts"))
  }

  test("reserved internal names in keyless inputs fail loud, not corrupt") {
    val l = Seq((7L, 1.0)).toDF("ts", "__side")
    val r = Seq((5L, 2.0)).toDF("ts", "v")
    val e = intercept[IllegalArgumentException] {
      AsofMerge.asofJoin(l, r, Seq(), "ts", "v")
    }
    assert(e.getMessage.contains("__side"))
    val l2 = Seq((7L, "z")).toDF("ts", "__v0")
    val e2 = intercept[IllegalArgumentException] {
      AsofMerge.asofJoin(l2, r, Seq(), "ts", "v")
    }
    assert(e2.getMessage.contains("__v0"))
  }

  test("keyless carry keeps int64 beyond 2^53 EXACTLY") {
    // ns-scale epoch timestamps (~1.7e18) and snowflake-style ids exceed
    // a Double's 2^53 integer range; the carry scan must round-trip them
    // bit-exactly — a carry through Double would be off by up to 128
    // here and flip the tolerance gate
    val base = 1723500000000000000L // ~2024 in epoch ns, > 2^53
    val l = Seq(Tuple1(base + 1000L), Tuple1(base + 5000L)).toDF("ts")
    val r = Seq((base + 999L, 900719925474099317L), (base + 4001L, 33L))
      .toDF("ts", "v")
    val out = AsofMerge.asofJoinDir(l, r, Seq(), "ts", Seq("v", "ts"),
      Seq("av", "mts")).orderBy("ts")
      .collect().map(x => (x.getLong(1), x.getLong(2))).toSeq
    assert(out == Seq((900719925474099317L, base + 999L), (33L, base + 4001L)))
    // and the tolerance gate built on that carry stays exact at the ±1 ns
    // boundary 1.7e18 deep into the long range: staleness is EXACTLY 1 ns
    // — tol=0 drops the match, tol=1 keeps it (a carry through Double would
    // see staleness 0±128 and flip both ways)
    val l1 = Seq(Tuple1(base + 1000L)).toDF("ts")
    val drop = Align.asofJoinTol(l1, r, Seq(), "ts", "v", lit(0L))
      .head().get(1)
    assert(drop == null)
    val keep = Align.asofJoinTol(l1, r, Seq(), "ts", "v", lit(1L))
      .head().getLong(1)
    assert(keep == 900719925474099317L)
  }

  test("keyless tolerance join (carried right ts) matches the window form") {
    val l = Seq(("k", 5L), ("k", 30L), ("k", 21L)).toDF("key", "ts")
    val r = Seq(("k", 4L, 1.0), ("k", 20L, 2.0)).toDF("key", "ts", "v")
    for (tol <- Seq(1L, 5L, 100L)) {
      val merge = Align.asofJoinTol(l, r, Seq(), "ts", "v", lit(tol))
      val window = AsofReference.asofJoinTol(l, r, Seq(), "ts", "v", lit(tol))
      assert(rows(merge) == rows(window), s"keyless tol=$tol")
    }
  }

  test("physical plan is AsofMergeJoinExec with one Exchange+Sort per side") {
    val df = AsofMerge.asofJoin(left, right, Seq("key"), "ts", "v")
    df.collect() // finalize any adaptive plan
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // QueryStageExec nodes are leaves; descend into their materialized plans
    def deepCollect(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect { case n => n } ++ p.collect {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q.plan
      }.flatMap(deepCollect)
    val all = deepCollect(plan)
    assert(all.count(_.isInstanceOf[AsofMergeJoinExec]) == 1,
      s"expected the custom exec in:\n$plan")
    assert(all.count(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]) == 2,
      s"expected a planted sort per side in:\n$plan")
  }

  test("direction +1 (succeeding) matches Align.asofJoinDir's mirror scan") {
    for (incl <- Seq(true, false)) {
      val merge = AsofMerge.asofJoinDir(left, right, Seq("key"), "ts",
        Seq("v"), Seq("asof_value"), direction = 1, inclusive = incl)
      val window = AsofReference.asofJoinDir(left, right, Seq("key"), "ts", "v",
        "asof_value", direction = 1, inclusive = incl)
      assert(rows(merge) == rows(window), s"inclusive=$incl")
    }
  }

  test("multi-column carry comes from ONE matched right row") {
    val r2 = right.withColumn("w", concat(col("v"), lit("!")))
    val out = AsofMerge.asofJoinDir(left, r2, Seq("key"), "ts",
      Seq("v", "w"), Seq("av", "aw")).orderBy("ts")
      .select("av", "aw").collect().map(r => (r.get(0), r.get(1))).toSeq
    assert(out == Seq((null, null), ("a", "a!"), ("b", "b!"), ("b", "b!")))
  }

  test("tolerance gate matches Align.asofJoinTol") {
    val l = Seq(("k", 5L), ("k", 30L), ("k", 21L)).toDF("key", "ts")
    val r = Seq(("k", 4L, 1.0), ("k", 20L, 2.0)).toDF("key", "ts", "v")
    for (tol <- Seq(1L, 5L, 100L)) {
      val merge = Align.asofJoinTol(l, r, Seq("key"), "ts", "v", lit(tol))
      val window = AsofReference.asofJoinTol(l, r, Seq("key"), "ts", "v", lit(tol))
      assert(rows(merge) == rows(window), s"tol=$tol")
    }
  }

  test("adversarial: child pre-partitioned on a SUBSET of the keys") {
    // hash(k1) satisfies ClusteredDistribution(k1,k2) for each child
    // individually; EnsureRequirements must still produce COMPATIBLE
    // partitionings across the two children (re-shuffle or accept both on
    // the subset) — results must equal the window form either way
    val l = Seq(("a", 1, 10L), ("a", 2, 10L), ("a", 1, 20L), ("b", 1, 5L),
      ("b", 2, 9L)).toDF("k1", "k2", "ts")
    val r = Seq(("a", 1, 9L, "x"), ("a", 2, 8L, "y"), ("b", 1, 4L, "z"),
      ("a", 1, 15L, "w")).toDF("k1", "k2", "ts", "v")
    val window = AsofReference.asofJoinDir(l, r, Seq("k1", "k2"), "ts", "v", "asof_value")
    // left only pre-partitioned on k1
    assert(rows(AsofMerge.asofJoin(l.repartition(col("k1")), r,
      Seq("k1", "k2"), "ts", "v")) == rows(window))
    // right only pre-partitioned on k1
    assert(rows(AsofMerge.asofJoin(l, r.repartition(col("k1")),
      Seq("k1", "k2"), "ts", "v")) == rows(window))
    // BOTH pre-partitioned on k1 (mutually compatible subset clustering):
    // the merge must handle several (k1,k2) groups per partition
    assert(rows(AsofMerge.asofJoin(l.repartition(4, col("k1")),
      r.repartition(4, col("k1")), Seq("k1", "k2"), "ts", "v")) == rows(window))
  }

  test("adversarial: children pre-partitioned with DIFFERENT partition counts") {
    val window = AsofReference.asofJoinDir(left, right, Seq("key"), "ts", "v", "asof_value")
    val merge = AsofMerge.asofJoin(
      left.repartition(3, col("key")), right.repartition(7, col("key")),
      Seq("key"), "ts", "v")
    assert(rows(merge) == rows(window))
    // and mismatched RANGE vs HASH pre-partitioning
    val merge2 = AsofMerge.asofJoin(
      left.repartitionByRange(5, col("ts")), right.repartition(2, col("key")),
      Seq("key"), "ts", "v")
    assert(rows(merge2) == rows(window))
  }

  test("adversarial: exec composed downstream of another keyed operator") {
    // the as-of output keeps the left child's partitioning/ordering; a
    // groupBy on the same key downstream must reuse it (or replant
    // correctly) and aggregate the right values
    val out = AsofMerge.asofJoin(left, right, Seq("key"), "ts", "v")
      .groupBy("key").agg(count(col("asof_value")).as("n_matched"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("k", 3L))) // ts 3 has no match; 5,10,15 do
    // and as-of stacked on as-of (second exec consumes the first's output
    // partitioning — the compatibility check runs between custom execs)
    val r2 = Seq(("k", 2L, 9.0), ("k", 12L, 11.0)).toDF("key", "ts", "w")
    val stacked = AsofMerge.asofJoin(
      AsofMerge.asofJoin(left, right, Seq("key"), "ts", "v"),
      r2, Seq("key"), "ts", "w", outCol = "asof_w")
    val windowStacked = AsofReference.asofJoin(
      AsofReference.asofJoin(left, right, Seq("key"), "ts", "v"),
      r2, Seq("key"), "ts", "w", outCol = "asof_w")
    assert(rows(stacked) == rows(windowStacked))
  }

  test("random cross-validation against the window form") {
    val rnd = new scala.util.Random(42)
    val l = Seq.fill(300)((s"k${rnd.nextInt(5)}", rnd.nextInt(100).toLong))
      .toDF("key", "ts")
    val r = Seq.fill(200)((s"k${rnd.nextInt(6)}", rnd.nextInt(100).toLong))
      .zipWithIndex.map { case ((k, t), i) => (k, t, i.toDouble) }
      .toDF("key", "ts", "v")
      // the window and merge forms only agree up to which equal-(key,ts)
      // right row wins; keep right (key,ts)-unique as the series contract does
      .groupBy("key", "ts").agg(max("v").as("v"))
    assertSameAsUnionForm(l, r, Seq("key"))
    assertSameAsUnionForm(l, r, Seq("key"), inclusive = false)
    // succeeding direction on the same random data
    for (incl <- Seq(true, false)) {
      val merge = AsofMerge.asofJoinDir(l, r, Seq("key"), "ts",
        Seq("v"), Seq("asof_value"), direction = 1, inclusive = incl)
      val window = AsofReference.asofJoinDir(l, r, Seq("key"), "ts", "v",
        "asof_value", direction = 1, inclusive = incl)
      assert(rows(merge) == rows(window), s"direction=+1 inclusive=$incl")
    }
  }
}
