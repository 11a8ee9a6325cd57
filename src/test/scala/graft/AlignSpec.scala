package graft

import graft.join.Align
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Alignment joins (reference sql/spec.sql; func.c:4308-4801). */
class AlignSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val left = Seq(("k", 5L), ("k", 10L), ("k", 15L), ("k", 3L)).toDF("key", "ts")
  val right = Seq(("k", 4L, "a"), ("k", 10L, "b"), ("k", 20L, "c")).toDF("key", "ts", "v")

  test("rangeJoin equals the plain inequality join, boundaries inclusive") {
    // intervals crossing slot boundaries, ts exactly at start/end, a
    // no-key-match row, and an interval shorter than one slot
    val pts = Seq(("u", 10L), ("u", 100L), ("u", 250L), ("u", 9L),
      ("v", 100L), ("w", 100L)).toDF("key", "ts")
    val ivs = Seq(("u", 10L, 250L, "A"), ("u", 240L, 260L, "B"),
      ("v", 90L, 110L, "C"), ("x", 0L, 999L, "D")).toDF("key", "start", "end", "tag")
    for (bucket <- Seq(3L, 100L, 1000L)) {
      val got = Align.rangeJoin(pts, ivs, Seq("key"), "ts", "start", "end",
        bucket, Seq("tag")).select("key", "ts", "tag").collect()
        .map(_.toSeq).toSeq.sortBy(_.mkString("|"))
      val want = pts.join(ivs, Seq("key"))
        .filter(col("ts") >= col("start") && col("ts") <= col("end"))
        .select("key", "ts", "tag").collect()
        .map(_.toSeq).toSeq.sortBy(_.mkString("|"))
      assert(got == want, s"bucket=$bucket")
      assert(got.nonEmpty)
    }
  }

  test("rangeJoinAuto derives the bucket from the data, results unchanged") {
    val pts = Seq(("u", 10L), ("u", 100L), ("u", 250L), ("u", 9L),
      ("v", 100L), ("w", 100L)).toDF("key", "ts")
    val ivs = Seq(("u", 10L, 250L, "A"), ("u", 240L, 260L, "B"),
      ("v", 90L, 110L, "C"), ("x", 0L, 999L, "D")).toDF("key", "start", "end", "tag")
    val auto = Align.rangeJoinAuto(pts, ivs, Seq("key"), "ts", "start", "end",
      Seq("tag")).select("key", "ts", "tag").collect()
      .map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val fixed = Align.rangeJoin(pts, ivs, Seq("key"), "ts", "start", "end",
      100L, Seq("tag")).select("key", "ts", "tag").collect()
      .map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(auto == fixed && auto.nonEmpty)
    // degenerate inputs: empty right and zero-length intervals still work
    assert(Align.rangeJoinAuto(pts, ivs.limit(0), Seq("key"), "ts", "start",
      "end", Seq("tag")).count() == 0)
    val zeros = Seq(("u", 10L, 10L, "Z")).toDF("key", "start", "end", "tag")
    val z = Align.rangeJoinAuto(pts, zeros, Seq("key"), "ts", "start", "end",
      Seq("tag")).select("ts").as[Long].collect().toSeq
    assert(z == Seq(10L), "zero-length interval matches its own point")
  }

  test("windowJoin: per-row interval stats, empty windows, boundary ts") {
    // left k/10 has right rows at 7 (in, boundary −3), 13 (in, +3),
    // 14 (out); left k/50 has an EMPTY window → count 0, NULL stats;
    // left j/10 checks key isolation
    val l = Seq(("k", 10L), ("k", 50L), ("j", 10L)).toDF("key", "ts")
    val r = Seq(("k", 7L, 1.0), ("k", 13L, 5.0), ("k", 14L, 9.0),
      ("j", 12L, 2.0)).toDF("key", "ts", "v")
    for (bucket <- Seq(1L, 6L, 100L)) {
      val got = Align.windowJoin(l, r, Seq("key"), "ts", 3L, 3L, "v", bucket)
        .orderBy("key", "ts")
        .select("key", "ts", "win_count", "win_sum", "win_min", "win_max")
        .collect().map(_.toSeq).toSeq
      assert(got == Seq(
        Seq("j", 10L, 1L, 2.0, 2.0, 2.0),
        Seq("k", 10L, 2L, 6.0, 1.0, 5.0),
        Seq("k", 50L, 0L, null, null, null)), s"bucket=$bucket")
    }
  }

  test("windowJoin: duplicate left (keys, ts) rows get CORRECT stats, not doubled") {
    // two identical left rows: intervals dedupe before the range join, so
    // each duplicate receives the true window count (2), not 4
    val l = Seq(("k", 10L), ("k", 10L), ("k", 50L)).toDF("key", "ts")
    val r = Seq(("k", 7L, 1.0), ("k", 13L, 5.0)).toDF("key", "ts", "v")
    val got = Align.windowJoin(l, r, Seq("key"), "ts", 3L, 3L, "v")
      .orderBy("key", "ts")
      .select("key", "ts", "win_count", "win_sum").collect().map(_.toSeq).toSeq
    assert(got == Seq(
      Seq("k", 10L, 2L, 6.0), Seq("k", 10L, 2L, 6.0), Seq("k", 50L, 0L, null)))
  }

  test("windowJoin: reserved win_*/__-names in inputs fail loud") {
    val l = Seq(("k", 10L, 1L)).toDF("key", "ts", "win_count")
    val r = Seq(("k", 7L, 1.0)).toDF("key", "ts", "v")
    val e = intercept[IllegalArgumentException] {
      Align.windowJoin(l, r, Seq("key"), "ts", 3L, 3L, "v")
    }
    assert(e.getMessage.contains("win_count"))
    val r2 = Seq(("k", 7L, 1.0, 2.0)).toDF("key", "ts", "v", "__rv")
    val e2 = intercept[IllegalArgumentException] {
      Align.windowJoin(l.drop("win_count"), r2, Seq("key"), "ts", 3L, 3L, "v")
    }
    assert(e2.getMessage.contains("__rv"))
  }

  test("keyless STRING as-of carry keeps window-form NULL semantics") {
    // NULL right values are SKIPPED (last ignoreNulls), matching the
    // keyed window form — "b" at ts=6 survives the null row at ts=8
    val l = Seq(Tuple1(3L), Tuple1(5L), Tuple1(7L), Tuple1(9L)).toDF("ts")
    val r = Seq((5L, "a"), (6L, "b"), (8L, null: String)).toDF("ts", "v")
    val got = Align.asofJoin(l, r, Seq(), "ts", "v").orderBy("ts")
      .select("asof_value").collect().map(_.get(0)).toSeq
    assert(got == Seq(null, "a", "b", "b"))
    // directions × boundaries equal the KEYED window form on a constant
    // key (which carries strings natively) for a random frame
    val rnd = new scala.util.Random(7)
    val bl = Seq.fill(200)(rnd.nextInt(400).toLong).map(t => (t, 1)).toDF("ts", "k")
    val br = Seq.fill(150)(rnd.nextInt(400).toLong).distinct
      .map(t => (t, 1, s"s${t % 23}")).toDF("ts", "k", "v")
    for (dir <- Seq(-1, 1); incl <- Seq(true, false)) {
      val keyless = Align.asofJoinDir(bl.drop("k"), br.drop("k"), Seq(), "ts",
        "v", "av", direction = dir, inclusive = incl)
      val keyed = Align.asofJoinDir(bl, br, Seq("k"), "ts", "v", "av",
        direction = dir, inclusive = incl).drop("k")
      assert(keyless.orderBy("ts", "av").collect().toSeq ==
        keyed.orderBy("ts", "av").collect().toSeq, s"dir=$dir incl=$incl")
    }
    // decimals ride the same dictionary path exactly
    val rd = Seq((5L, BigDecimal("1.25")), (6L, BigDecimal("7.50"))).toDF("ts", "v")
    val gd = Align.asofJoin(l, rd, Seq(), "ts", "v").orderBy("ts")
      .select("asof_value").collect().map(_.get(0)).toSeq
    assert(gd.map(Option(_).map(_.toString).orNull) ==
      Seq(null, "1.250000000000000000", "7.500000000000000000",
        "7.500000000000000000"))
    // __dout, the retired dictionary route's name, is an ordinary column:
    // it joins and gives the same rows as a renamed one
    assert(Align.asofJoin(l.withColumn("__dout", col("ts")), r, Seq(), "ts", "v")
      .orderBy("ts").collect().toSeq ==
      Align.asofJoin(l.withColumn("dout", col("ts")), r, Seq(), "ts", "v")
        .orderBy("ts").collect().toSeq)
  }

  test("rangeJoin with no keys (pure range join)") {
    val pts = Seq(Tuple1(5L), Tuple1(50L)).toDF("ts")
    val ivs = Seq((0L, 10L, "lo"), (40L, 60L, "hi"), (100L, 200L, "none"))
      .toDF("start", "end", "tag")
    val got = Align.rangeJoin(pts, ivs, Seq(), "ts", "start", "end", 7L, Seq("tag"))
      .select("ts", "tag").as[(Long, String)].collect().toSeq.sorted
    assert(got == Seq((5L, "lo"), (50L, "hi")))
  }

  test("asofJoin: latest right value with ts <= left ts, inclusive") {
    val r = Align.asofJoin(left, right, Seq("key"), "ts", "v").orderBy("ts")
      .select("ts", "asof_value").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("-")))
    assert(r.toSeq == Seq((3L, "-"), (5L, "a"), (10L, "b"), (15L, "b")))
  }

  test("keyless carry is exact for int64 beyond 2^53") {
    // snowflake-scale long values and ns timestamps exceed a Double
    // lane's exact range; both the bare-value and the packed-struct
    // (asofJoinTol) carries must round-trip them bit-exactly
    val base = 1723500000000000000L
    val l = Seq(Tuple1(base + 1000L)).toDF("ts")
    val r = Seq((base + 999L, 900719925474099317L)).toDF("ts", "v")
    val got = Align.asofJoin(l, r, Seq(), "ts", "v")
      .head().getLong(1)
    assert(got == 900719925474099317L)
    // tolerance gate at the exact ±1 ns boundary deep in the long range
    assert(Align.asofJoinTol(l, r, Seq(), "ts", "v", lit(0L)).head().get(1) == null)
    assert(Align.asofJoinTol(l, r, Seq(), "ts", "v", lit(1L))
      .head().getLong(1) == 900719925474099317L)
  }

  test("asofJoin with no key partitions (global series)") {
    val l = Seq(Tuple1(7L)).toDF("ts")
    val r = Seq((5L, 1.5), (6L, 2.5)).toDF("ts", "v")
    val out = Align.asofJoin(l, r, Seq(), "ts", "v").head()
    assert(out.getDouble(out.fieldIndex("asof_value")) == 2.5)
  }

  test("stretch carries the first STRICTLY future right value (cs_stretch)") {
    // left ts [3,5,10,15] vs right [(4,a),(10,b),(20,c)]: ts=10 must skip
    // its own equal-ts row and take c (the reference's strict boundary)
    val r = Align.stretch(left, right, Seq("key"), "ts", "v", lit("FILL")).orderBy("ts")
      .select("stretch_value").as[String].collect().toSeq
    assert(r == Seq("a", "b", "c", "c"))
  }

  test("stretch reproduces the reference user-guide example") {
    // cs_stretch('{1..5}','{2,4}','{1.1,2.2}',1.0) = {1.1,2.2,2.2,1.0,1.0}
    val l = Seq.tabulate(5)(i => ("k", i + 1L)).toDF("key", "ts")
    val r = Seq(("k", 2L, 1.1), ("k", 4L, 2.2)).toDF("key", "ts", "v")
    val out = Align.stretch(l, r, Seq("key"), "ts", "v", lit(1.0)).orderBy("ts")
      .select("stretch_value").as[Double].collect().toSeq
    assert(out == Seq(1.1, 2.2, 2.2, 1.0, 1.0))
  }

  test("stretch0 emits the merged ts union with filler (cs_stretch0)") {
    // union {3,5,10,15} ∪ {4,10,20}: right values where right has the ts
    val r = Align.stretch0(left, right, Seq("key"), "ts", "v", lit("Z")).orderBy("ts")
      .select("ts", "stretch_value").as[(Long, String)].collect().toSeq
    assert(r == Seq((3L, "Z"), (4L, "a"), (5L, "Z"), (10L, "b"), (15L, "Z"), (20L, "c")))
  }

  test("stretch0: reserved working names __rv0/__has_r in inputs fail loud") {
    // a frame already carrying a working name would be silently shadowed
    // by stretch0's rename — the guard must refuse instead
    val bad = Seq(("k", 3L, "x")).toDF("key", "ts", "__rv0")
    val e = intercept[IllegalArgumentException] {
      Align.stretch0(bad, right, Seq("key"), "ts", "v", lit("Z"))
    }
    assert(e.getMessage.contains("__rv0"))
    val badR = Seq(("k", 3L, "x", 1)).toDF("key", "ts", "v", "__has_r")
    val e2 = intercept[IllegalArgumentException] {
      Align.stretch0(left, badR, Seq("key"), "ts", "v", lit("Z"))
    }
    assert(e2.getMessage.contains("__has_r"))
  }

  test("asofJoinNearest matches the reference user-guide example") {
    // cs_asof_join('{4,9}','{1,3,6,10}','{0.1,0.3,0.6,1.0}') = {0.3,1.0}:
    // left 9 matches the FUTURE ts 10; ties take the preceding element
    val l = Seq(("k", 4L), ("k", 9L)).toDF("key", "ts")
    val r = Seq(("k", 1L, 0.1), ("k", 3L, 0.3), ("k", 6L, 0.6), ("k", 10L, 1.0))
      .toDF("key", "ts", "v")
    val out = Align.asofJoinNearest(l, r, Seq("key"), "ts", "v").orderBy("ts")
      .select("asof_value").as[Double].collect().toSeq
    assert(out == Seq(0.3, 1.0))
    // equidistant: ts=5 between 4 and 6 → earlier (0.3-at-3? no: 4 and 6
    // are the neighbours) → the PRECEDING value wins
    val tie = Seq(("k", 5L)).toDF("key", "ts")
    val tr = Seq(("k", 4L, 40.0), ("k", 6L, 60.0)).toDF("key", "ts", "v")
    assert(Align.asofJoinNearest(tie, tr, Seq("key"), "ts", "v")
      .select("asof_value").as[Double].head() == 40.0)
  }

  test("asofJoinNearest keyless equals the keyed path on a single-key frame") {
    val l = Seq.tabulate(100)(i => ("k", i.toLong * 5 + 2)).toDF("key", "ts")
    val r = Seq.tabulate(40)(i => ("k", i.toLong * 11, i * 2.5)).toDF("key", "ts", "v")
    val keyed = Align.asofJoinNearest(l, r, Seq("key"), "ts", "v")
      .select("ts", "asof_value")
    val keyless = Align.asofJoinNearest(l.drop("key"), r.drop("key"), Seq(), "ts", "v")
      .select("ts", "asof_value")
    assert(keyed.exceptAll(keyless).isEmpty && keyless.exceptAll(keyed).isEmpty)
  }

  test("equiJoin keeps exact ts matches only (cs_join)") {
    val r = Align.equiJoin(left, right, Seq("key"), "ts", "v").select("ts", "join_value")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(r.toSeq == Seq((10L, "b")))
  }

  test("asofJoinTol: staleness bound + NULL right values don't mask real matches") {
    val l = Seq(("k", 30L), ("k", 100L)).toDF("key", "ts")
    val r = Seq(("k", 1L, Some(5.0)), ("k", 2L, None)).toDF("key", "ts", "v")
    val out = Align.asofJoinTol(l, r, Seq("key"), "ts", "v", lit(50L))
      .orderBy("ts").select("ts", "asof_value")
      .collect().map(x => (x.getLong(0), Option(x.get(1)))).toSeq
    // ts=30: NULL-valued row at ts=2 must not mask the real match at ts=1
    // (base as-of semantics); ts=100: match is 99 stale > 50 → no match
    assert(out == Seq((30L, Some(5.0)), (100L, None)))
  }

  test("bloomFilteredJoin equals the plain inner join (false positives removed)") {
    val big = (1L to 2000L).map(i => (i, s"r$i")).toDF("k", "payload")
    val build = Seq((5L, "a"), (500L, "b"), (1500L, "c")).toDF("k", "tag")
    val got = Align.bloomFilteredJoin(big, build, Seq("k"), expectedItems = 100)
      .select("k", "payload", "tag")
    val plain = big.join(build, Seq("k")).select("k", "payload", "tag")
    assert(got.exceptAll(plain).isEmpty && plain.exceptAll(got).isEmpty)
    assert(got.count() == 3)
  }

  test("keyless as-of scan equals the keyed path on a single-key frame") {
    // the keyed path is window-based, the keyless path is the ranged
    // carry-forward scan; on a constant-key frame they must agree exactly
    val l = Seq.tabulate(200)(i => ("k", i.toLong * 3 + 1)).toDF("key", "ts")
    val r = Seq.tabulate(80)(i => ("k", i.toLong * 7, i * 1.5)).toDF("key", "ts", "v")
    for (dir <- Seq(-1, 1)) {
      val keyed = Align.asofJoinDir(l, r, Seq("key"), "ts", "v", direction = dir)
        .select("ts", "asof_value")
      val keyless = Align.asofJoinDir(l.drop("key"), r.drop("key"), Seq(), "ts", "v", direction = dir)
        .select("ts", "asof_value")
      assert(keyed.exceptAll(keyless).isEmpty && keyless.exceptAll(keyed).isEmpty,
        s"direction $dir diverged")
    }
  }

  test("keyless as-of carries integral values exactly (pos carry)") {
    val l = Seq(10L, 20L, 3L).toDF("ts")
    val r = Seq((5L, 100L), (15L, 200L)).toDF("ts", "pos")
    val out = Align.asofJoinPos(l, r, Seq(), "ts").orderBy("ts")
      .select("right_pos").collect().map(x => Option(x.get(0))).toSeq
    assert(out == Seq(None, Some(100L), Some(200L)))
  }

  test("keyless asofJoinTol: struct carry with staleness bound") {
    val l = Seq(30L, 100L).toDF("ts")
    val r = Seq((1L, Some(5.0)), (2L, None)).toDF("ts", "v")
    val out = Align.asofJoinTol(l, r, Seq(), "ts", "v", lit(50L))
      .orderBy("ts").select("ts", "asof_value")
      .collect().map(x => (x.getLong(0), Option(x.get(1)))).toSeq
    // same contract as the keyed test: NULL right rows neither match nor
    // mask; staleness beyond tolerance drops the match
    assert(out == Seq((30L, Some(5.0)), (100L, None)))
  }

  test("bloomFilteredJoin handles string keys (UTF-8 hash path)") {
    val big = (1 to 500).map(i => (s"key$i", i)).toDF("k", "payload")
    val build = Seq(("key7", "a"), ("key300", "b")).toDF("k", "tag")
    val got = Align.bloomFilteredJoin(big, build, Seq("k"), expectedItems = 50)
      .select("k", "payload", "tag")
    val plain = big.join(build, Seq("k")).select("k", "payload", "tag")
    assert(got.exceptAll(plain).isEmpty && plain.exceptAll(got).isEmpty)
    assert(got.count() == 2)
  }

  test("unionMerge keeps duplicates (cs_union)") {
    val a = Seq(("k", 1L)).toDF("key", "ts")
    val b = Seq(("k", 1L), ("k", 2L)).toDF("key", "ts")
    assert(Align.unionMerge(a, b).count() == 3)
  }

  test("NULL timestamps: right null-ts rows never match, left null-ts rows get NULL") {
    // a right row with null ts would otherwise sort to one end of the
    // scan and seed the carry as if ts = ±infinity
    val l = Seq(("k", java.lang.Long.valueOf(5L)),
      ("k", null.asInstanceOf[java.lang.Long])).toDF("key", "ts")
    val r = Seq(("k", null.asInstanceOf[java.lang.Long], 99.0),
      ("k", java.lang.Long.valueOf(10L), 1.0)).toDF("key", "ts", "v")
    for (dir <- Seq(-1, 1)) {
      val keyed = Align.asofJoinDir(l, r, Seq("key"), "ts", "v", "av", dir)
        .orderBy(col("ts").asc_nulls_last).select("av")
        .collect().map(x => Option(x.get(0))).toSeq
      val keyless = Align.asofJoinDir(l.drop("key"), r.drop("key"), Seq(), "ts",
        "v", "av", dir)
        .orderBy(col("ts").asc_nulls_last).select("av")
        .collect().map(x => Option(x.get(0))).toSeq
      // dir=-1: ts=5 has no right ts <= 5 (the null row is NOT −infinity);
      // dir=+1: ts=5 matches the ts=10 row; null left ts matches nothing
      val want =
        if (dir == -1) Seq(None, None) else Seq(Some(1.0), None)
      assert(keyed == want, s"keyed dir=$dir")
      assert(keyless == want, s"keyless dir=$dir")
    }
    // keyless struct carry (asofJoinTol's packing): a null right ts used
    // to NPE inside the lane inject; now it is filtered before the scan
    val tl = Seq(Tuple1(30L)).toDF("ts")
    val tr = Seq((null.asInstanceOf[java.lang.Long], java.lang.Double.valueOf(5.0)),
      (java.lang.Long.valueOf(1L), java.lang.Double.valueOf(7.0))).toDF("ts", "v")
    val out = Align.asofJoinTol(tl, tr, Seq(), "ts", "v", lit(50L)).head()
    assert(out.getDouble(1) == 7.0)
  }

  test("outCol collisions fail loud across the join family") {
    // chaining two joins with the default output name used to silently
    // overwrite the first join's result
    val once = Align.asofJoin(left, right, Seq("key"), "ts", "v")
    val e = intercept[IllegalArgumentException] {
      Align.asofJoin(once, right, Seq("key"), "ts", "v")
    }
    assert(e.getMessage.contains("asof_value"))
    intercept[IllegalArgumentException] { // outCol == ts replaces the axis
      Align.asofJoin(left, right, Seq("key"), "ts", "v", outCol = "ts")
    }
    intercept[IllegalArgumentException] {
      Align.equiJoin(left.withColumn("join_value", lit(1)), right,
        Seq("key"), "ts", "v")
    }
    intercept[IllegalArgumentException] {
      Align.asofJoinNearest(once.withColumnRenamed("asof_value", "x"), right,
        Seq("key"), "ts", "v", outCol = "x")
    }
    intercept[IllegalArgumentException] {
      Align.asofJoinTol(once.withColumnRenamed("asof_value", "x"), right,
        Seq("key"), "ts", "v", lit(5L), outCol = "x")
    }
    intercept[IllegalArgumentException] { // stretch0 output is (keys, ts, out)
      Align.stretch0(left, right, Seq("key"), "ts", "v", lit("Z"), outCol = "ts")
    }
  }

  test("reserved-name guards fold case like Spark's resolution") {
    // spark.sql.caseSensitive=false resolves __PREVN to the working
    // __prevn, so an exact-match guard would let the clobbering through
    val l = left.withColumn("__PREVN", lit(1))
    val e = intercept[IllegalArgumentException] {
      Align.asofJoinNearest(l, right, Seq("key"), "ts", "v")
    }
    assert(e.getMessage.contains("__PREVN"))
    intercept[IllegalArgumentException] {
      Align.windowJoin(left.withColumn("WIN_COUNT", lit(1)), right,
        Seq("key"), "ts", 3L, 3L, "v")
    }
  }

  test("composition-layer working names are guarded (__slot/__salt/__prevn)") {
    intercept[IllegalArgumentException] {
      Align.rangeJoin(left.withColumn("__slot", lit(1)),
        Seq(("k", 1L, 2L, "t")).toDF("key", "start", "end", "tag"),
        Seq("key"), "ts", "start", "end", 10L, Seq("tag"))
    }
    intercept[IllegalArgumentException] {
      Align.saltedEquiJoin(left.withColumn("__salt", lit(1)), right,
        Seq("key"), salt = 4)
    }
    intercept[IllegalArgumentException] {
      Align.asofJoinNearest(left.withColumn("__prevn", lit(1)), right,
        Seq("key"), "ts", "v")
    }
  }

  test("retired working names (__pk/__rpos) join like any column") {
    // no code path of asofJoinTol or asofJoinPos uses them any more: a
    // frame carrying one gives the same rows as a renamed one
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit =
      assert(a.orderBy("ts").collect().toSeq == b.orderBy("ts").collect().toSeq)
    same(Align.asofJoinTol(left, right.withColumn("__pk", lit(1)),
        Seq("key"), "ts", "v", lit(5L)),
      Align.asofJoinTol(left, right.withColumn("pk", lit(1)),
        Seq("key"), "ts", "v", lit(5L)))
    val pos = right.withColumn("pos", col("ts") * 2)
    same(Align.asofJoinPos(left.withColumn("__rpos", col("ts")), pos, Seq("key"), "ts"),
      Align.asofJoinPos(left.withColumn("rpos", col("ts")), pos, Seq("key"), "ts"))
  }

  test("saltedEquiJoin: salt=0 rejected; byte-identical duplicates still join exactly") {
    intercept[IllegalArgumentException] {
      Align.saltedEquiJoin(left, right, Seq("key"), salt = 0)
    }
    // the hot key's rows are identical repeats — the per-row salt must
    // still produce exactly the plain join's multiset
    val dup = Seq.fill(64)(("k", 1L)).toDF("key", "ts")
    val small = Seq(("k", "payload")).toDF("key", "tag")
    val got = Align.saltedEquiJoin(dup, small, Seq("key"), salt = 8)
    val plain = dup.join(small, Seq("key"))
    assert(got.count() == 64 &&
      got.exceptAll(plain).isEmpty && plain.exceptAll(got).isEmpty)
  }

  test("rangeJoinAuto: a heavy-tail interval cannot explode the slot sequence") {
    // median length 1, one interval 5M long: an unclamped median bucket
    // would replicate that interval into 5M slot rows
    val pts = Seq(("u", 10L), ("u", 4999999L)).toDF("key", "ts")
    val ivs = (Seq(("u", 0L, 5000000L, "T")) ++
      (1 to 50).map(i => ("u", i * 10L, i * 10L + 1L, s"s$i")))
      .toDF("key", "start", "end", "tag")
    val got = Align.rangeJoinAuto(pts, ivs, Seq("key"), "ts", "start", "end",
      Seq("tag")).select("key", "ts", "tag").collect()
      .map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val want = pts.join(ivs, Seq("key"))
      .filter(col("ts") >= col("start") && col("ts") <= col("end"))
      .select("key", "ts", "tag").collect()
      .map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(got == want && got.nonEmpty)
  }

  test("windowJoin: NULL-valued right rows are not counted") {
    val l = Seq(("k", 10L)).toDF("key", "ts")
    val r = Seq(("k", 9L, Some(2.0)), ("k", 11L, None), ("k", 12L, None))
      .toDF("key", "ts", "v")
    val row = Align.windowJoin(l, r, Seq("key"), "ts", 3L, 3L, "v").head()
    val (cnt, sum, avg) = (row.getAs[Long]("win_count"),
      row.getAs[Double]("win_sum"), row.getAs[Double]("win_avg"))
    // count must agree with the other stats: avg == sum / count
    assert(cnt == 1L && sum == 2.0 && avg == 2.0)
    // an all-NULL window is indistinguishable from an empty one
    val r2 = Seq(("k", 9L, None: Option[Double])).toDF("key", "ts", "v")
    val row2 = Align.windowJoin(l, r2, Seq("key"), "ts", 3L, 3L, "v").head()
    assert(row2.getAs[Long]("win_count") == 0L && row2.isNullAt(row2.fieldIndex("win_sum")))
  }

  test("keyless asofJoinNearest and asofJoinTol carry string values") {
    val l = Seq(4L, 9L).toDF("ts")
    val r = Seq((1L, "a"), (3L, "b"), (6L, "c"), (10L, "d")).toDF("ts", "v")
    // reference guide example shape: ts 4 → nearest 3 ("b"), ts 9 → 10 ("d")
    val near = Align.asofJoinNearest(l, r, Seq(), "ts", "v").orderBy("ts")
      .select("asof_value").as[String].collect().toSeq
    assert(near == Seq("b", "d"))
    val keyed = Align.asofJoinNearest(l.withColumn("k", lit(1)),
      r.withColumn("k", lit(1)), Seq("k"), "ts", "v").orderBy("ts")
      .select("asof_value").as[String].collect().toSeq
    assert(near == keyed)
    val tol = Align.asofJoinTol(l, r, Seq(), "ts", "v", lit(1L)).orderBy("ts")
      .select("asof_value").collect().map(x => Option(x.get(0))).toSeq
    assert(tol == Seq(Some("b"), None))
  }
}
