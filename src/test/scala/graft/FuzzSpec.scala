package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.sys.process._

/** Randomized differential fuzzing inside `sbt test`: N random operator
  * pipelines (graft.fuzz.FuzzGen) executed on Spark and diffed against
  * DuckDB running the rendered SQL via tools/check.py — the exact
  * comparator the round driver's correctness gate uses.
  *
  * Replayable: the failure message and the info line carry the seed base;
  * `N=1 SEED=<seed> bash tools/run_fuzz.sh` replays any single failing
  * program (its full text is in the run dir's programs.txt). Tunables:
  * GRAFT_FUZZ_N (default 60), GRAFT_FUZZ_SEED (default 8000 — a fixed
  * base so CI runs are deterministic; bump it to explore new programs).
  */
class FuzzSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def duckdbAvailable: Boolean =
    scala.util.Try(Seq("python3", "-c", "import duckdb").! == 0).getOrElse(false)

  private def runBatch(n: Int, seed0: Long,
                       base: Option[String] = None): Unit = {
    val out = java.nio.file.Files.createTempDirectory("graft_fuzz").toString
    val crashes = graft.fuzz.Fuzz.runPrograms(spark, sfDir, out, n, seed0, base)
    assert(crashes.isEmpty, s"Spark-side crashes (replay: N=1 SEED=<seed> " +
      s"bash tools/run_fuzz.sh):\n" +
      crashes.map { case (s, d, e) => s"  seed=$s $d\n    $e" }.mkString("\n"))
    val buf = new StringBuilder
    // forked tests run in the build's base directory, so this checkout's
    // tools/check.py is the one that runs
    val code = Process(Seq("python3", "tools/check.py", sfDir, out)) !
      ProcessLogger(l => buf.append(l).append('\n'))
    val fails = buf.result().linesIterator.filter(_.startsWith("FAIL")).toVector
    val progs = scala.io.Source.fromFile(s"$out/programs.txt").getLines()
      .map { l => val Array(k, v) = l.split(": ", 2); k -> v }.toMap
    assert(code == 0 && fails.isEmpty,
      s"differential mismatches (seeds $seed0..${seed0 + n - 1}; dir $out):\n" +
        fails.map { f =>
          val name = f.split("[ :]")(1)
          s"  $f\n    program: ${progs.getOrElse(name, "?")}"
        }.mkString("\n"))
  }

  test("random operator pipelines match DuckDB (differential fuzz)") {
    assume(duckdbAvailable, "python3+duckdb oracle not available")
    val n = sys.env.get("GRAFT_FUZZ_N").map(_.toInt).getOrElse(60)
    val seed0 = sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(8000L)
    info(s"fuzzing $n programs from seed $seed0 " +
      s"(replay one: N=1 SEED=<seed> bash tools/run_fuzz.sh)")
    runBatch(n, seed0)
  }

  test("cs_* SQL-surface pipelines match DuckDB (differential fuzz)") {
    // VERDICT r15 item 5: the 200-name registered SQL surface was
    // exercised only by fixed queries and replay suites — this leg packs
    // rows into series arrays, chains random cs_* calculus names, and
    // diffs the exploded result against the window-SQL twin. (A quarter
    // of the seeds route to the align grammar — genCs's seed%4 split.)
    assume(duckdbAvailable, "python3+duckdb oracle not available")
    val n = sys.env.get("GRAFT_FUZZ_CS_N").map(_.toInt).getOrElse(25)
    val seed0 = sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(8000L)
    info(s"cs-leg: $n programs from seed $seed0 " +
      s"(replay one: N=1 SEED=<seed> BASE=cs bash tools/run_fuzz.sh)")
    runBatch(n, seed0, Some("cs"))
  }

  test("cs align family matches DuckDB (differential fuzz)") {
    // VERDICT r16 item 4: cs_asof_join(_pos) / cs_join(_pos) /
    // cs_stretch / cs_stretch0 — the hardest semantics in the surface —
    // get their own forced leg: two per-key deduped series split by
    // event_id parity, a random align op, and a DuckDB twin rendering
    // each op's documented contract (nearest pick with earlier-tie,
    // exact one-to-one join, strictly-greater stretch, FULL JOIN union).
    assume(duckdbAvailable, "python3+duckdb oracle not available")
    val n = sys.env.get("GRAFT_FUZZ_ALIGN_N").map(_.toInt).getOrElse(10)
    val seed0 = sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(8000L)
    info(s"align-leg: $n programs from seed $seed0 " +
      s"(replay one: N=1 SEED=<seed> BASE=csalign bash tools/run_fuzz.sh)")
    runBatch(n, seed0, Some("csalign"))
  }

  // ---- fuzz-found regressions, pinned as DIRECT shape tests -------------
  // Seed replays drift as the grammar grows (pool sizes shift every draw
  // after them), so each bug is pinned by reconstructing its minimal
  // trigger explicitly. Original finding seeds noted for archaeology.

  test("fuzz regression: keyless windowAgg w_dev_ref is 0.0 on an all-NULL frame") {
    // Found by seeds 8026/8059 (pre-expansion grammar): the keyless scan
    // emitted NULL where the keyed path's sqrt(greatest(refVar, 0.0))
    // yields 0.0 (greatest skips NULLs).
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((0L, Option.empty[Double]), (1L, Option.empty[Double]),
      (2L, Some(5.0))).toDF("pos", "value")
    val keyless = graft.window.Moving.windowAgg(df, Seq(), "value", 2)
      .orderBy("pos").select("w_dev_ref").collect()
    assert(keyless(0).getDouble(0) == 0.0, "all-NULL warm-up frame")
    assert(keyless(1).getDouble(0) == 0.0, "still no non-null value")
    // frame {NULL, 5.0} with the FIXED-n divisor: (25 - 25/2)/2 = 6.25
    assert(keyless(2).getDouble(0) == 2.5, "one non-null value in an n=2 ref frame")
    val keyed = graft.window.Moving.windowAgg(
      df.withColumn("k", lit("a")), Seq("k"), "value", 2)
      .orderBy("pos").select("w_dev_ref").collect()
    assert(keyed.map(_.get(0)).toSeq == keyless.map(_.get(0)).toSeq,
      "keyless scan must agree with the keyed window formula")
  }

  test("fuzz regression: reverse of a non-dense series renumbers densely") {
    // Found by seeds 8047/8058 (equiJoin/span → reverse → gridAgg): the
    // old cnt-1-pos relabel emitted NEGATIVE positions for non-dense
    // input pos, which leaked into downstream grid buckets.
    import spark.implicits._
    val sparse = Seq((10L, 1.0), (500L, 2.0), (900L, 3.0)).toDF("pos", "value")
    for (keys <- Seq(Seq.empty[String], Seq("k"))) {
      val in = if (keys.isEmpty) sparse
               else sparse.withColumn("k", org.apache.spark.sql.functions.lit("a"))
      val r = graft.series.Series.reverse(in, keys)
      val got = r.orderBy("pos").select("pos", "value").collect()
        .map(x => (x.getLong(0), x.getDouble(1))).toSeq
      assert(got == Seq((0L, 3.0), (1L, 2.0), (2L, 1.0)),
        s"dense reversed ordinals for keys=$keys, got $got")
    }
  }

  test("fuzz regression: keyless extrema output schema equals the keyed path") {
    // Found by seed 5006 (keys=<none> | extrema | thin): the keyless path
    // leaked the internal diff's __d sign column.
    import spark.implicits._
    val df = Seq((0L, 1.0), (1L, 3.0), (2L, 2.0), (3L, 4.0))
      .toDF("pos", "value")
    val keyless = graft.analytics.Analytics.extrema(df, Seq(), "value")
    assert(keyless.columns.toSet == Set("pos", "value"),
      s"no helper columns may leak, got ${keyless.columns.toSeq}")
    assert(keyless.select("pos").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }
}
