package graft

import graft.join.Align
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** Every `Align` as-of entry equals [[AsofReference]]'s union + window
  * form, keyed and keyless, for double, int64 beyond 2^53, string, decimal
  * and struct-of-numerics values. The fixture holds NULL values, NULL ts
  * on both sides and NULL keys. Right ts values are unique across keys,
  * so which of several tied right rows wins never enters a comparison.
  */
class AsofEquivSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Big = 1L << 60

  /** A value type: its expression over the fixture's index `i` (NULL
    * where `i` is NULL) and a same-typed stretch filler.
    */
  private case class VType(name: String, value: Column, filler: Column)

  private val vtypes = Seq(
    VType("double", col("i") * 1.5, lit(-1.0)),
    VType("long", lit(Big) + col("i") * 3 + 1, lit(-1L)),
    VType("string", concat(lit("s"), col("i")), lit("Z")),
    VType("decimal", (col("i").cast(DecimalType(20, 6)) / 7).cast(DecimalType(20, 6)),
      lit(BigDecimal("-1")).cast(DecimalType(20, 6))),
    VType("struct",
      when(col("i").isNotNull,
        struct((col("i") * 0.5).as("x"), (lit(Big) + col("i")).as("y"))),
      struct(lit(-1.0).as("x"), lit(-1L).as("y"))))

  /** Left: duplicated ts, a payload column, NULL keys and NULL ts, ts
    * before and after every right ts, and a key ("c") the right side
    * lacks.
    */
  private lazy val leftBase: DataFrame = {
    val rnd = new scala.util.Random(8)
    Seq.tabulate(60) { n =>
      val k = rnd.nextInt(4) match {
        case 0 => None; case 1 => Some("a"); case 2 => Some("b"); case _ => Some("c")
      }
      val t = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(110).toLong - 5)
      (k, t, n.toDouble)
    }.toDF("key", "ts", "lv")
  }

  /** Right: unique non-NULL ts, NULL keys, a key ("d") the left side
    * lacks, NULL values (`i`, and so `pos`, NULL on about one row in six)
    * and three NULL-ts rows with values.
    */
  private lazy val rightBase: DataFrame = {
    val rnd = new scala.util.Random(9)
    val tss = rnd.shuffle((0L until 100L).toList).take(35).map(Option(_)) ++
      Seq(None, None, None)
    tss.zipWithIndex.map { case (t, n) =>
      val k = rnd.nextInt(4) match {
        case 0 => None; case 1 => Some("a"); case 2 => Some("b"); case _ => Some("d")
      }
      val i = if (rnd.nextInt(6) == 0) None else Some(n.toLong)
      (k, t, i, i.map(_ + 1000L))
    }.toDF("key", "ts", "i", "pos")
  }

  private def frames(vt: VType, keyed: Boolean): (DataFrame, DataFrame) = {
    val r = rightBase.select(col("key"), col("ts"), vt.value.as("v"), col("pos"))
    if (keyed) (leftBase, r) else (leftBase.drop("key"), r.drop("key"))
  }

  private type Form = (DataFrame, DataFrame, Seq[String], Column) => DataFrame

  /** An entry point and its reference: (left, right, keys, filler) => out. */
  private case class Entry(name: String, align: Form, ref: Form,
                           packsStruct: Boolean = false)

  private val entries: Seq[Entry] =
    (for (d <- Seq(-1, 1); incl <- Seq(true, false)) yield
      Entry(s"asofJoinDir(direction=$d, inclusive=$incl)",
        (l, r, k, _) => Align.asofJoinDir(l, r, k, "ts", "v", "out", d, incl),
        (l, r, k, _) => AsofReference.asofJoinDir(l, r, k, "ts", "v", "out", d, incl))) ++
    Seq(
      Entry("asofJoin",
        (l, r, k, _) => Align.asofJoin(l, r, k, "ts", "v", "out"),
        (l, r, k, _) => AsofReference.asofJoin(l, r, k, "ts", "v", "out")),
      Entry("asofJoinPos",
        (l, r, k, _) => Align.asofJoinPos(l, r, k, "ts"),
        (l, r, k, _) => AsofReference.asofJoinPos(l, r, k, "ts")),
      Entry("asofJoinTol(tolerance=0)",
        (l, r, k, _) => Align.asofJoinTol(l, r, k, "ts", "v", lit(0L), "out"),
        (l, r, k, _) => AsofReference.asofJoinTol(l, r, k, "ts", "v", lit(0L), "out"),
        packsStruct = true),
      Entry("asofJoinTol(tolerance=6)",
        (l, r, k, _) => Align.asofJoinTol(l, r, k, "ts", "v", lit(6L), "out"),
        (l, r, k, _) => AsofReference.asofJoinTol(l, r, k, "ts", "v", lit(6L), "out"),
        packsStruct = true),
      Entry("asofJoinNearest",
        (l, r, k, _) => Align.asofJoinNearest(l, r, k, "ts", "v", "out"),
        (l, r, k, _) => AsofReference.asofJoinNearest(l, r, k, "ts", "v", "out"),
        packsStruct = true),
      Entry("stretch",
        (l, r, k, f) => Align.stretch(l, r, k, "ts", "v", f, "out"),
        (l, r, k, f) => AsofReference.stretch(l, r, k, "ts", "v", f, "out")))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map(v => if (v == null) "∅" else v)).toSeq
      .sortBy(_.mkString("|"))

  /** Names and types; nested field nullability is not compared. */
  private def fields(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.map(f => (f.name, f.dataType.catalogString)).toSeq

  private def assertSame(e: Entry, keyed: Boolean, vt: VType): Unit = {
    val keys = if (keyed) Seq("key") else Seq()
    val (l, r) = frames(vt, keyed)
    val got = e.align(l, r, keys, vt.filler)
    val want = e.ref(l, r, keys, vt.filler)
    assert(fields(got) == fields(want), s"schema, ${vt.name}")
    val wantRows = rows(want)
    assert(wantRows.exists(_.last != "∅"), s"no match at all, ${vt.name}")
    assert(rows(got) == wantRows, s"rows, ${vt.name}")
  }

  test("the fixture holds NULL values, NULL ts on both sides and NULL keys") {
    assert(leftBase.filter(col("ts").isNull).count() > 0)
    assert(leftBase.filter(col("key").isNull).count() > 0)
    assert(rightBase.filter(col("ts").isNull && col("i").isNotNull).count() == 3)
    assert(rightBase.filter(col("ts").isNotNull && col("i").isNull).count() > 0)
    assert(rightBase.filter(col("key").isNull).count() > 0)
  }

  // keyless tolerance and nearest joins over struct values are pinned
  // separately below: a (value, ts) struct packing of a struct value was
  // no form the keyless lane scan could carry
  for (e <- entries; keyed <- Seq(true, false))
    test(s"${e.name} ${if (keyed) "keyed" else "keyless"} equals the union + window reference") {
      for (vt <- vtypes if keyed || !(e.packsStruct && vt.name == "struct"))
        assertSame(e, keyed, vt)
    }

  test("keyless tolerance and nearest joins carry struct values") {
    for (e <- entries if e.packsStruct)
      withClue(e.name) { assertSame(e, keyed = false, vtypes.find(_.name == "struct").get) }
  }
}
