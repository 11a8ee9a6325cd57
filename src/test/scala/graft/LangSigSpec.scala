package graft

import graft.text.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Frame-equality pins for the r18 cs_lang_sig fusion: langId (one fused
  * byte pass) must agree with TextOpsReference.langIdComposed (split + 4
  * filter-HOF passes, the test-side reference) on every adversarial input and
  * on the real corpus slice — the contract that keeps q_lang_id's oracle
  * hash unchanged across the switch.
  */
class LangSigSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def assertSame(df: DataFrame): Unit = {
    val fused = TextOps.langId(df, "text")
      .select(col("id"), col("lang_pred")).collect()
      .map(r => (r.get(0), r.get(1))).sortBy(_._1.toString)
    val composed = TextOpsReference.langIdComposed(df, "text")
      .select(col("id"), col("lang_pred")).collect()
      .map(r => (r.get(0), r.get(1))).sortBy(_._1.toString)
    assert(fused.sameElements(composed))
  }

  test("langId equals the composed form on adversarial inputs") {
    val rows: Seq[(Long, String)] = Seq(
      (1L, "the quick and brown fox is happy"),          // en
      (2L, "der Hund und die Katze, das ist gut"),       // de
      (3L, "le chat et la souris est dans les champs"),  // fr
      (4L, "el perro y la casa, es una los dos"),        // es
      (5L, "THE AND IS OF TO"),                          // case-folded en
      (6L, "la la la"),                                  // fr/es tie -> es (fold order)
      (7L, ""),                                          // empty -> und
      (8L, "   "),                                       // trim-empty -> und
      (9L, "\t\n\f\r"),                            // \s-only -> und
      (10L, null),                                       // null -> und
      (11L, "xyzzy qwert zzz"),                          // no markers -> und
      (12L, "the and"),                             // NBSP: ONE token, no hit
      (13L, "İS KELVİN the"),                            // unicode-lower traps
      (14L, "KELVIN to to"),                        // Kelvin sign K
      (15L, " the \t and\nisof\fto\r "),           // all 5 separators
      (16L, "深度 学习 the 模型 and"),                    // CJK + en markers
      (17L, "naïve théorie la"),                         // accents
      (18L, "thethe theand"),                            // substrings, no token hit
      (19L, "est est le la und und und"),                // de vs fr counts
      (20L, "𝕌𝕟 𝕚𝕤 is is")                               // astral + en
    )
    assertSame(rows.toDF("id", "text"))
  }

  test("langId equals the composed form on seeded unicode fuzz rows") {
    val rnd = new scala.util.Random(4177)
    val atoms = Vector("the", "and", "is", "of", "to", "der", "die", "und",
      "ist", "das", "le", "la", "et", "est", "les", "el", "es", "los",
      "una", "THE", "La", "EST", "naïve", "深度", "𝕌𝕟", "!?.", "x", "7")
    val seps = Vector(" ", "\t", "\n", "", "\f", "\r", "  ", " \t ", "\r\n",
      "")
    val rows = (0 until 300).map { i =>
      val n = rnd.nextInt(14)
      val sb = new StringBuilder
      if (rnd.nextBoolean()) sb.append(seps(rnd.nextInt(seps.size)))
      (0 until n).foreach { _ =>
        sb.append(atoms(rnd.nextInt(atoms.size)))
        sb.append(seps(rnd.nextInt(seps.size)))
      }
      (i.toLong, sb.toString)
    }
    assertSame(rows.toDF("id", "text"))
  }

  test("langId equals the composed form on the sf0.001 corpus") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = graft.io.Tables.read(spark, dir, "documents")
      .select(col("doc_id").as("id"), col("text"))
    assertSame(docs)
  }

  test("langId plan carries no interpreted filter lambda (one fused pass)") {
    // non-foldable source — a literal frame constant-folds to a
    // LocalTableScan and leaves nothing to pin
    val src = spark.range(3).select(col("id"),
      concat(lit("the word "), col("id").cast("string")).as("text"))
    val df = TextOps.langId(src, "text")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("filter("), s"expected no filter HOF:\n$plan")
    assert(!plan.contains("lambdafunction"), s"expected no lambda:\n$plan")
    assert(plan.contains("cs_lang_sig"))
  }
}
