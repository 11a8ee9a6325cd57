package graft

import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bit-compatibility pins for the r17 fused text-signal kernels:
  * the fused qualitySignals / repetitionSignals (cs_quality_sig /
  * cs_rep_sig single-pass counters) must produce FRAMES equal to the
  * composed regex/lambda forms they replaced — on adversarial inputs
  * (phantom-empty tokens from tab/newline boundaries, unicode, empties,
  * repeated tokens/bigrams, nulls) and on a real corpus slice. These
  * equalities are what keep q_quality / q_repetition / q_curation oracle
  * hashes unchanged across the switch.
  */
class TextSignalsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val adversarial: Seq[(Long, String)] = Seq(
    "The quick brown fox jumps over the lazy dog",
    "the the the the the",                        // hot word + hot bigram
    "a b a b a b a b",                            // hot bigram, 2 distinct
    "  ---  punct   only?!...  ",
    "",
    "   ",                                        // spaces only: trim-empty
    "\t",                                         // tab only: NOT trim-empty
    "\ta\tb\t",                                   // phantom empty boundary tokens
    "a \t b\r\nc",                                // mixed separators, one run each
    "UPPER lower 0123456789",
    "MiXeD CaSe THE AnD oF",                      // stopwords via case folding
    "that4 it5 for6 in7",                         // digits stripped by [^A-Za-z]
    "tabs\tand\nnewlines\r\nmixed",
    "深度学习模型 mixed with ASCII words 你好",
    "émigré naïve façade",
    "a",
    "word  word   word    word",
    "x",
    "!@#$%^&*()",
    "𝕌𝕟𝕚𝕔𝕠𝕕𝕖 math letters the and",
    "ends with tab\t",
    " starts with space then\ttab",
    null
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private lazy val df = adversarial.toDF("id", "text")

  private val qualityCols = Seq("n_chars_c", "n_words", "mean_word_len",
    "punct_ratio", "upper_ratio", "stopword_ratio")
  private val repCols = Seq("n_words", "n_distinct_words", "distinct_ratio",
    "top_word_frac", "top_bigram_frac")

  /** Frame equality by full outer comparison on id (null-safe per column). */
  private def assertSame(a: org.apache.spark.sql.DataFrame,
                         b: org.apache.spark.sql.DataFrame,
                         cols: Seq[String]): Unit = {
    val aa = a.select("id", cols: _*).as("a")
    val bb = b.select("id", cols: _*).as("b")
    val joined = aa.join(bb, col("a.id") === col("b.id"), "full_outer")
    val diff = cols.map(c => !(col(s"a.$c") <=> col(s"b.$c")))
      .reduce(_ || _)
    val bad = joined.filter(diff).collect()
    assert(bad.isEmpty, s"fused/composed mismatch:\n${bad.mkString("\n")}")
  }

  test("fused qualitySignals equals the composed regex form (adversarial)") {
    assertSame(TextOps.qualitySignals(df, "text"),
      TextOpsReference.qualitySignalsComposed(df, "text"), qualityCols)
  }

  test("fused repetitionSignals equals the composed form (adversarial)") {
    assertSame(TextOps.repetitionSignals(df, "text"),
      TextOpsReference.repetitionSignalsComposed(df, "text"), repCols)
  }

  test("fused signal frames equal the composed ones on the sf0.001 corpus") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = graft.io.Tables.read(spark, dir, "documents")
      .select(col("doc_id").as("id"), col("text"))
    assertSame(TextOps.qualitySignals(docs, "text"),
      TextOpsReference.qualitySignalsComposed(docs, "text"), qualityCols)
    assertSame(TextOps.repetitionSignals(docs, "text"),
      TextOpsReference.repetitionSignalsComposed(docs, "text"), repCols)
  }

  test("fused signals equal the composed ones on random unicode fuzz rows") {
    // seeded generator over a mixed alphabet that exercises every branch:
    // ASCII words, stopwords, digits, punct runs, all five \s separators,
    // multi-byte codepoints (incl. astral), boundary separators
    val rnd = new scala.util.Random(4177)
    val atoms = Vector("the", "and", "of", "to", "a", "in", "is", "that",
      "it", "for", "Word", "WORD", "w0rd", "naïve", "深度", "𝕌𝕟", "!?.",
      "--", "7", "x")
    val seps = Vector(" ", "\t", "\n", "", "\f", "\r", "  ", " \t ",
      "\r\n")
    val rows = (0 until 300).map { i =>
      val n = rnd.nextInt(12)
      val sb = new StringBuilder
      if (rnd.nextBoolean()) sb.append(seps(rnd.nextInt(seps.size)))
      (0 until n).foreach { _ =>
        sb.append(atoms(rnd.nextInt(atoms.size)))
        sb.append(seps(rnd.nextInt(seps.size)))
      }
      if (rnd.nextBoolean()) sb.append(atoms(rnd.nextInt(atoms.size)))
      (i.toLong, sb.toString)
    }
    val fdf = rows.toDF("id", "text")
    assertSame(TextOps.qualitySignals(fdf, "text"),
      TextOpsReference.qualitySignalsComposed(fdf, "text"), qualityCols)
    assertSame(TextOps.repetitionSignals(fdf, "text"),
      TextOpsReference.repetitionSignalsComposed(fdf, "text"), repCols)
  }
}
