package graft

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed Spark-SQL forms the fused text kernels replaced — the
  * frame-equality references TextSignalsSpec (quality, repetition) and
  * LangSigSpec (langId) pin the fused operators against. Spec-only: no
  * scan path calls them.
  */
object TextOpsReference {

  /** The pre-r17 composed form of `TextOps.qualitySignals` (regex passes
    * + per-word lambda).
    */
  def qualitySignalsComposed(df: DataFrame, text: String): DataFrame = {
    val t = col(text)
    val nChars = length(t).cast("double")
    val words = split(trim(t), "\\s+")
    // empty text: split yields [""], which would phantom-count one word;
    // ratios over an empty doc are explicitly NULL on both engines rather
    // than whatever each one's x/0 happens to be
    val nWords = when(length(trim(t)) === 0, lit(0.0))
      .otherwise(size(words).cast("double"))
    val stop = Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")
    val lw = transform(words, w => lower(regexp_replace(w, "[^A-Za-z]", "")))
    val nStop = size(filter(lw, w => w.isInCollection(stop))).cast("double")
    df.withColumn("n_chars_c", nChars.cast("long"))
      .withColumn("n_words", nWords.cast("long"))
      .withColumn("mean_word_len",
        when(nWords > 0, length(regexp_replace(t, "\\s+", "")) / nWords))
      .withColumn("punct_ratio",
        when(nChars > 0,
          (nChars - length(regexp_replace(t, "[^A-Za-z0-9\\s]", ""))) / nChars))
      .withColumn("upper_ratio",
        when(nChars > 0,
          (nChars - length(regexp_replace(t, "[A-Z]", ""))) / nChars))
      .withColumn("stopword_ratio", when(nWords > 0, nStop / nWords))
  }

  /** The pre-r18 composed form of `TextOps.langId` (split + four
    * filter-HOF passes).
    */
  def langIdComposed(df: DataFrame, text: String,
                     out: String = "lang_pred"): DataFrame = {
    graft.window.Moving.guardNames(df.columns.toSeq,
      "__ltoks" +: TextOps.langMarkers.keys.toSeq.sorted.map(l => s"__hits_$l"), "langId")
    val withToks = df.withColumn("__ltoks", split(lower(trim(col(text))), "\\s+"))
    val scored = TextOps.langMarkers.toSeq.sortBy(_._1).foldLeft(withToks) { case (d, (lang, ms)) =>
      val words = ms
      d.withColumn(s"__hits_$lang",
        size(filter(col("__ltoks"),
          t => words.map(w => t === lit(w)).reduce(_ || _))).cast("long"))
    }
    val langs = TextOps.langMarkers.keys.toSeq.sorted
    val best = langs.foldLeft((lit("und"), lit(0L))) { case ((bl, bs), lang) =>
      val h = col(s"__hits_$lang")
      (when(h > bs, lit(lang)).otherwise(bl), when(h > bs, h).otherwise(bs))
    }
    scored.withColumn(out, best._1)
      .drop("__ltoks").drop(langs.map(l => s"__hits_$l"): _*)
  }

  /** Longest run length in a SORTED array — equals the max multiplicity of
    * any element. O(n log n) per row (the sort), map-only, no shuffle: the
    * scale-correct way to get per-document mode counts (an explode +
    * groupBy(doc, token) would shuffle every token of the corpus).
    */
  private def maxRunInSorted(sorted: Column): Column =
    aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** The pre-r17 composed form of `TextOps.repetitionSignals` (regex
    * split + array_distinct + sort/aggregate scans).
    */
  def repetitionSignalsComposed(df: DataFrame, text: String): DataFrame = {
    graft.window.Moving.guardNames(df.columns.toSeq,
      Seq("__toks", "__bg", "n_words", "n_distinct_words", "distinct_ratio",
        "top_word_frac", "top_bigram_frac"), "repetitionSignals")
    // empty text: split yields [""] — an empty doc must count 0 words
    // (with NULL ratios), not look maximally repetitive
    val withToks = df.withColumn("__toks",
      when(length(trim(col(text))) === 0, array().cast("array<string>"))
        .otherwise(split(trim(col(text)), "\\s+")))
    val toks = col("__toks")
    // guard: sequence(1, 0) counts DOWN in Spark, so a 1-word doc would
    // index past the array — emit an empty bigram list instead
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    withToks
      .withColumn("n_words", size(toks).cast("long"))
      .withColumn("n_distinct_words", size(array_distinct(toks)).cast("long"))
      .withColumn("distinct_ratio",
        when(col("n_words") > 0, col("n_distinct_words") / col("n_words")))
      .withColumn("top_word_frac",
        when(col("n_words") > 0, maxRunInSorted(array_sort(toks)) / col("n_words")))
      .withColumn("__bg", bigrams)
      .withColumn("top_bigram_frac",
        when(size(col("__bg")) > 0,
          maxRunInSorted(array_sort(col("__bg"))) / size(col("__bg")))
          .otherwise(lit(0.0)))
      .drop("__toks", "__bg")
  }
}
