package graft.text

import graft.sqlext.{LangSig, NormText, QualitySig, RepSig, ShingleHashes}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.functions._

/** Text analysis for large-scale training-data pipelines: token counting,
  * quality scoring, language ID, fingerprinting. All pure Column
  * expressions (whole-stage codegen, no UDFs) so they run at full scan
  * speed over 100 TB of documents — each is a map-only operator with no
  * shuffle.
  */
object TextOps {

  /** Whitespace token count. Empty/whitespace-only text counts 0 —
    * `split("", "\\s+")` yields `[""]`, which would phantom-count 1.
    */
  def tokenCountWs(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** BPE-ish token estimate: words plus standalone punctuation/digit
    * runs, the usual cheap proxy for subword token counts.
    */
  def tokenCountRegex(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Quality scoring signals (C4/Gopher-style cheap heuristics):
    * char length, word count, mean word length, punctuation ratio,
    * uppercase ratio, stopword ratio.
    */
  def qualitySignals(df: DataFrame, text: String): DataFrame = {
    // ONE fused byte pass (cs_quality_sig, r17) supplies every counter the
    // signals divide; the ratio arithmetic below is byte-for-byte the
    // composed form's, so outputs are bit-identical
    // (the test-side `TextOpsReference.qualitySignalsComposed` is the
    // pinned reference — TextSignalsSpec asserts frame equality on
    // adversarial inputs).
    // The composition paid four full-text regexp_replace passes, a regex
    // split, and a per-word interpreted lower∘regexp_replace lambda per
    // document — the dominant cost of the quality scan.
    graft.window.Moving.guardNames(df.columns.toSeq, Seq("__qs"),
      "qualitySignals")
    val t = col(text)
    val sig = col("__qs")
    val nChars = sig.getField("n_chars").cast("double")
    // the fused scan already returns 0 for trimmed-empty text — the
    // composition's phantom-one-word guard, folded in
    val nWords = sig.getField("n_words").cast("double")
    val nStop = sig.getField("n_stop").cast("double")
    df.withColumn("__qs", column(QualitySig(expression(t))))
      .withColumn("n_chars_c", nChars.cast("long"))
      .withColumn("n_words", nWords.cast("long"))
      // mean chars per word, counting the WORD characters only — the
      // (nChars − (nWords−1))/nWords form assumed exactly one separator
      // per gap and no leading/trailing whitespace, inflating the value
      // for newline/tab-heavy or padded text
      .withColumn("mean_word_len",
        when(nWords > 0, sig.getField("n_nonws") / nWords))
      .withColumn("punct_ratio",
        when(nChars > 0, sig.getField("n_punct") / nChars))
      .withColumn("upper_ratio",
        when(nChars > 0, sig.getField("n_upper") / nChars))
      .withColumn("stopword_ratio", when(nWords > 0, nStop / nWords))
      .drop("__qs")
  }

  /** Composite quality score in 0..10 points — monotone blend of the
    * signals (integer so it is exactly comparable across engines).
    */
  def qualityScore(df: DataFrame, text: String): DataFrame =
    qualitySignals(df, text).withColumn("quality_score",
      (when(col("n_words") >= 5, lit(4)).otherwise(lit(0)) +
        when(col("stopword_ratio") >= 0.1, lit(3)).otherwise(lit(0)) +
        when(col("punct_ratio") <= 0.2, lit(3)).otherwise(lit(0))).cast("int"))

  /** Language ID by stopword-hit counting (n-gram heuristic). Counts hits
    * of a tiny per-language marker-word list over the lowercased text and
    * returns the argmax language, "und" when nothing matches.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "is", "of", "to"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "es" -> Seq("el", "la", "es", "los", "una"))

  def langId(df: DataFrame, text: String, out: String = "lang_pred"): DataFrame = {
    // ONE fused byte pass for all four languages' marker-hit counts
    // (cs_lang_sig; r18 — replaces the split + 4 interpreted filter-HOF
    // array passes of the composed form, the parked r17 residual). The
    // argmax fold is unchanged; LangSigSpec pins frame equality with the
    // test-side `TextOpsReference.langIdComposed` on adversarial unicode
    // and the corpus slice.
    graft.window.Moving.guardNames(df.columns.toSeq, Seq("__lsig"), "langId")
    val scored = df.withColumn("__lsig", column(LangSig(expression(col(text)))))
    val langs = langMarkers.keys.toSeq.sorted
    val best = langs.foldLeft((lit("und"), lit(0L))) { case ((bl, bs), lang) =>
      val h = col("__lsig")(s"hits_$lang")
      (when(h > bs, lit(lang)).otherwise(bl), when(h > bs, h).otherwise(bs))
    }
    scored.withColumn(out, best._1).drop("__lsig")
  }

  /** Document fingerprint: 64-bit hash of the normalized text (lowercase,
    * punctuation and whitespace collapsed) — the reference's rolling-hash
    * fingerprint role. xxhash64 is Spark-native and codegen'd.
    *
    * ONE regex pass: any non-alphanumeric run → single space (collapsing
    * punctuation AND whitespace together), then trim+lower. Equivalent to
    * the two-pass punct-then-whitespace form but halves the regex cost —
    * this normalization runs once per document over the whole corpus, so it
    * dominates the exact-dedup scan.
    */
  def normalizedText(text: Column): Column = {
    // the fused single-pass NormText expression — bit-identical to the
    // pre-r17 lower(trim(regexp_replace(text, "[^A-Za-z0-9]+", " ")))
    // composition (NormTextSpec pins the equality), at a fraction of the
    // cost: the regex chain was ~75% of the exact-dedup corpus scan
    column(NormText(expression(text)))
  }

  /** When the normalization is EMPTY (a CJK/Cyrillic/emoji-only document
    * has no [A-Za-z0-9] to keep), every such document would collapse to
    * fingerprint("") and a dedup consumer would silently merge distinct
    * non-Latin texts — fall back to hashing the raw text. The guard lives
    * HERE so every consumer (batch dedup, the streaming dedup sinks, the
    * cs_fingerprint SQL surface) inherits it.
    *
    * The guard is expressed as coalesce(nullif(norm, ''), text) so the
    * regex normalization is evaluated ONCE per row — a when/otherwise on
    * length(norm) would reference the regexp_replace tree in both the
    * predicate and the branch and run it twice, doubling the dominant
    * cost of the exact-dedup scan. NULL text stays NULL either way
    * (xxhash64 skips null args), and '' hashes as '' (nullif fires, the
    * coalesce falls through to the raw empty string).
    */
  def fingerprint(text: Column): Column = fingerprintOfNorm(normalizedText(text), text)

  /** [[fingerprint]] over an already-normalized column `norm` (=
    * `normalizedText(text)`), for passes that materialize the
    * normalization once for several consumers.
    */
  private[graft] def fingerprintOfNorm(norm: Column, text: Column): Column =
    xxhash64(coalesce(nullif(norm, lit("")), text))

  /** Cross-engine-checkable fingerprint: md5 hex of the normalized text
    * (raw text when the normalization is empty — same guard as
    * [[fingerprint]]). Used where an external oracle (DuckDB md5) must
    * reproduce the value bit-for-bit. The xxhash64 variant stays the fast
    * path (8-byte shuffle key vs 32-char string).
    */
  def fingerprintPortable(text: Column): Column = {
    val norm = normalizedText(text)
    md5(coalesce(nullif(norm, lit("")), text).cast("binary"))
  }

  /** Character shingles (n-grams) as a distinct set. Building block for
    * MinHash / Jaccard dedup.
    *
    * PERFORMANCE CONTRACT: `norm` must be a *materialized column* (e.g.
    * `withColumn("norm", normalizedText(col("text")))` first), not a raw
    * expression. The lambda references it per element; an inline
    * normalizedText expression would re-run its regexes once per shingle —
    * O(len²) per document.
    */
  def charShingles(norm: Column, n: Int): Column =
    array_distinct(
      filter(
        transform(sequence(lit(0), greatest(length(norm) - n, lit(0))),
          i => norm.substr(i + 1, lit(n))),
        s => length(s) === n))

  /** Distinct xxhash64 values of every n-char shingle — the scale form of
    * [[charShingles]]: one fused codegen pass ([[graft.sqlext.ShingleHashes]]),
    * no per-position substring or string-set allocation, and the derived
    * 8-byte hashes are what every downstream consumer (minhash lanes,
    * Jaccard intersects, inverted indexes) actually keys on. Value-equal
    * to `array_distinct(transform(charShingles(norm, n), xxhash64))`
    * (ShingleHashesSpec pins it), so cs_minhash signatures — and the
    * (band, bucket) values persisted in landing-dedup bucket tables —
    * are unchanged. Same materialization contract as charShingles: pass a
    * materialized norm column.
    */
  def hashedCharShingles(norm: Column, n: Int): Column =
    column(ShingleHashes(expression(norm), n))

  /** Word shingles (n-gram of tokens) joined by a space. Same contract:
    * `toks` must be a materialized array column (`split(norm, " ")`).
    */
  def wordShingles(toks: Column, n: Int): Column =
    array_distinct(
      filter(
        transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))),
        s => size(split(s, " ")) === n))

  /** Gopher-style repetition signals per document: distinct-word ratio,
    * most-frequent-word fraction, most-frequent-bigram fraction. High
    * top-fraction / low distinct ratio flags the degenerate repetitive
    * text that poisons training data. Pure array expressions — one
    * map-only pass, no explode, no shuffle.
    */
  /** TF-IDF top-k terms per document over the given corpus: tf from one
    * explode + two-phase hash agg (map-side partials absorb token skew),
    * df from a second agg over the (doc, term) frame (already
    * deduplicated per doc, so hot terms contribute one row per doc, not
    * per occurrence), idf = ln(N/df) with N carried as a broadcast 1-row
    * frame (no driver collect), per-doc top-k via windowed rank
    * partitioned by doc — k survivors per doc at any corpus size.
    * Deterministic tiebreak on the term. The classic relevance/quality
    * weighting for corpus curation; the same frame feeds keyword-based
    * filtering or near-dup support.
    */
  def tfidfTopTerms(df: DataFrame, id: String, text: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df
      .select(col(id), explode(split(normalizedText(col(text)), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = terms.groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = df.agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col(id)).orderBy(col("__score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("__score", col("tf") * log(col("__n") / col("df")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(id), col("term"), col("__score").cast("float").as("tfidf"))
  }

  /** BM25 top-k terms per document — the standard retrieval scorer on the
    * same plan shape as [[tfidfTopTerms]] plus document-length
    * normalization: idf = ln(1 + (N − df + 0.5)/(df + 0.5)), score =
    * idf · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)). Doc length dl is
    * Σtf per doc (derived from the tf frame — no second corpus pass);
    * N and avgdl ride a broadcast 1-row frame. avgdl divides by ALL docs,
    * including term-less ones, a fixed convention mirrored in the oracle.
    */
  def bm25TopTerms(df: DataFrame, id: String, text: String, k: Int,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df
      .select(col(id), explode(split(normalizedText(col(text)), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = terms.groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col(id)).agg(sum(col("tf")).as("__dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = df.agg(count(lit(1)).as("__n"))
      .crossJoin(tf.agg(sum(col("tf")).as("__tt")))
    val w = Window.partitionBy(col(id)).orderBy(col("__score").desc, col("term").asc)
    tf.join(dfreq, "term").join(dl, id)
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("__score",
        col("__idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") /
            (col("__tt") / col("__n")))))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(id), col("term"), col("__score").cast("float").as("bm25"))
  }

  /** Repetition counters per document: n_words, n_distinct_words,
    * distinct_ratio, top_word_frac and top_bigram_frac, from one fused
    * byte pass (cs_rep_sig). A document of 2^28 tokens or more (about
    * 512 MB of text) gets NULL counters instead of failing the scan, so a
    * threshold filter such as `rep_ratio < t` evaluates NULL and DROPS it;
    * coalesce the counters first to keep such documents.
    */
  def repetitionSignals(df: DataFrame, text: String): DataFrame = {
    // ONE fused byte pass (cs_rep_sig, r17) supplies every counter: the
    // composition paid a regex split, an array_distinct, two array_sorts
    // and two interpreted per-element aggregate() scans per document.
    // Ratio arithmetic below is the composed form's (long/long division,
    // same when() guards), so outputs are bit-identical
    // (the test-side `TextOpsReference.repetitionSignalsComposed` is the
    // pinned reference — TextSignalsSpec asserts frame equality on
    // adversarial inputs).
    graft.window.Moving.guardNames(df.columns.toSeq,
      Seq("__rs", "n_words", "n_distinct_words", "distinct_ratio",
        "top_word_frac", "top_bigram_frac"), "repetitionSignals")
    val sig = col("__rs")
    df.withColumn("__rs", column(RepSig(expression(col(text)))))
      .withColumn("n_words", sig.getField("n_words"))
      .withColumn("n_distinct_words", sig.getField("n_distinct"))
      .withColumn("distinct_ratio",
        when(col("n_words") > 0, col("n_distinct_words") / col("n_words")))
      .withColumn("top_word_frac",
        when(col("n_words") > 0, sig.getField("top_word") / col("n_words")))
      .withColumn("top_bigram_frac",
        when(sig.getField("n_bigrams") > 0,
          sig.getField("top_bigram") / sig.getField("n_bigrams"))
          .otherwise(lit(0.0)))
      .drop("__rs")
  }

  /** PII redaction: emails, phone-like digit runs, and IPv4 literals
    * replaced by typed placeholder tokens, with per-kind match counts.
    * Patterns restrict to syntax valid in both java.util.regex and RE2
    * (no backreferences/lookaround) so an external engine can replay the
    * redaction bit-for-bit. Map-only codegen'd scan.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+?[0-9][0-9()\\- ]{6,}[0-9]", "<PHONE>"))

  /** Deterministic stratified sampling: keep a row iff the first hex digit
    * of md5(text) falls below the stratum's rate (in 16ths). Hash-based
    * (not rand()) so the sample is reproducible across engines, retries,
    * and partitionings — the property a training-data pipeline needs for
    * resumable runs — and md5 is replayable by any external engine.
    * Map-only scan; the rate map broadcasts inside the plan as a CASE.
    */
  def stratifiedSample(df: DataFrame, text: String, stratum: String,
                       rates16: Map[String, Int], default16: Int): DataFrame = {
    val digit = conv(substring(md5(col(text)), 1, 1), 16, 10).cast("int")
    val rate = rates16.foldLeft(lit(default16)) { case (acc, (k, v)) =>
      when(col(stratum) === k, lit(v)).otherwise(acc)
    }
    df.filter(digit < rate)
  }

  /** Deterministic data-mixture downsampling — the "data mixing" stage of
    * a training pipeline: compose corpus sources at target proportions
    * (Pile/RefinedWeb-style mixture weights). Computes the largest
    * mixture achievable WITHOUT upsampling: the binding source (smallest
    * n_s/w_s) keeps every row and each other source downsamples to
    * rate_s = C·w_s/n_s with C = min(n/w), so realized proportions match
    * the weights in expectation. The gate is the same md5 uniform as
    * [[stratifiedSample]] at 1/65536 granularity — reproducible across
    * engines, retries, and partitionings (resumable runs). Sources
    * absent from `weights` drop: the mixture DEFINES the corpus.
    * Upsampling (rates > 1 via epoch replication) is deliberately not
    * done here — repeating data multiplies the corpus, a training-loop
    * decision, not a corpus operator.
    *
    * Scale shape: one per-source count (map-side combine on ~#sources
    * groups), a broadcast rate table, then a map-only gate — the corpus
    * itself never shuffles.
    */
  def mixtureSample(df: DataFrame, source: String, text: String,
                    weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "mixture weights must be positive")
    val w = weights.foldLeft(lit(null).cast("double")) { case (acc, (k, v)) =>
      when(col(source) === k, lit(v)).otherwise(acc)
    }
    graft.window.Moving.guardNames(df.columns.toSeq,
      Seq("__w", "__rate"), "mixtureSample")
    val in = df.withColumn("__w", w).filter(col("__w").isNotNull)
    val counts = in.groupBy(col(source))
      .agg(count(lit(1)).as("__n"), min(col("__w")).as("__sw"))
    val c = counts.agg(min(col("__n") / col("__sw")).as("__c"))
    val rates = counts.crossJoin(broadcast(c))
      .select(col(source), (col("__c") * col("__sw") / col("__n")).as("__rate"))
    // SALTED gate: stratifiedSample keys on a prefix of the SAME
    // md5(text); composing the two on one pipeline would correlate the
    // uniforms (the survivors of one gate all sit below the other's
    // threshold) and silently distort the realized rates — the salt makes
    // the two draws independent
    val u = conv(substring(md5(concat(col(text), lit("gmix"))), 1, 4), 16, 10)
      .cast("long")
    // +1e-9 before the floor: the binding source's rate is (n/w)*w/n,
    // which in IEEE doubles lands 1 ulp BELOW 1.0 for non-dyadic
    // weights — a bare floor would then drop the ~1/65536 of its rows
    // hashing to 0xffff, breaking the "binding source keeps every row"
    // contract. The nudge (~1e-9) is far above the ulp error (~1e-11 at
    // this scale) and far below the 1/65536 gate granularity, so no
    // legitimate threshold moves. The oracle applies the same formula.
    in.join(broadcast(rates), Seq(source))
      .filter(u < floor(col("__rate") * 65536 + 1e-9))
      .drop("__w", "__rate")
  }

  def redactPii(df: DataFrame, text: String, out: String = "redacted"): DataFrame = {
    // each kind counts matches on the text AFTER the earlier patterns
    // replaced theirs — counting on the ORIGINAL would report phantom
    // PII the output never redacted (the digits inside an email's local
    // part match the phone pattern, but the email placeholder consumed
    // them), inflating per-kind redaction stats
    val (redacted, counts) =
      piiPatterns.foldLeft((col(text), Seq.empty[(String, Column)])) {
        case ((c, acc), (kind, pat, tok)) =>
          (regexp_replace(c, pat, tok), acc :+ (kind -> regexp_count(c, lit(pat))))
      }
    counts.foldLeft(df) { case (d, (kind, cnt)) =>
      d.withColumn(s"n_$kind", cnt)
    }.withColumn(out, redacted)
  }
}
