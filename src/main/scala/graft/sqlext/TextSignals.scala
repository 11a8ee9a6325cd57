package graft.sqlext

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document text-signal scans (r17). Each replaces a chain of
  * full-text regex passes and per-token interpreted lambdas with ONE byte
  * pass, producing COUNTS that are bit-identical to the composed forms
  * (TextSignalsSpec pins the equalities on adversarial inputs and a real
  * corpus slice) — the downstream ratio arithmetic is unchanged, so query
  * outputs are bit-identical.
  *
  * Exact semantics replicated (all pinned by the spec):
  *  - `trim` strips the SPACE character (0x20) only — Spark's StringTrim;
  *  - `split(x, "\\s+")` splits on maximal runs of java-regex `\s` =
  *    ASCII {space, \t, \n, \x0B, \f, \r} with limit -1 (Spark's
  *    default), so a leading/trailing separator run inside the trimmed
  *    text yields an EMPTY boundary token — phantom empties included,
  *    exactly like the composition;
  *  - regex character classes `[A-Za-z]`, `[A-Za-z0-9]`, `[A-Z]` are
  *    ASCII-only; every non-ASCII codepoint counts as "punctuation"
  *    under `[^A-Za-z0-9\s]`, counted ONCE per codepoint (not per byte);
  *  - `length()` counts codepoints.
  */
private object TextScan {
  final val WS_SPACE = ' '.toByte
  @inline def isWs6(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'
  @inline def isAlnum(b: Byte): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  /** [lo, hi) byte bounds of Spark-trim (0x20 only) of the whole string. */
  def trimBounds(in: Array[Byte]): (Int, Int) = {
    var lo = 0
    var hi = in.length
    while (lo < hi && in(lo) == WS_SPACE) lo += 1
    while (hi > lo && in(hi - 1) == WS_SPACE) hi -= 1
    (lo, hi)
  }
}

/** cs_quality_sig(text): the six counters behind TextOps.qualitySignals in
  * one pass — struct(n_chars, n_nonws, n_punct, n_upper, n_words, n_stop).
  * Replaces four full-text `regexp_replace` passes, a regex `split`, and a
  * per-word `lower ∘ regexp_replace` lambda.
  *  - n_chars  = length(t)                                 (codepoints)
  *  - n_nonws  = length(regexp_replace(t, "\\s+", ""))      (codepoints)
  *  - n_punct  = n_chars − length(regexp_replace(t, "[^A-Za-z0-9\\s]", ""))
  *  - n_upper  = n_chars − length(regexp_replace(t, "[A-Z]", ""))
  *  - n_words  = 0 when trim(t) is empty, else
  *               size(split(trim(t), "\\s+"))               (empties kept)
  *  - n_stop   = count of words w with
  *               lower(regexp_replace(w, "[^A-Za-z]", "")) ∈ the 10-word
  *               English stopword list of TextOps.qualitySignals
  */
case class QualitySig(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cs_quality_sig requires a string, got ${other.sql}")
  }

  override def dataType: DataType = QualitySig.schema

  override def prettyName: String = "cs_quality_sig"

  override def nullSafeEval(input: Any): Any =
    QualitySig.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sqlext.QualitySig.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): QualitySig =
    copy(child = newChild)
}

object QualitySig {
  val schema: StructType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_nonws", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false),
    StructField("n_upper", LongType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false)))

  // the stopword list of TextOps.qualitySignals, as bytes; longest is 4
  private val stops: Array[Array[Byte]] =
    Array("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")
      .map(_.getBytes("UTF-8"))

  private def isStop(buf: Array[Byte], len: Int): Boolean = {
    if (len == 0 || len > 4) return false
    var s = 0
    while (s < stops.length) {
      val cand = stops(s)
      if (cand.length == len) {
        var k = 0
        while (k < len && cand(k) == buf(k)) k += 1
        if (k == len) return true
      }
      s += 1
    }
    false
  }

  def compute(s: UTF8String): InternalRow = {
    import TextScan._
    val in = s.getBytes
    val n = in.length
    var nChars = 0L; var nNonWs = 0L; var nPunct = 0L; var nUpper = 0L
    var i = 0
    while (i < n) {
      val b = in(i)
      var step = 1
      if (b >= 0) { // ASCII codepoint
        nChars += 1
        if (isWs6(b)) () // whitespace: not nonws, not punct
        else {
          nNonWs += 1
          if (!isAlnum(b)) nPunct += 1
          if (b >= 'A' && b <= 'Z') nUpper += 1
        }
      } else { // non-ASCII codepoint: never \s, never alnum, never [A-Z]
        nChars += 1
        nNonWs += 1
        nPunct += 1
        step = UTF8String.numBytesForFirstByte(b)
      }
      i += step
    }
    // word pass over the Spark-trimmed (0x20-only) region
    val (lo, hi) = trimBounds(in)
    var nWords = 0L; var nStop = 0L
    if (hi > lo) {
      val alpha = new Array[Byte](5)
      var alphaLen = 0 // capped at 5; >4 can never match a stopword
      var p = lo
      nWords = 1L // the piece in progress; each separator run adds one
      while (p < hi) {
        val b = in(p)
        if (b >= 0 && isWs6(b)) {
          // close the piece, skip the separator run
          if (isStop(alpha, alphaLen)) nStop += 1
          alphaLen = 0
          nWords += 1
          p += 1
          while (p < hi && in(p) >= 0 && isWs6(in(p))) p += 1
        } else {
          if (b >= 'A' && b <= 'Z') {
            if (alphaLen < 5) { alpha(alphaLen) = (b + 32).toByte; alphaLen += 1 }
            else alphaLen = 6 // over-long: poison until the piece closes
          } else if (b >= 'a' && b <= 'z') {
            if (alphaLen < 5) { alpha(alphaLen) = b; alphaLen += 1 }
            else alphaLen = 6
          }
          // digits/punct/non-ASCII bytes are stripped by [^A-Za-z]
          p += (if (b >= 0) 1 else UTF8String.numBytesForFirstByte(b))
        }
      }
      if (isStop(alpha, alphaLen)) nStop += 1
    }
    new GenericInternalRow(
      Array[Any](nChars, nNonWs, nPunct, nUpper, nWords, nStop))
  }
}

/** cs_rep_sig(text): the five counters behind TextOps.repetitionSignals in
  * one pass — struct(n_words, n_distinct, top_word, n_bigrams, top_bigram).
  * Replaces a regex split, array_distinct, two array_sorts and two
  * interpreted per-element aggregate() scans.
  *  - tokens    = [] when trim(t) is empty, else split(trim(t), "\\s+")
  *                (boundary empties kept, exactly like the composition)
  *  - n_words   = size(tokens)
  *  - n_distinct= size(array_distinct(tokens))        (string-exact)
  *  - top_word  = max multiplicity of any token       (string-exact —
  *                the longest run in array_sort(tokens); 0 when no tokens)
  *  - n_bigrams = max(size(tokens) − 1, 0); 0 when size < 2
  *  - top_bigram= max multiplicity of any adjacent pair (string-exact;
  *                pair equality ⟺ concat-with-space equality because
  *                tokens cannot contain whitespace; 0 when no bigrams)
  */
case class RepSig(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cs_rep_sig requires a string, got ${other.sql}")
  }

  override def dataType: DataType = RepSig.schema

  // NULL above the token cap (r18, ADVICE r17): one >2^28-token document
  // yields NULL counters instead of aborting the corpus scan
  override def nullable: Boolean = true

  override def prettyName: String = "cs_rep_sig"

  override def nullSafeEval(input: Any): Any =
    RepSig.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.sqlext.RepSig.compute($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): RepSig =
    copy(child = newChild)
}

object RepSig {
  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_word", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false),
    StructField("top_bigram", LongType, nullable = false)))

  def compute(s: UTF8String): InternalRow = {
    import TextScan._
    val in = s.getBytes
    val (lo, hi) = trimBounds(in)
    if (hi <= lo) // empty after trim: the composition emits array() — 0s
      return new GenericInternalRow(Array[Any](0L, 0L, 0L, 0L, 0L))
    // tokenize [lo, hi): pieces between maximal ws6 runs, empties kept
    var nTok = 0
    var p = lo
    var cap = 8
    var offs = new Array[Int](cap)
    var lens = new Array[Int](cap)
    var start = lo
    def push(off: Int, len: Int): Unit = {
      if (nTok == cap) {
        cap *= 2
        offs = java.util.Arrays.copyOf(offs, cap)
        lens = java.util.Arrays.copyOf(lens, cap)
      }
      offs(nTok) = off; lens(nTok) = len; nTok += 1
    }
    while (p < hi) {
      if (in(p) >= 0 && isWs6(in(p))) {
        push(start, p - start)
        p += 1
        while (p < hi && in(p) >= 0 && isWs6(in(p))) p += 1
        start = p
      } else p += 1
    }
    push(start, hi - start)
    // per-token hashes once; exact-string multiset via open addressing.
    // Over-cap documents (≥2^28 tokens ≈ ≥512 MB of text) return NULL
    // counters rather than crash the scan (ADVICE r17)
    if (nTok >= (1 << 28)) return null
    val th = new Array[Long](nTok)
    var t = 0
    while (t < nTok) {
      th(t) = XXH64.hashUnsafeBytes(in, Platform.BYTE_ARRAY_OFFSET + offs(t),
        lens(t), 42L)
      t += 1
    }
    @inline def tokEq(a: Int, b: Int): Boolean = {
      if (lens(a) != lens(b)) return false
      var k = 0
      val la = lens(a); val oa = offs(a); val ob = offs(b)
      while (k < la && in(oa + k) == in(ob + k)) k += 1
      k == la
    }
    val capT = Integer.highestOneBit(math.max(8, nTok * 2 - 1)) << 1
    val maskT = capT - 1
    val slotTok = new Array[Int](capT) // first-occurrence token index + 1
    val slotCnt = new Array[Long](capT)
    var distinct = 0L
    var topWord = 0L
    t = 0
    while (t < nTok) {
      var idx = (th(t) ^ (th(t) >>> 32)).toInt & maskT
      var done = false
      while (!done) {
        val cur = slotTok(idx)
        if (cur == 0) {
          slotTok(idx) = t + 1; slotCnt(idx) = 1L; distinct += 1
          if (topWord < 1L) topWord = 1L
          done = true
        } else if (th(cur - 1) == th(t) && tokEq(cur - 1, t)) {
          slotCnt(idx) += 1L
          if (slotCnt(idx) > topWord) topWord = slotCnt(idx)
          done = true
        } else idx = (idx + 1) & maskT
      }
      t += 1
    }
    // bigrams: adjacent pairs, exact pair equality
    var nBigrams = 0L
    var topBigram = 0L
    if (nTok >= 2) {
      nBigrams = (nTok - 1).toLong
      val capB = Integer.highestOneBit(math.max(8, (nTok - 1) * 2 - 1)) << 1
      val maskB = capB - 1
      val slotPair = new Array[Int](capB) // first-occurrence pair index + 1
      val cntPair = new Array[Long](capB)
      var g = 0
      while (g < nTok - 1) {
        var h = th(g) * 0x9e3779b97f4a7c15L + th(g + 1)
        h ^= h >>> 33
        var idx = h.toInt & maskB
        var done = false
        while (!done) {
          val cur = slotPair(idx)
          if (cur == 0) {
            slotPair(idx) = g + 1; cntPair(idx) = 1L
            if (topBigram < 1L) topBigram = 1L
            done = true
          } else if (tokEq(cur - 1, g) && tokEq(cur, g + 1)) {
            cntPair(idx) += 1L
            if (cntPair(idx) > topBigram) topBigram = cntPair(idx)
            done = true
          } else idx = (idx + 1) & maskB
        }
        g += 1
      }
    }
    new GenericInternalRow(
      Array[Any](nTok.toLong, distinct, topWord, nBigrams, topBigram))
  }
}
