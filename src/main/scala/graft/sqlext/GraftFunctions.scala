package graft.sqlext

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.types._

/** The `cs_*` SQL function surface (imcs--1.1.sql operator names), exposed
  * to `spark.sql(...)` as NATIVE Catalyst expressions — every builder
  * returns a built-in expression tree (full whole-stage codegen, no UDF
  * serialization), so `SELECT cs_wavg(volume, close)` plans identically to
  * the DataFrame `sum(x*y)/sum(x)` form.
  *
  * The names are needed by SQL text only: the library's Column and
  * DataFrame operators build these expressions directly and run on any
  * session. Two ways to install the names:
  *  - [[GraftFunctions.register]] on a live session (temp functions,
  *    added only where the name is free; [[graft.Session]] calls it at
  *    build);
  *  - [[GraftExtensions]] via `spark.sql.extensions=graft.sqlext.GraftExtensions`
  *    (config-time injection, the deployment story for a shared cluster).
  */
object GraftFunctions {

  // the fused byte-pass normalization (NormText) — bit-identical to the
  // pre-r17 Lower(StringTrim(RegExpReplace(text, "[^A-Za-z0-9]+", " ")))
  // composition at a fraction of the per-document cost (OPTIMIZATION_r17)
  private def norm(text: Expression): Expression = NormText(text)

  /** The reference's cs_sort_order enum ('asc'|'desc', imcs--1.1.sql:10)
    * as a boolean: a string LITERAL translates at build time so the
    * reference's own regression text (sql/sort.sql) runs verbatim; any
    * other expression passes through (the boolean form).
    */
  private def ascArg(e: Expression): Expression = e match {
    case Literal(s, _: StringType) if s != null =>
      s.toString match {
        case "asc" => Literal(true)
        case "desc" => Literal(false)
        case other => throw new IllegalArgumentException(
          s"sort order must be 'asc' or 'desc', got '$other'")
      }
    case other => other
  }

  /** The reference's cs_elem_type names (imcs--1.1.sql:8, cs_get_tid
    * imcs--1.1.sql:12-31) as Spark types — used by cs_const.
    */
  private[sqlext] def elemType(name: String): DataType = name match {
    case "char" | "bool" => ByteType
    case "int2" => ShortType
    case "int4" => IntegerType
    case "int8" | "time" => LongType
    case "float4" => FloatType
    case "float8" => DoubleType
    case "money" => DecimalType(19, 2)
    case "date" => DateType
    case "timestamp" => TimestampType
    case other => throw new IllegalArgumentException(
      s"unknown cs element type '$other'")
  }

  /** (name, builder, usage) for every registered function. */
  val all: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    ("cs_wsum",
      (c: Seq[Expression]) => Sum(Multiply(c(0), c(1))).toAggregateExpression(),
      "cs_wsum(x, y) - weighted sum Σxy (func.c:1502-1575)"),
    ("cs_wavg",
      (c: Seq[Expression]) => Divide(
        Sum(Multiply(c(0), c(1))).toAggregateExpression(),
        Sum(c(0)).toAggregateExpression()),
      "cs_wavg(x, y) - weighted average Σxy/Σx, VWAP when x=volume"),
    ("cs_maxof", (c: Seq[Expression]) =>
      if (c.size == 2) CsPolyBinary("maxof", c(0), c(1)) else Greatest(c),
      "cs_maxof(a, b, ...) - element-wise max over scalars or array series (func.c:241-255)"),
    ("cs_minof", (c: Seq[Expression]) =>
      if (c.size == 2) CsPolyBinary("minof", c(0), c(1)) else Least(c),
      "cs_minof(a, b, ...) - element-wise min over scalars or array series"),
    ("cs_iif", (c: Seq[Expression]) => CsPolyIf(c(0), c(1), c(2)),
      "cs_iif(cond, a, b) - element-wise conditional over scalars or array series (func.c:2457-2558)"),
    ("cs_hamming", (c: Seq[Expression]) => BitwiseCount(BitwiseXor(c(0), c(1))),
      "cs_hamming(a, b) - bit distance between 64-bit fingerprints"),
    // empty normalization (non-Latin-only text) falls back to the raw
    // text so distinct documents never share a fingerprint — same guard
    // as TextOps.fingerprint, in the same coalesce(nullif(...)) shape so
    // the regex normalization evaluates ONCE per row (an If on
    // length(norm) would run it twice)
    ("cs_fingerprint", (c: Seq[Expression]) =>
      new XxHash64(Seq(Coalesce(Seq(new NullIf(norm(c(0)), Literal("")), c(0))))),
      "cs_fingerprint(text) - xxhash64 of normalized text (raw when normalization is empty)"),
    ("cs_norm_text", (c: Seq[Expression]) => norm(c(0)),
      "cs_norm_text(text) - lowercase, non-alnum runs collapsed"),
    ("cs_dot", (c: Seq[Expression]) => ArrayDot(c(0), c(1)),
      "cs_dot(a, b) - fused codegen dot product over float/double arrays"),
    ("cs_rhp_sig", (c: Seq[Expression]) => RhpSignatures(c),
      "cs_rhp_sig(vec, dim, bits, tables) - all RHP-LSH bucket signatures " +
        "in one fused pass (bit-exact with per-table rhpBucket)"),
    ("cs_cosine",
      (c: Seq[Expression]) => Divide(ArrayDot(c(0), c(1)),
        Multiply(Sqrt(ArrayDot(c(0), c(0))), Sqrt(ArrayDot(c(1), c(1))))),
      "cs_cosine(a, b) - cosine similarity over embedding arrays"),
    ("cs_token_count",
      (c: Seq[Expression]) =>
        // empty text counts 0 tokens (split("") yields [""]) — same rule
        // as TextOps.tokenCountWs
        If(EqualTo(Length(StringTrim(c(0))), Literal(0)), Literal(0),
          Size(StringSplit(StringTrim(c(0)), Literal("\\s+"), Literal(-1)))),
      "cs_token_count(text) - whitespace token count (0 for empty text)"),
    ("cs_md5_fp", (c: Seq[Expression]) =>
      Md5(Cast(Coalesce(Seq(new NullIf(norm(c(0)), Literal("")), c(0))), BinaryType)),
      "cs_md5_fp(text) - portable md5 fingerprint of normalized text (raw when empty)"),
    ("cs_simhash", (c: Seq[Expression]) => SimHash64(c(0)),
      "cs_simhash(hashes) - 64-bit SimHash of a token-hash array (one-pass codegen)"),
    ("cs_shingle_hashes", (c: Seq[Expression]) => c(1) match {
      case Literal(n: Int, IntegerType) => ShingleHashes(c(0), n)
      case other => throw new IllegalArgumentException(
        s"cs_shingle_hashes(text, n) needs a literal int shingle length, got $other")
    },
      "cs_shingle_hashes(text, n) - distinct xxhash64 of every n-char shingle (one-pass codegen)"),
    ("cs_pairs", (c: Seq[Expression]) => BucketPairs(c(0)),
      "cs_pairs(ids) - all ordered pairs (id1 < id2) of distinct values in " +
        "one LSH bucket's member array (lazy generator; see Dedup.bandedPairs)"),
    ("cs_hamming_pairs", (c: Seq[Expression]) => HammingBucketPairs(c(0), c(1)),
      "cs_hamming_pairs(members, maxDist) - ordered pairs of struct(id, h64) " +
        "members within Hamming maxDist, verified inside the emit"),
    ("cs_lang_sig", (c: Seq[Expression]) => LangSig(c(0)),
      "cs_lang_sig(text) - per-language marker-word hit counts " +
        "(hits_de, hits_en, hits_es, hits_fr) in one pass"),
    ("cs_bloom_agg", (c: Seq[Expression]) =>
      CsBloomAgg(c(0), c(1), c(2)).toAggregateExpression(),
      "cs_bloom_agg(x, n_items, fpp) - serialized bloom filter over the " +
        "group's non-null bigint x; n_items sizes the filter (constant " +
        "within a group), fpp is a double literal"),
    ("cs_quality_sig", (c: Seq[Expression]) => QualitySig(c(0)),
      "cs_quality_sig(text) - quality-signal counters " +
        "(n_chars, n_nonws, n_punct, n_upper, n_words, n_stop) in one pass"),
    ("cs_rep_sig", (c: Seq[Expression]) => RepSig(c(0)),
      "cs_rep_sig(text) - repetition-signal counters " +
        "(n_words, n_distinct, top_word, n_bigrams, top_bigram) in one pass"),

    // ---- mergeable sketch rollups (agg/Aggs.scala sketchRollup family) on
    // ---- the SQL surface: build per-bucket sketches ONCE into a rollup
    // ---- table, answer coarser queries by MERGING sketches — never
    // ---- rescanning raw rows. Each name delegates to the native
    // ---- Datasketches builtin (resolved by the analyzer to the same
    // ---- codegen'd expression); the cs_ alias exists so the 100 TB
    // ---- rollup pattern is reachable from the one engine namespace,
    // ---- with the engine's arg conventions documented per name.
    ("cs_dc_sketch", (c: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        "hll_sketch_agg", c, isDistinct = false),
      "cs_dc_sketch(x[, lgK]) - aggregate: mergeable HLL distinct-count sketch " +
        "(binary; store per bucket in a rollup table; = hll_sketch_agg)"),
    ("cs_dc_merge", (c: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        "hll_union_agg", c, isDistinct = false),
      "cs_dc_merge(sketch) - aggregate: union HLL bucket sketches up to the " +
        "query's grouping (= hll_union_agg)"),
    ("cs_dc_estimate", (c: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        "hll_sketch_estimate", c, isDistinct = false),
      "cs_dc_estimate(sketch) - distinct-count estimate from an HLL sketch " +
        "(= hll_sketch_estimate)"),
    ("cs_q_sketch", (c: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        "kll_sketch_agg_double", c, isDistinct = false),
      "cs_q_sketch(x[, k]) - aggregate: mergeable KLL quantile sketch over the " +
        "float8 carrier (binary; k=200 default ~1.7% rank error; = kll_sketch_agg_double)"),
    ("cs_q_merge", (c: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        "kll_merge_agg_double", c, isDistinct = false),
      "cs_q_merge(sketch) - aggregate: merge KLL bucket sketches up to the " +
        "query's grouping (= kll_merge_agg_double)"),
    ("cs_q_quantile", (c: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        "kll_sketch_get_quantile_double", c, isDistinct = false),
      "cs_q_quantile(sketch, q) - read quantile q from a (merged) KLL sketch " +
        "(= kll_sketch_get_quantile_double)"),
    ("cs_t_sketch", (c: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        "theta_sketch_agg", c, isDistinct = false),
      "cs_t_sketch(x[, lgK]) - aggregate: mergeable theta sketch — the " +
        "set-ALGEBRA sketch (intersect/difference, not just union; = theta_sketch_agg)"),
    ("cs_t_merge", (c: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        "theta_union_agg", c, isDistinct = false),
      "cs_t_merge(sketch) - aggregate: union theta bucket sketches " +
        "(= theta_union_agg)"),
    ("cs_t_estimate", (c: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        "theta_sketch_estimate", c, isDistinct = false),
      "cs_t_estimate(sketch) - cardinality estimate from a theta sketch " +
        "(= theta_sketch_estimate)"),
    ("cs_t_intersect", (c: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        "theta_intersection", c, isDistinct = false),
      "cs_t_intersect(a, b) - theta sketch of the intersection — 'did BOTH'; " +
        "error compounds both inputs (= theta_intersection)"),
    ("cs_t_diff", (c: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        "theta_difference", c, isDistinct = false),
      "cs_t_diff(a, b) - theta sketch of a MINUS b — 'in A but not B' " +
        "(= theta_difference)"),

    // ---- the reference's series-calculus surface (imcs--1.1.sql:518-1058),
    // ---- enough to run tpch.sql's cs_* form (tpch.sql:60-89) on Spark SQL
    ("cs_filter",
      (c: Seq[Expression]) => If(c(0), c(1), Literal.create(null, NullType)),
      "cs_filter(cond, x) - x where cond else NULL; aggregates skip NULLs, " +
        "reproducing the reference's filtered-series composition (func.c:569-662)"),
    // NOTE repeated in every cs_hash_* help string because SQL users see
    // only these: the map-valued form holds ALL groups in one aggregation
    // buffer (the reference's own single-backend dictionary assumption,
    // imcs.h:35) and fails loud past 2^20 distinct groups — use a native
    // GROUP BY for high-cardinality keys.
    ("cs_hash_sum", (c: Seq[Expression]) =>
      CsHashAgg("sum", c(0), c(1)).toAggregateExpression(),
      "cs_hash_sum(x, grp) - map<grp, sum(x)> (func.c:5113-5447); whole map " +
        "in ONE buffer, errors past 2^20 groups - use GROUP BY for high cardinality"),
    ("cs_hash_avg", (c: Seq[Expression]) =>
      CsHashAgg("avg", c(0), c(1)).toAggregateExpression(),
      "cs_hash_avg(x, grp) - map<grp, avg(x)>; whole map in ONE buffer, " +
        "errors past 2^20 groups - use GROUP BY for high cardinality"),
    ("cs_hash_min", (c: Seq[Expression]) =>
      CsHashAgg("min", c(0), c(1)).toAggregateExpression(),
      "cs_hash_min(x, grp) - map<grp, min(x)>; whole map in ONE buffer, " +
        "errors past 2^20 groups - use GROUP BY for high cardinality"),
    ("cs_hash_max", (c: Seq[Expression]) =>
      CsHashAgg("max", c(0), c(1)).toAggregateExpression(),
      "cs_hash_max(x, grp) - map<grp, max(x)>; whole map in ONE buffer, " +
        "errors past 2^20 groups - use GROUP BY for high cardinality"),
    ("cs_hash_count", (c: Seq[Expression]) =>
      CsHashAgg("count", Literal(1L), c(0)).toAggregateExpression(),
      "cs_hash_count(grp) - map<grp, count> of non-NULL grp; whole map in " +
        "ONE buffer, errors past 2^20 groups - use GROUP BY for high cardinality"),
    ("cs_hash_any", (c: Seq[Expression]) =>
      CsHashAgg("any", c(0), c(1)).toAggregateExpression(),
      "cs_hash_any(x, grp) - map<grp, bitwise OR of x> (func.c:5385-5447); " +
        "whole map in ONE buffer, errors past 2^20 groups"),
    ("cs_hash_all", (c: Seq[Expression]) =>
      CsHashAgg("all", c(0), c(1)).toAggregateExpression(),
      "cs_hash_all(x, grp) - map<grp, bitwise AND of x>; whole map in ONE " +
        "buffer, errors past 2^20 groups"),
    ("cs_hash_dup_count", (c: Seq[Expression]) =>
      CsHashDupCount(c(0), c(1), c(2)).toAggregateExpression(),
      "cs_hash_dup_count(x, grp, min_occ) - map<grp, distinct x occurring >= " +
        "min_occ times> (func.c:5750-6215); whole map in ONE buffer, errors " +
        "past 2^20 groups"),
    ("cs_project_agg", (c: Seq[Expression]) => {
      // explode the cs_hash_* map to (group_by, agg_val) rows — the
      // reference's cs_project_agg record-set (imcs--1.1.sql:1020-1028)
      val e = UnresolvedNamedLambdaVariable(Seq("e"))
      Inline(ArrayTransform(MapEntries(c(0)), LambdaFunction(
        CreateNamedStruct(Seq(
          Literal("group_by"),
          org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(e, Literal("key")),
          Literal("agg_val"),
          org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(e, Literal("value")))),
        Seq(e))))
    },
      "cs_project_agg(m) - explode a cs_hash_* map to (group_by, agg_val) rows"),
    ("cs_cut", (c: Seq[Expression]) => {
      // split a ||-packed compound key back into fields per the reference's
      // layout descriptor, e.g. 'i1i1' = two 1-byte fields (imcs.c:5601-5767)
      val layout = c(1) match {
        case Literal(s, _: StringType) if s != null => s.toString
        case other => throw new IllegalArgumentException(
          s"cs_cut layout must be a string literal, got $other")
      }
      val widths = "([a-z])(\\d+)".r.findAllMatchIn(layout).map(_.group(2).toInt).toSeq
      require(widths.nonEmpty, s"cs_cut: unparseable layout '$layout'")
      val offsets = widths.scanLeft(1)(_ + _)
      CreateNamedStruct(widths.indices.flatMap(i => Seq(
        Literal(s"f${i + 1}"),
        Substring(c(0), Literal(offsets(i)), Literal(widths(i))))))
    },
      "cs_cut(key, layout) - unpack a ||-packed compound group key into struct fields"),
    ("cs_minhash", (c: Seq[Expression]) => {
      val k = c(1) match {
        case Literal(v: Int, _) => v
        case Literal(v: Long, _) => v.toInt
        case other => throw new IllegalArgumentException(
          s"cs_minhash signature width must be an integer literal, got $other")
      }
      MinHashSig(c(0), k)
    },
      "cs_minhash(shingles, k) - k-lane MinHash signature in one fused pass"),
    ("cs_diff", (c: Seq[Expression]) => CsSeriesDiff(c(0)),
      "cs_diff(arr) - first-order difference of a series array (func.c:1029-1077)"),
    ("cs_ema", (c: Seq[Expression]) => CsSeriesEma(c(0), c(1)),
      "cs_ema(arr, n) - exponential moving average over a series array (func.c:1764-1777)"),
    ("cs_rank", (c: Seq[Expression]) =>
      if (c.size == 1) CsSeriesRank(c(0)) else CsSeriesRankOrd(c(0), ascArg(c(1))),
      "cs_rank(arr[, 'asc'|'desc']) - 1-based rank with gaps per element (func.c:3495-3561)"),
    ("cs_top_max", (c: Seq[Expression]) => CsSeriesTop(c(0), c(1), desc = true),
      "cs_top_max(arr, k) - k largest values, sorted desc (func.c:3088-3208)"),
    ("cs_top_min", (c: Seq[Expression]) => CsSeriesTop(c(0), c(1), desc = false),
      "cs_top_min(arr, k) - k smallest values, sorted asc"),
    ("cs_asof", (c: Seq[Expression]) => CsAsofLookup(c(0), c(1), c(2)),
      "cs_asof(ts, right_ts_sorted, right_vals) - latest right value at/before ts"),
    // ---- the scalar operator surface (imcs--1.1.sql:550-660), POLYMORPHIC
    // over scalars and array series: scalar operands plan as the Spark
    // natives (unchanged codegen); an array operand lifts the op
    // element-wise — arr-arr zips to the shorter input, arr-scalar
    // broadcasts the scalar, exactly the reference's
    // cs_add(ts, cs_const(...)) overload model (SeriesPolyFns.scala).
    ("cs_abs", (c: Seq[Expression]) => CsPolyUnary("abs", c(0)), "cs_abs(x) - |x|"),
    ("cs_neg", (c: Seq[Expression]) => CsPolyUnary("neg", c(0)), "cs_neg(x) - -x"),
    ("cs_add", (c: Seq[Expression]) => CsPolyBinary("add", c(0), c(1)), "cs_add(x, y)"),
    ("cs_sub", (c: Seq[Expression]) => CsPolyBinary("sub", c(0), c(1)), "cs_sub(x, y)"),
    ("cs_mul", (c: Seq[Expression]) => CsPolyBinary("mul", c(0), c(1)), "cs_mul(x, y)"),
    ("cs_div", (c: Seq[Expression]) => CsPolyBinary("div", c(0), c(1)), "cs_div(x, y)"),
    ("cs_mod", (c: Seq[Expression]) => CsPolyBinary("mod", c(0), c(1)), "cs_mod(x, y)"),
    ("cs_pow", (c: Seq[Expression]) => CsPolyBinary("pow", c(0), c(1)), "cs_pow(x, y)"),
    ("cs_sin", (c: Seq[Expression]) => CsPolyUnary("sin", c(0)), "cs_sin(x)"),
    ("cs_cos", (c: Seq[Expression]) => CsPolyUnary("cos", c(0)), "cs_cos(x)"),
    ("cs_tan", (c: Seq[Expression]) => CsPolyUnary("tan", c(0)), "cs_tan(x)"),
    ("cs_asin", (c: Seq[Expression]) => CsPolyUnary("asin", c(0)), "cs_asin(x)"),
    ("cs_acos", (c: Seq[Expression]) => CsPolyUnary("acos", c(0)), "cs_acos(x)"),
    ("cs_atan", (c: Seq[Expression]) => CsPolyUnary("atan", c(0)), "cs_atan(x)"),
    ("cs_exp", (c: Seq[Expression]) => CsPolyUnary("exp", c(0)), "cs_exp(x)"),
    ("cs_log", (c: Seq[Expression]) => CsPolyUnary("log", c(0)), "cs_log(x) - natural log"),
    ("cs_sqrt", (c: Seq[Expression]) => CsPolyUnary("sqrt", c(0)), "cs_sqrt(x)"),
    ("cs_ceil", (c: Seq[Expression]) => CsPolyUnary("ceil", c(0)), "cs_ceil(x)"),
    ("cs_floor", (c: Seq[Expression]) => CsPolyUnary("floor", c(0)), "cs_floor(x)"),
    ("cs_isnan", (c: Seq[Expression]) => CsPolyUnary("isnan", c(0)), "cs_isnan(x)"),
    ("cs_eq", (c: Seq[Expression]) => CsPolyBinary("eq", c(0), c(1)), "cs_eq(x, y)"),
    ("cs_ne", (c: Seq[Expression]) => CsPolyBinary("ne", c(0), c(1)), "cs_ne(x, y)"),
    ("cs_gt", (c: Seq[Expression]) => CsPolyBinary("gt", c(0), c(1)), "cs_gt(x, y)"),
    ("cs_ge", (c: Seq[Expression]) => CsPolyBinary("ge", c(0), c(1)), "cs_ge(x, y)"),
    ("cs_lt", (c: Seq[Expression]) => CsPolyBinary("lt", c(0), c(1)), "cs_lt(x, y)"),
    ("cs_le", (c: Seq[Expression]) => CsPolyBinary("le", c(0), c(1)), "cs_le(x, y)"),
    ("cs_not", (c: Seq[Expression]) => CsPolyUnary("not", c(0)),
      "cs_not(x) - logical not: boolean negation, or x==0 over int conditions"),
    ("cs_and", (c: Seq[Expression]) => CsPolyBinary("and", c(0), c(1)),
      "cs_and(x, y) - bitwise AND (the reference's & over int series)"),
    ("cs_or", (c: Seq[Expression]) => CsPolyBinary("or", c(0), c(1)),
      "cs_or(x, y) - bitwise OR"),
    ("cs_xor", (c: Seq[Expression]) => CsPolyBinary("xor", c(0), c(1)),
      "cs_xor(x, y) - bitwise XOR"),
    ("cs_bit_not", (c: Seq[Expression]) => CsPolyUnary("bit_not", c(0)),
      "cs_bit_not(x) - bitwise NOT (the ~ operator)"),
    ("cs_cast", (c: Seq[Expression]) => {
      val tpe = c(1) match {
        case Literal(s, _: StringType) if s != null => s.toString
        case other => throw new IllegalArgumentException(
          s"cs_cast target type must be a string literal, got $other")
      }
      Cast(c(0), org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(tpe))
    },
      "cs_cast(x, 'type') - the reference's cs_cast (func.c:2684-2832) via a SQL type name"),
    ("cs_like", (c: Seq[Expression]) => Like(c(0), c(1), '\\'), "cs_like(s, pattern)"),
    ("cs_ilike", (c: Seq[Expression]) => new ILike(c(0), c(1)), "cs_ilike(s, pattern)"),
    ("cs_year", (c: Seq[Expression]) => Year(c(0)), "cs_year(ts)"),
    ("cs_quarter", (c: Seq[Expression]) => Quarter(c(0)), "cs_quarter(ts)"),
    ("cs_month", (c: Seq[Expression]) => Month(c(0)), "cs_month(ts)"),
    ("cs_week", (c: Seq[Expression]) => WeekOfYear(c(0)), "cs_week(ts) - ISO week"),
    ("cs_mday", (c: Seq[Expression]) => DayOfMonth(c(0)), "cs_mday(ts) - day of month"),
    ("cs_wday", (c: Seq[Expression]) => DayOfWeek(c(0)),
      "cs_wday(ts) - day of week (Spark semantics: 1 = Sunday)"),
    ("cs_hour", (c: Seq[Expression]) => Hour(c(0)), "cs_hour(ts)"),
    ("cs_minute", (c: Seq[Expression]) => Minute(c(0)), "cs_minute(ts)"),
    ("cs_second", (c: Seq[Expression]) => Second(c(0)), "cs_second(ts)"),
    ("cs_count", (c: Seq[Expression]) => Count(Seq(c(0))).toAggregateExpression(),
      "cs_count(x) - count of non-null x"),
    ("cs_sum", (c: Seq[Expression]) => Sum(c(0)).toAggregateExpression(), "cs_sum(x)"),
    ("cs_avg", (c: Seq[Expression]) => Average(c(0)).toAggregateExpression(), "cs_avg(x)"),
    ("cs_min", (c: Seq[Expression]) => Min(c(0)).toAggregateExpression(), "cs_min(x)"),
    ("cs_max", (c: Seq[Expression]) => Max(c(0)).toAggregateExpression(), "cs_max(x)"),
    ("cs_var", (c: Seq[Expression]) => VariancePop(c(0)).toAggregateExpression(),
      "cs_var(x) - population variance (func.c:1475-1491)"),
    ("cs_dev", (c: Seq[Expression]) => StddevPop(c(0)).toAggregateExpression(),
      "cs_dev(x) - population stddev"),
    ("cs_cov", (c: Seq[Expression]) => CovPopulation(c(0), c(1)).toAggregateExpression(),
      "cs_cov(x, y) - population covariance"),
    ("cs_corr", (c: Seq[Expression]) => Corr(c(0), c(1)).toAggregateExpression(),
      "cs_corr(x, y)"),
    ("cs_median", (c: Seq[Expression]) => new Median(c(0)).toAggregateExpression(),
      "cs_median(x) - exact median"),
    ("cs_approxdc", (c: Seq[Expression]) => HyperLogLogPlusPlus(c(0)).toAggregateExpression(),
      "cs_approxdc(x) - approximate distinct count (HLL++)"),
    ("cs_all", (c: Seq[Expression]) => BitAndAgg(c(0)).toAggregateExpression(),
      "cs_all(x) - bitwise AND reduction (func.c:1446-1456)"),
    ("cs_any", (c: Seq[Expression]) => BitOrAgg(c(0)).toAggregateExpression(),
      "cs_any(x) - bitwise OR reduction"),
    ("cs_trend", (c: Seq[Expression]) => CsSeriesTrend(c(0)),
      "cs_trend(arr) - carried sign of the last non-zero delta (func.c:2305-2343)"),
    ("cs_cross", (c: Seq[Expression]) => CsSeriesCross(c(0), c(1)),
      "cs_cross(arr, dir) - zero-crossing indexes; dir>0 up, <0 down, 0 both (func.c:4170-4219)"),
    ("cs_norm", (c: Seq[Expression]) => CsSeriesNorm(c(0)),
      "cs_norm(arr) - x/sqrt(sum x^2) (func.c:594-658)"),
    ("cs_quantile", (c: Seq[Expression]) => CsSeriesQuantile(c(0), c(1)),
      "cs_quantile(arr, q) - q+1 percentile boundaries of the sorted series (func.c:3562-3603)")) ++
    // ---- the series calculus over array series (SeriesCalcFns): the
    // ---- cumulative/window/grid/run-group/sort/align/slice families of
    // ---- imcs--1.1.sql:518-1058, one registered name per reference name
    CsSeriesCum.ops.toSeq.sorted.map(op =>
      (s"cs_cum_$op", (c: Seq[Expression]) => CsSeriesCum(op, c(0)): Expression,
        s"cs_cum_$op(arr) - cumulative $op over a series array (func.c:1791-1887)")) ++
    CsSeriesWindowAgg.ops.toSeq.sorted.map(op =>
      (s"cs_window_$op", (c: Seq[Expression]) => CsSeriesWindowAgg(op, c(0), c(1)): Expression,
        s"cs_window_$op(arr, n) - moving-window $op over a series array (func.c:1632-1790)")) ++
    (CsSeriesWindowAgg.ops - "atr").toSeq.sorted.map(op =>
      (s"cs_grid_$op", (c: Seq[Expression]) => CsSeriesGrid(op, c(0), c(1)): Expression,
        s"cs_grid_$op(arr, step) - tumbling step-bucket $op (func.c:2170-2266)")) ++
    CsSeriesGroupAgg.ops.toSeq.sorted.flatMap { op =>
      // cs_group_count takes only the group series; every other op takes
      // (vals, groups) — same signatures as imcs--1.1.sql:700-760
      def mk(windowed: Boolean)(c: Seq[Expression]): Expression =
        if (op == "count") CsSeriesGroupAgg(op, windowed, c(0), c(0))
        else CsSeriesGroupAgg(op, windowed, c(0), c(1))
      val args = if (op == "count") "(groups)" else "(vals, groups)"
      Seq(
        (s"cs_group_$op", mk(windowed = false) _,
          s"cs_group_$op$args - per-run $op, one element per run of equal adjacent groups (func.c:1898-2092)"),
        (s"cs_win_group_$op", mk(windowed = true) _,
          s"cs_win_group_$op$args - length-preserving per-run $op (func.c:6594-6790)"))
    } ++ Seq(
    ("cs_sort", (c: Seq[Expression]) =>
      SortArray(c(0), if (c.size == 1) Literal(true) else ascArg(c(1))),
      "cs_sort(arr[, asc|'asc'|'desc']) - sorted values (func.c:3210-3322; Spark-native sort_array)"),
    ("cs_sort_asc", (c: Seq[Expression]) => SortArray(c(0), Literal(true)),
      "cs_sort_asc(arr) - the reference's 'asc' enum sugar (imcs--1.1.sql:10)"),
    ("cs_sort_pos", (c: Seq[Expression]) =>
      CsSeriesSortPos(c(0), if (c.size == 1) Literal(true) else ascArg(c(1))),
      "cs_sort_pos(arr[, asc]) - stable sort permutation, 0-based source positions (func.c:3210-3322)"),
    ("cs_sort_pos_asc", (c: Seq[Expression]) => CsSeriesSortPos(c(0), Literal(true)),
      "cs_sort_pos_asc(arr) - ascending stable sort permutation"),
    ("cs_rank_asc", (c: Seq[Expression]) => CsSeriesRank(c(0)),
      "cs_rank_asc(arr) - ascending 1-based rank with gaps (the reference's default order)"),
    ("cs_dense_rank", (c: Seq[Expression]) =>
      CsSeriesDenseRank(c(0), if (c.size == 1) Literal(true) else ascArg(c(1))),
      "cs_dense_rank(arr[, asc|'asc'|'desc']) - 1-based rank without gaps (func.c:3495-3561)"),
    ("cs_dense_rank_asc", (c: Seq[Expression]) => CsSeriesDenseRank(c(0), Literal(true)),
      "cs_dense_rank_asc(arr) - ascending dense rank"),
    ("cs_top_max_pos", (c: Seq[Expression]) => CsSeriesTopPos(c(0), c(1), desc = true),
      "cs_top_max_pos(arr, k) - positions of the k largest values (func.c:3088-3208)"),
    ("cs_top_min_pos", (c: Seq[Expression]) => CsSeriesTopPos(c(0), c(1), desc = false),
      "cs_top_min_pos(arr, k) - positions of the k smallest values"),
    ("cs_histogram", (c: Seq[Expression]) => CsSeriesHistogram(c),
      "cs_histogram(arr, min, max, n) - counts per equal-width bin over [min, max) (func.c:4062-4133)"),
    ("cs_extrema", (c: Seq[Expression]) => CsSeriesExtrema(c(0)),
      "cs_extrema(arr) - positions where the trend reverses (func.c:4221-4305)"),
    ("cs_if", (c: Seq[Expression]) => CsSeriesIf(c(0), c(1), c(2)),
      "cs_if(cond, then, else) - stateful branch-consume conditional (func.c:2559-2681)"),
    ("cs_asof_join", (c: Seq[Expression]) => CsSeriesAlign("asof_join", c),
      "cs_asof_join(ts1, ts2, vals) - value at the NEAREST right ts (user_guide.html example; func.c:4499-4577)"),
    ("cs_asof_join_pos", (c: Seq[Expression]) => CsSeriesAlign("asof_join_pos", c),
      "cs_asof_join_pos(ts1, ts2) - position of the nearest right ts"),
    ("cs_join", (c: Seq[Expression]) => CsSeriesAlign("join", c),
      "cs_join(ts1, ts2, vals) - values at exact ts matches, one-to-one (func.c:4677-4801)"),
    ("cs_join_pos", (c: Seq[Expression]) => CsSeriesAlign("join_pos", c),
      "cs_join_pos(ts1, ts2) - positions of exact ts matches"),
    ("cs_stretch", (c: Seq[Expression]) => CsSeriesAlign("stretch", c),
      "cs_stretch(ts1, ts2, vals, filler) - value at first right ts > left ts, filler when exhausted (func.c:4308-4360)"),
    ("cs_stretch0", (c: Seq[Expression]) => CsSeriesAlign("stretch0", c),
      "cs_stretch0(ts1, ts2, vals, filler) - merged ts union: vals where ts2 matches, filler where only ts1 (func.c:4395-4465)"),
    ("cs_limit", (c: Seq[Expression]) => CsSeriesSlice(c(0), c(1), c(2)),
      "cs_limit(arr, from, till) - inclusive positional slice, negatives from the end (func.c:3938-4026)"),
    ("cs_head", (c: Seq[Expression]) => CsSeriesSlice(c(0), Literal(0), Subtract(c(1), Literal(1))),
      "cs_head(arr, n) = cs_limit(arr, 0, n-1) (imcs--1.1.sql:856)"),
    ("cs_tail", (c: Seq[Expression]) => CsSeriesSlice(c(0), UnaryMinus(c(1)), Literal(-1)),
      "cs_tail(arr, n) = cs_limit(arr, -n, -1) (imcs--1.1.sql:857)"),
    ("cs_cut_head", (c: Seq[Expression]) => CsSeriesSlice(c(0), c(1), Literal(Long.MaxValue)),
      "cs_cut_head(arr, n) = cs_limit(arr, n, MAX) - skip first n (imcs--1.1.sql:858)"),
    ("cs_cut_tail", (c: Seq[Expression]) => CsSeriesSlice(c(0), Literal(0), Subtract(UnaryMinus(c(1)), Literal(1))),
      "cs_cut_tail(arr, n) = cs_limit(arr, 0, -n-1) - skip last n (imcs--1.1.sql:859)"),
    ("cs_thin", (c: Seq[Expression]) => CsSeriesThin(c(0), c(1), c(2)),
      "cs_thin(arr, origin, step) - every step-th element from origin (func.c:664-767)"),
    ("cs_unique", (c: Seq[Expression]) => CsSeriesUnique(c(0)),
      "cs_unique(arr) - collapse runs of equal adjacent values (func.c:3737-3844)"),
    ("cs_map", (c: Seq[Expression]) => CsSeriesGather(c(0), c(1)),
      "cs_map(arr, positions) - positional gather (btree.c:255-347)"),
    ("cs_filter_pos", (c: Seq[Expression]) => CsSeriesFilterPos(c(0)),
      "cs_filter_pos(cond) - 0-based positions where cond holds (func.c:2834-2930)"),
    ("cs_filter_first_pos",
      // n <= 0 must be EMPTY: the slice's n-1 = -1 till would otherwise
      // be reinterpreted as a from-the-end index, returning ALL positions
      (c: Seq[Expression]) => If(LessThanOrEqual(c(1), Literal(0)),
        Literal.create(Seq.empty[Long], ArrayType(LongType, containsNull = false)),
        CsSeriesSlice(CsSeriesFilterPos(c(0)), Literal(0), Subtract(c(1), Literal(1)))),
      "cs_filter_first_pos(cond, n) - first n positions where cond holds (func.c:2931-2980)"),
    ("cs_repeat", (c: Seq[Expression]) => CsSeriesRepeat(c(0), c(1)),
      "cs_repeat(arr, n) - each element repeated n times (func.c:769-862)"),
    ("cs_reverse", (c: Seq[Expression]) => Reverse(c(0)),
      "cs_reverse(arr) - reversed series (func.c:864-958; Spark-native reverse)"),
    ("cs_concat", (c: Seq[Expression]) => Concat(c),
      "cs_concat(a, b, ...) - series concatenation (func.c:960-1027; Spark-native concat)"),
    ("cs_cat", (c: Seq[Expression]) => Concat(c),
      "cs_cat(a, b) - element-wise || concatenation for compound keys (imcs.c:5601-5767)"),
    ("cs_union", (c: Seq[Expression]) => SortArray(Concat(Seq(c(0), c(1))), Literal(true)),
      "cs_union(a, b) - merge two SORTED series, duplicates kept (func.c:3846-3936; " +
        "sort-of-concat = the merge for sorted inputs)"),
    ("cs_window_ema", (c: Seq[Expression]) => CsSeriesEma(c(0), c(1)),
      "cs_window_ema(arr, n) - the reference's registered EMA name (imcs--1.1.sql; func.c:1764-1777)"),
    ("cs_prd", (c: Seq[Expression]) => CsProdAgg(c(0)).toAggregateExpression(),
      "cs_prd(x) - product aggregate, NULL on empty input (func.c:1407-1444)"),
    ("cs_parse", (c: Seq[Expression]) => {
      // the reference's series-literal syntax (imcs.c input function,
      // user_guide 'int4:{1,2,3}'): both the 2-arg cs_parse('{..}', 'type')
      // form and the self-describing 'type:{..}' 1-arg form, resolved at
      // build time to an array literal. Int family -> array<bigint>,
      // float family -> array<double> (the calculus' two carrier types).
      def strLit(e: Expression, what: String): String = e match {
        case Literal(s, _: StringType) if s != null => s.toString
        case other => throw new IllegalArgumentException(
          s"cs_parse $what must be a string literal, got $other")
      }
      val (body, tpe) =
        if (c.size >= 2) (strLit(c(0), "series"), strLit(c(1), "type"))
        else strLit(c(0), "series").split(":", 2) match {
          case Array(t, b) => (b, t)
          case _ => throw new IllegalArgumentException(
            "cs_parse: 1-arg form needs a 'type:{...}' literal")
        }
      val inner = body.trim.stripPrefix("{").stripSuffix("}").trim
      val parts = if (inner.isEmpty) Array.empty[String]
                  else inner.split(",").map(_.trim)
      tpe match {
        case "char" | "int2" | "int4" | "int8" | "date" | "time" | "timestamp" =>
          Literal.create(parts.map(_.toLong).toSeq,
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType, containsNull = false))
        case "float4" | "float8" | "money" =>
          Literal.create(parts.map(_.toDouble).toSeq,
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, containsNull = false))
        case other => throw new IllegalArgumentException(
          s"cs_parse: unsupported element type '$other'")
      }
    },
      "cs_parse('{1,2,3}', 'int4') or cs_parse('int4:{1,2,3}') - the reference's series literal as an array"),
    ("cs_const", (c: Seq[Expression]) => {
      // the reference's infinite constant series (func.c:1308-1351,
      // imcs--1.1.sql:538-556): under the lifted calculus a SCALAR plays
      // that role — every binary op broadcasts it across the series
      // operand — so cs_const is the identity (optionally cast to the
      // named element type, reproducing e.g. the float4 arithmetic of
      // operators.sql's cs_parse(...)+cs_const(3.14,'float4')).
      if (c.size == 1) c(0)
      else c(1) match {
        case Literal(s, _: StringType) if s != null =>
          Cast(c(0), GraftFunctions.elemType(s.toString))
        case other => throw new IllegalArgumentException(
          s"cs_const element type must be a string literal, got $other")
      }
    },
      "cs_const(v[, 'type']) - constant series: a scalar broadcasts across any series operand"),
    ("cs_from_array", (c: Seq[Expression]) => c(0),
      "cs_from_array(arr) - identity: an ARRAY already is the series representation (func.c:1153-1201)"),
    // cs_to_array / cs_as_array (imcs--1.1.sql:1045-1058): the reverse
    // direction is equally the identity here. The remaining unregistered
    // imcs--1.1.sql names are deliberate: per-type/operand-order overload
    // shims (cs_add_num_seq, cs_eq_str, ...) exist only because PG lacks
    // polymorphic dispatch - the generic cs_* builders here dispatch on
    // argument types at analysis; tid/storage/introspection plumbing
    // (cs_get_tid, cs_create, cs_used_memory, ...) is N/A per SURVEY
    // section 8; dictionary codes are frame-level (text/Dict.scala).
    ("cs_to_array", (c: Seq[Expression]) => c(0),
      "cs_to_array(series) - identity: the series carrier IS a SQL array (imcs--1.1.sql:1045)"),
    ("cs_as_array", (c: Seq[Expression]) => c(0),
      "cs_as_array(series) - identity alias of cs_to_array (imcs--1.1.sql:1045-1058)"),
    ("cs_empty", (c: Seq[Expression]) => EqualTo(Size(c(0)), Literal(0)),
      "cs_empty(arr) - true when the series has no elements (imcs.c:3613-3667)"),
    ("cs_as", (c: Seq[Expression]) => {
      // reinterpret a ||-packed key as one value of the named SQL type
      // (the reference's bytea cast, imcs.c:4965-5060); single-field
      // sibling of cs_cut
      val tpe = c(1) match {
        case Literal(s, _: StringType) if s != null => s.toString
        case other => throw new IllegalArgumentException(
          s"cs_as type must be a string literal, got $other")
      }
      Cast(c(0), org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(tpe))
    },
      "cs_as(key, 'type') - reinterpret a packed compound key as one value of the SQL type")) ++
    // ---- series -> typed SQL array (imcs--1.1.sql:1045-1058, imcs.c:5532):
    // the carrier arrays (bigint/double) cast element-wise to the named
    // PG-side type; date/timestamp convert from epoch days / microseconds.
    Seq("int2" -> ShortType, "int4" -> IntegerType, "int8" -> LongType,
      "float4" -> FloatType, "float8" -> DoubleType, "char" -> ByteType,
      "bpchar" -> StringType, "varchar" -> StringType,
      "money" -> DecimalType(19, 2), "time" -> LongType).map { case (n, dt) =>
      (s"cs_to_${n}_array",
        (c: Seq[Expression]) => Cast(c(0), ArrayType(dt)): Expression,
        s"cs_to_${n}_array(arr) - series as a typed SQL array (imcs--1.1.sql:1045-1058)")
    } ++ Seq(
    ("cs_to_date_array", (c: Seq[Expression]) => {
      val d = UnresolvedNamedLambdaVariable(Seq("d"))
      ArrayTransform(c(0), LambdaFunction(
        DateAdd(Literal.create(0, DateType), Cast(d, IntegerType)), Seq(d)))
    },
      "cs_to_date_array(arr) - epoch-day series as array<date>"),
    ("cs_to_timestamp_array", (c: Seq[Expression]) => {
      val t = UnresolvedNamedLambdaVariable(Seq("t"))
      ArrayTransform(c(0), LambdaFunction(MicrosToTimestamp(t), Seq(t)))
    },
      "cs_to_timestamp_array(arr) - epoch-microsecond series as array<timestamp> (PG timestamp precision)"),
    ("cs_table_stats", (c: Seq[Expression]) => TableStatsExpr(c(0)),
      "cs_table_stats(path) - one JSON object of a managed table's operational snapshot (live/retired files+bytes, fold backlog, stream high-water, lease, pins) - cs_used_memory/cs_profile analog (imcs.c:5716-5767); columnar form: graft.io.Tables.stats"))

  /** Installs every `cs_*` name the session does not already resolve, as
    * a temp function. Idempotent, and a function the user registered
    * under one of these names is never replaced.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, b, _) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }
}

/** The one deliberately non-codegen cs_* expression: operational
  * introspection, not a per-row function — it evaluates a filesystem
  * -metadata snapshot ([[graft.io.Tables.statsJson]]), typically once
  * over a literal path. Marked non-deterministic so the optimizer never
  * constant-folds a stale snapshot into a reused plan.
  */
case class TableStatsExpr(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "cs_table_stats"
  protected override def nullSafeEval(path: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      graft.io.Tables.statsJson(path.toString))
  override protected def withNewChildInternal(newChild: Expression): TableStatsExpr =
    copy(child = newChild)
}

/** `spark.sql.extensions` entry point: injects the cs_* functions at
  * session build time (SparkSessionExtensions is the supported plugin
  * surface for adding resolved functions cluster-wide).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder, usage) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.sqlext.GraftFunctions", name, usage),
        builder))
    }
    // the custom as-of plan node (graft.plans.AsofMergeJoin)
    e.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // the ordered-scan node (graft.plans.OrderedScan)
    e.injectPlannerStrategy(_ => graft.plans.OrderedScanStrategy)
    // concat-of-disjoint-slices → one scan (graft.plans.UnionCollapse)
    e.injectOptimizerRule(_ => graft.plans.UnionDisjointFilterCollapse)
  }
}
