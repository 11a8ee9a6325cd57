package graft.text

import graft.series.Series
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** User-visible dictionary codes for string columns — cs_str2code /
  * cs_code2str (imcs.c:5769-5812). The reference dictionary-encodes every
  * varchar column into int16/int32 codes in one shared dictionary bounded
  * at 64 KB for small codes (imcs.h:35 IMCS_SMALL_DICTIONARY).
  *
  * Spark/Parquet dictionary-encode storage automatically; this exists for
  * the cases where codes must be user-visible (joins on code, compact
  * shuffles of high-frequency strings). Codes are the 0-based rank of the
  * sorted distinct values — deterministic and reproducible by any engine
  * (dense_rank over distinct), unlike insertion-order codes.
  *
  * Scale shape: `distinct` is one shuffle over the value column; the
  * dictionary itself is assumed small relative to the data (the same
  * assumption the reference makes), so the code-assignment sort runs on
  * dictionary-sized data via the ranged numbering in Series, and lookups
  * broadcast.
  */
object Dict {

  /** Trusted row counts, keyed by the dictionary frame's CANONICALIZED
    * logical plan (structural equality — exprIds normalized). [[build]]
    * registers its exact count; [[trustedRows]] memoizes a hand-built
    * dictionary's first count so a loop of lookup calls over the same
    * dictionary pays at most ONE count job. A transformed frame (union,
    * join, filter) canonicalizes differently and therefore re-counts —
    * the stale-stamp hazard cannot reach the broadcast decision. Weak
    * keys: entries die with the plan they describe.
    *
    * LIMIT: the memo keys the PLAN, not the data — a dictionary read from
    * a MUTABLE catalog table keeps its first count across appends (the
    * same plan canonicalizes identically), so a table that grows past
    * [[MaxBroadcastRows]] after first sight would still force-broadcast.
    * Dictionaries over mutable sources should be re-built ([[build]])
    * after ingest — the rebuilt frame is a new plan and re-registers.
    */
  private val knownRows = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      java.lang.Long]())

  /** The dictionary's row count from the trusted registry, counting (and
    * memoizing) on first sight. Dictionary-sized work at worst, zero jobs
    * on every repeat call.
    */
  private[graft] def trustedRows(dict: DataFrame): Long = {
    val key = dict.queryExecution.analyzed.canonicalized
    Option(knownRows.get(key)).map(_.toLong).getOrElse {
      val n = dict.count()
      knownRows.put(key, n)
      n
    }
  }

  /** Build the dictionary: (code: long, value) with code = sorted rank.
    * The numbering is lazy; the row count (the distinct count, no
    * numbering) is the one job here, a dictionary-sized one paid once per
    * BUILD rather than once per lookup.
    */
  def build(df: DataFrame, value: String): DataFrame = {
    val distinct = df.select(col(value)).distinct()
    val d = Series.attachPosRanged(distinct, Seq(), Seq(col(value)), out = "code")
      .select(col("code"), col(value))
    knownRows.put(d.queryExecution.analyzed.canonicalized, distinct.count())
    d
  }

  /** ONE dictionary shared across frames and columns — the reference's
    * actual model: a single store-wide dictionary serves every encoded
    * column (imcs.h:125-135), so codes assigned in one table join codes
    * assigned in another. Built over the UNION of the input domains
    * (each a cheap distinct on its own column, then one dictionary-sized
    * rank); values appearing in several inputs get ONE code. Frame-local
    * [[build]] remains the right call when domains never meet — the
    * shared dictionary is for schemas where the same logical domain
    * (status codes, symbols, language tags) spans tables and downstream
    * joins want to run on ints.
    */
  def buildShared(inputs: Seq[(DataFrame, String)]): DataFrame = {
    require(inputs.nonEmpty, "buildShared needs at least one (frame, column)")
    val types = inputs.map { case (df, c) => (c, df.schema(c).dataType) }
    require(types.map(_._2).distinct.size == 1,
      s"shared dictionary domains must agree on type; got " +
        types.map { case (c, t) => s"$c: ${t.simpleString}" }.mkString(", "))
    val union = inputs.map { case (df, c) => df.select(col(c).as("value")) }
      .reduce(_.unionByName(_))
    build(union, "value")
  }

  /** Rows above which the dictionary is NOT force-broadcast. The reference
    * hard-bounds its small dictionary at 64K entries (imcs.h:35) and grows
    * into int32 codes past that; our equivalent of "grown past small" is
    * falling back from the forced broadcast to a plain join that
    * Catalyst/AQE plan normally (still a broadcast if the byte size turns
    * out under autoBroadcastJoinThreshold, a shuffled hash join otherwise
    * — never a driver OOM from force-shipping a 100M-entry dictionary).
    * 4M rows of (long, short string) ≈ low hundreds of MB serialized —
    * the edge of sane for a 128 GiB-executor broadcast.
    */
  val MaxBroadcastRows: Long = 4L * 1000 * 1000

  /** Force-broadcast only a dictionary that is actually small. The size
    * decision is made on the CALLER-SUPPLIED dict frame (before the lookup
    * projection) via [[trustedRows]] — build-registered counts are free,
    * hand-built dictionaries pay one memoized dictionary-sized count, and
    * a frame derived from a registered dictionary (union, filter, join)
    * re-counts rather than inheriting a stale number.
    */
  private def maybeBroadcast(projected: DataFrame, rows: Long,
                             maxRows: Long): DataFrame =
    if (rows <= maxRows) broadcast(projected) else projected

  /** cs_str2code: attach `outCol` with the dictionary code of `value`.
    * A small dictionary side is broadcast — a map-side hash lookup, no
    * shuffle of the data table; past `maxBroadcastRows` the join plans
    * normally (see [[MaxBroadcastRows]]). The dictionary's value column
    * joins by POSITION (its one non-code column), not by name, so a
    * shared dictionary built over a union encodes any column name.
    */
  def str2code(df: DataFrame, dict: DataFrame, value: String,
               outCol: String = "code",
               maxBroadcastRows: Long = MaxBroadcastRows): DataFrame = {
    require(dict.columns.length == 2 && dict.columns.contains("code"),
      s"dictionary must be exactly (code, value), got (${dict.columns.mkString(", ")})")
    require(!df.columns.exists(_.equalsIgnoreCase(outCol)),
      s"str2code output column '$outCol' already exists on the frame; " +
        "pass a distinct outCol")
    val dv = dict.columns.filter(_ != "code").head
    df.join(
      maybeBroadcast(
        dict.select(col("code").as(outCol), col(dv).as(value)),
        trustedRows(dict), maxBroadcastRows),
      Seq(value), "left")
  }

  /** cs_code2str: resolve `codeCol` back to the string value. Same
    * size-guarded broadcast as [[str2code]].
    */
  def code2str(df: DataFrame, dict: DataFrame, codeCol: String,
               outCol: String = "value",
               maxBroadcastRows: Long = MaxBroadcastRows): DataFrame = {
    require(dict.columns.length == 2 && dict.columns.contains("code"),
      s"dictionary must be exactly (code, value), got (${dict.columns.mkString(", ")})")
    require(!df.columns.exists(_.equalsIgnoreCase(outCol)),
      s"code2str output column '$outCol' already exists on the frame; " +
        "pass a distinct outCol")
    val d = dict.select(col("code").as(codeCol),
      dict.columns.filter(_ != "code").map(col).head.as(outCol))
    df.join(maybeBroadcast(d, trustedRows(dict), maxBroadcastRows),
      Seq(codeCol), "left")
  }
}
