package graft.dedup

import graft.sqlext.{BucketPairs, HammingBucketPairs, MinHashSig, SimHash64}
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines at 100 TB scale.
  *
  * Exact dedup is a hash group-by (one shuffle on the content hash; the
  * hash, not the text, is the shuffle key, so shuffle volume is bytes per
  * doc, not the doc itself when only ids are needed).
  *
  * Near-dup families avoid the O(n²) pairwise comparison by bucketing:
  * MinHash-LSH bands, SimHash prefixes, and shared-shingle inverted
  * index. Candidate pairs come from a self-join *within buckets* — the
  * join key is the bucket, so work is proportional to Σ bucket² rather
  * than n², the standard scale-out shape.
  */
object Dedup {

  /** The dedup grouping key: the normalized-content hash, EXCEPT when the
    * normalization (ASCII-alphanumeric fold, TextOps.normalizedText) maps
    * the text to the empty string — a CJK/Cyrillic/emoji-only document
    * carries content the ASCII fold cannot see, and hashing all of them
    * to fingerprint("") would silently merge distinct non-Latin documents
    * into one "duplicate" group (wrong-content data loss in a
    * multilingual corpus). Those fall back to the RAW text hash: byte-
    * identical docs still dedup, distinct ones never merge.
    */
  private def dedupKey(text: String): Column =
    // the guard now lives inside TextOps.fingerprint itself, so the
    // streaming dedup sinks and the cs_fingerprint SQL surface share it
    TextOps.fingerprint(col(text))

  /** Exact duplicate groups by normalized-content hash: keeps the lowest id
    * as canonical and lists duplicate count per group.
    */
  def exactGroups(df: DataFrame, id: String, text: String): DataFrame =
    df.withColumn("fp", dedupKey(text))
      .groupBy("fp")
      .agg(min(col(id)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup: keep one row (lowest id) per normalized content.
    * min_by over a struct of the row, NOT a window row_number: the hash
    * aggregate gets a map-side partial pass, so duplicate rows collapse
    * BEFORE the shuffle — shuffle volume is one row per distinct
    * fingerprint, where the window form shuffles and sorts every input
    * row. At a dedup-worthy corpus (high dup ratio) that is the dominant
    * cost difference.
    */
  def exactDedup(df: DataFrame, id: String, text: String): DataFrame = {
    val cols = df.columns.toSeq
    // Internal fingerprint column is named "__fp" so a user frame that
    // already carries an "fp" column passes through untouched — and a
    // frame that already carries "__fp"/"__keep" must fail loud, not be
    // silently replaced by the working columns.
    val clash = cols.filter(c => c.equalsIgnoreCase("__fp") || c.equalsIgnoreCase("__keep"))
    require(clash.isEmpty,
      s"column name(s) ${clash.mkString(", ")} collide with exactDedup's " +
        "working names (__fp/__keep); rename them before deduplication")
    df.withColumn("__fp", dedupKey(text))
      .groupBy(col("__fp"))
      .agg(min_by(struct(cols.map(col): _*), col(id)).as("__keep"))
      .select(cols.map(c => col(s"__keep.`$c`")): _*)
  }

  /** Deterministic MinHash signature of a shingle set.
    * k hash functions h_i(x) = (a_i * x + b_i) mod p over 64-bit shingle
    * hashes (xxhash64) — the classic universal-hash MinHash. Returns an
    * array<long> of length k.
    */
  // p = 2^31-1 (Mersenne prime): keeps a*h+b within int64 under ANSI mode
  // (h < 2^31, a,b small), while 2^31 hash space is ample for MinHash.
  private val MinhashP = 2147483647L

  /** Base shingle hashes for MinHash: xxhash64 folded into [0, 2^31). */
  def minhashBase(shingles: Column): Column =
    transform(shingles, s => pmod(xxhash64(s), lit(MinhashP)))

  /** MinHash signature from pre-hashed shingles (`minhashBase`). Keep the
    * base array in its own projection: the k=16 signature lanes each scan
    * it, and materializing it once avoids k-fold recomputation of the
    * string hashing (CollapseProject won't inline a multiply-referenced
    * non-trivial alias).
    */
  def minhashSignature(hashed: Column, k: Int): Column = {
    val sig = (0 until k).map { i =>
      val a = 2L * i + 1
      val b = 104729L * (i + 1)
      array_min(transform(hashed, h => pmod(h * a + b, lit(MinhashP))))
    }
    array(sig: _*)
  }

  /** (id, sh) shingle-set frame shared by the near-dup paths. `sh` is the
    * HASHED shingle set (array<bigint> of distinct xxhash64 values, the
    * fused ShingleHashes pass) since r17: every consumer keys on the
    * hashes anyway — cs_minhash folds them into lane minima, verifyJaccard
    * intersects them, ngramJaccardPairs' inverted index explodes them —
    * so the n-char string array was a pure intermediate: slower to build
    * (per-position substring + string-set dedup per doc), ~40% more bytes
    * through every shuffle/broadcast/checkpoint that carries `sh`, and a
    * second hash pass at each consumer. Jaccard over hashed sets equals
    * Jaccard over string sets modulo xxhash64 collisions (~(per-doc
    * shingles)²/2⁶⁵ — see ShingleHashes' scaladoc), and cs_minhash
    * signatures are bit-identical by construction.
    */
  def shingleSets(df: DataFrame, id: String, text: String, shingleLen: Int): DataFrame =
    shingled(df, id, text, shingleLen, Nil)

  /** [[shingleSets]] plus the `keep` columns passed through and the
    * content fingerprint `fp` ([[TextOps.fingerprint]] of `text`), all
    * from the SAME normalize pass: (id, keep…, fp, sh). Docs too short to
    * shingle are dropped here too, so they carry no fingerprint.
    */
  private[graft] def shingleSetsFp(df: DataFrame, id: String, text: String,
                                    shingleLen: Int, keep: Seq[String]): DataFrame =
    shingled(df, id, text, shingleLen, keep.map(col) :+
      TextOps.fingerprintOfNorm(col("__norm"), col(text)).as("fp"))

  private def shingled(df: DataFrame, id: String, text: String, shingleLen: Int,
                       extra: Seq[Column]): DataFrame =
    df.withColumn("__norm", TextOps.normalizedText(col(text)))
      .filter(length(col("__norm")) >= shingleLen) // = size(sh) > 0, but
      // checkable per row without inlining the shingle expression
      .select((col(id) +: extra) :+
        TextOps.hashedCharShingles(col("__norm"), shingleLen).as("sh"): _*)

  /** Exact Jaccard verification of candidate pairs: join the two shingle
    * sets back and intersect. This is the scale-correct verify stage —
    * work is |candidates|, not n², and the intersection is a codegen'd
    * array op, not an exploded join.
    */
  def verifyJaccard(cand: DataFrame, sh: DataFrame, id: String,
                    minJaccard: Double): DataFrame = {
    val s1 = sh.select(col(id).as("id1"), col("sh").as("__sh1"))
    val s2 = sh.select(col(id).as("id2"), col("sh").as("__sh2"))
    cand.join(s1, "id1").join(s2, "id2")
      .withColumn("__inter", size(array_intersect(col("__sh1"), col("__sh2"))).cast("long"))
      .withColumn("jaccard", col("__inter") /
        (size(col("__sh1")) + size(col("__sh2")) - col("__inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"), col("jaccard").cast("float").as("jaccard"))
  }

  /** Materialize a shingle frame once per evaluation. The near-dup
    * pipelines reference the shingle sets 3-4× (both sides of the
    * candidate self-join, both verify branches); without materialization
    * every reference re-runs the normalize-regex + shingle + hash
    * expression tree over the full corpus — the dominant cost at any
    * scale. `localCheckpoint` computes it once and serves the reuses from
    * executor blocks; unlike `persist`, it is not deduplicated across
    * separate evaluations by the CacheManager, so repeated runs honestly
    * recompute. (On a multi-node cluster a lost executor forces a full
    * recompute — for long pipelines prefer a reliable checkpoint dir.)
    */
  private def materializeShingles(sh: DataFrame): DataFrame =
    // eager = false: the checkpoint's persist still serves every reuse
    // after the first computation (broadcast-build jobs run before the
    // main join, materializing the blocks), but constructing the
    // DataFrame — e.g. to print a plan — no longer executes corpus-scale
    // jobs as a side effect
    sh.localCheckpoint(eager = false)

  /** Shingle frame materialized once — for callers composing several
    * pipeline stages (exact + approximate verify) over the SAME corpus
    * slice, so the normalize+shingle pass runs once, not per stage.
    */
  def shingleSetsMaterialized(df: DataFrame, id: String, text: String,
                              shingleLen: Int): DataFrame =
    materializeShingles(shingleSets(df, id, text, shingleLen))

  /** Exact all-pairs n-gram Jaccard — O(n²) BY DESIGN, the ground-truth
    * stage for measuring candidate recall of the approximate pipelines on
    * a bounded slice. Never run this on an unbounded corpus; the scale
    * paths are minhashLshPairsVerified / simhashPairsVerified.
    */
  def jaccardPairsExact(df: DataFrame, id: String, text: String,
                        shingleLen: Int, minJaccard: Double): DataFrame =
    jaccardPairsExactSh(
      materializeShingles(shingleSets(df, id, text, shingleLen)), id, minJaccard)

  /** All-pairs exact Jaccard over a prebuilt (materialized) shingle frame. */
  def jaccardPairsExactSh(sh: DataFrame, id: String, minJaccard: Double): DataFrame = {
    val allPairs = sh.select(col(id).as("id1")).crossJoin(sh.select(col(id).as("id2")))
      .filter(col("id1") < col("id2"))
    verifyJaccard(allPairs, sh, id, minJaccard)
  }

  /** Per-document LSH band buckets over a prebuilt shingle frame:
    * (id, band, bucket), one row per band per doc — the join-key space
    * of [[minhashCandidates]], exposed on its own for INCREMENTAL dedup
    * (a new doc collides with a stored corpus iff any (band, bucket)
    * matches the corpus's stored buckets — see
    * [[graft.streaming.Streams.ingestDedupNearDup]]). Every column of
    * `sh` other than `sh` itself passes through: (id, others…, band,
    * bucket).
    */
  def bandBucketsSh(sh: DataFrame, id: String,
                    bands: Int, rowsPerBand: Int): DataFrame = {
    val k = bands * rowsPerBand
    val keep = col(id) +:
      sh.columns.toSeq.filter(c => c != "sh" && c != id).map(c => col(s"`$c`"))
    // one fused codegen pass per doc (hash each shingle once, fold into
    // all k lane minima) — the HOF form (minhashBase + k array_min lanes)
    // rescans the shingle array k+1 times; same construction, so the
    // banding math and collision analysis are unchanged
    val withSig = sh
      .withColumn("sig", column(MinHashSig(expression(col("sh")), k)))
    // (id, band) is unique by construction — one row per band per doc —
    // so no distinct is needed before the bucket self-join
    withSig.select(keep :+
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"), slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)).as("bh")))): _*)
      // xxhash64 over the band array DIRECTLY: a 32-bit hash of the
      // stringified slice collides constantly at corpus scale (billions of
      // (doc, band) rows vs 2^32 values), emitting candidate pairs that
      // share NO band — and the per-row string build was pure waste
      .select(keep :+ col("col.band").as("band") :+
        xxhash64(col("col.bh")).as("bucket"): _*)
  }

  /** [[bandBucketsSh]] from raw text (normalize → shingle → minhash →
    * band buckets in one pass).
    */
  def bandBuckets(df: DataFrame, id: String, text: String,
                  shingleLen: Int = 5, bands: Int = 8,
                  rowsPerBand: Int = 2): DataFrame =
    bandBucketsSh(shingleSets(df, id, text, shingleLen), id, bands, rowsPerBand)

  /** Collision pairs over a (id, band, bucket) frame: docs sharing any
    * (band, bucket) pair once, id1 < id2, deduplicated across bands —
    * the LSH pair semantics defined ONCE for the batch candidates
    * ([[minhashCandidates]]) and the streaming in-batch check
    * ([[graft.streaming.Streams.dedupIngestBatch]]).
    */
  def bandedPairs(banded: DataFrame, id: String): DataFrame = {
    // ONE-SHUFFLE shape (r18; guide §2.4): group members per (band,
    // bucket), emit ordered pairs INSIDE the aggregate via the lazy
    // cs_pairs generator. The previous self-join on (band, bucket)
    // shuffled the banded frame on BOTH join sides and re-computed the
    // whole banding subtree per side (the two Scan+Generate legs in the
    // committed r17 plans); this pays one Exchange and one banding pass.
    // Pair semantics are IDENTICAL by construction — cs_pairs emits
    // exactly the strict-< ordered pairs of distinct values sharing a
    // group (see BucketPairs' scaladoc) — and the cross-band dedup stays
    // in the same final distinct(). Skew behaves the same: a hot bucket
    // lands on one task either way (hash join build vs collect_list),
    // with O(members) state and lazily-streamed pair output here.
    banded.groupBy(col("band"), col("bucket"))
      .agg(collect_list(col(id)).as("__ids"))
      .filter(size(col("__ids")) > 1)
      .select(column(BucketPairs(expression(col("__ids")))))
      .distinct()
  }

  /** MinHash + LSH candidate pairs: signature split into `bands` bands of
    * `rowsPerBand` values; docs sharing any band land in the same bucket;
    * pairs emitted once (id1 < id2). Verification (exact Jaccard) is the
    * caller's choice — see `minhashLshPairsVerified` for the full pipeline.
    */
  def minhashCandidates(sh: DataFrame, id: String,
                        bands: Int, rowsPerBand: Int): DataFrame =
    bandedPairs(bandBucketsSh(sh, id, bands, rowsPerBand), id)

  /** Candidate pairs only (unverified) — kept for pipelines that do their
    * own verification pass.
    */
  def minhashLshPairs(df: DataFrame, id: String, text: String,
                      shingleLen: Int = 5, bands: Int = 4, rowsPerBand: Int = 4): DataFrame =
    // materialized like the verified sibling: the bucket self-join
    // references the frame twice, and the normalize+shingle+minhash pass
    // is the dominant corpus cost — unmaterialized it would run TWICE
    minhashCandidates(materializeShingles(shingleSets(df, id, text, shingleLen)),
      id, bands, rowsPerBand)

  /** The full MinHash-LSH near-dup pipeline: banded candidate generation
    * followed by exact-Jaccard verification. Miss probability for a pair at
    * Jaccard j is (1 − j²)⁸ with 8 bands × 2 rows: ≈1.4e-9 at j=0.96 (the
    * testdata's planted near-dups all measure ≥ 0.96) but ≈10% at j=0.5 —
    * so oracle EQUALITY with the exact all-pairs answer (q_minhash_lsh)
    * relies on the corpus having no borderline pairs near the verification
    * threshold; for corpora with borderline pairs, assert a recall floor
    * instead (see q_cos_lsh's contract).
    */
  def minhashLshPairsVerified(df: DataFrame, id: String, text: String,
                              shingleLen: Int = 5, bands: Int = 8, rowsPerBand: Int = 2,
                              minJaccard: Double = 0.5): DataFrame = {
    val sh = materializeShingles(shingleSets(df, id, text, shingleLen))
    verifyJaccard(minhashCandidates(sh, id, bands, rowsPerBand), sh, id, minJaccard)
  }

  /** N-gram Jaccard pairs via a document-frequency-capped inverted index.
    * Shingle → ids buckets generate candidates; a shingle whose document
    * frequency exceeds `maxDf` (boilerplate text) is dropped from the index
    * — one hot shingle would otherwise create a near-all-pairs bucket (the
    * 100 TB job-killer). A pair at jaccard ≥ minJaccard shares many
    * shingles, so losing the few hottest keeps recall ≈ 1. Candidates are
    * then verified EXACTLY (array_intersect over the full shingle sets), so
    * capping never corrupts a reported jaccard value — it can only skip a
    * pair whose every shared shingle is hot.
    */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String,
                        shingleLen: Int, minJaccard: Double,
                        maxDf: Int = 10000): DataFrame = {
    val sh = materializeShingles(shingleSets(df, id, text, shingleLen))
    // the index carries xxhash64(shingle), not the n-char string: the
    // candidate self-join's shuffle keys shrink to 8 bytes and hash-join
    // probing is a long compare. Since r17 `sh` IS the hashed set, so the
    // index explodes it directly — the per-element re-hash transform is
    // gone. With the cap disabled a collision can only ADD a candidate
    // (removed by the exact set verify), so results are unchanged by
    // construction. With a finite maxDf a collision also merges two
    // shingles' document frequencies, which can (with negligible
    // 2^-64-ish probability) push both over the cap and lose a candidate
    // whose only shared shingles were the merged pair.
    val inv = sh.select(col(id), explode(col("sh")).as("g"))
    // hot-shingle list via groupBy (map-side partial counts — skew-safe,
    // unlike a window over g which would pile every occurrence of a hot
    // shingle onto one task), then a broadcast anti-join drops them from
    // the index without shuffling the big side at all
    val capped = if (maxDf == Int.MaxValue) inv else {
      // maxDf = Int.MaxValue disables the cap entirely — skip the df
      // aggregation over the exploded frame and the can't-filter anti-join
      val hot = inv.groupBy(col("g")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDf)
        .select(col("g"))
      inv.join(broadcast(hot), Seq("g"), "left_anti")
    }
    val cand = capped.as("x").join(capped.as("y"),
        col("x.g") === col("y.g") && col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("id1"), col(s"y.$id").as("id2"))
      .distinct()
    verifyJaccard(cand, sh, id, minJaccard)
  }

  /** 64-bit SimHash over word tokens: per-bit majority vote of token
    * xxhash64 values. Near-dups share most bits; bucket on the top
    * `prefixBits` bits for candidate generation.
    */
  def tokenHashes(text: Column): Column =
    transform(split(TextOps.normalizedText(text), " "), t => xxhash64(t))

  /** SimHash from a *materialized* token-hash array column: one pass per
    * document through the [[graft.sqlext.SimHash64]] codegen expression —
    * each hash read once, counters in a stack array, no per-token
    * allocation. (The HOF alternatives measured worse both ways: 64
    * `aggregate` lanes scan the array 64×; an indexed-`transform` single
    * pass allocates a fresh 64-long array per token.)
    */
  def simhash(hashes: Column): Column = column(SimHash64(expression(hashes)))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs via multi-band bucketing: the 64-bit simhash is
    * split into `bands` contiguous bands and a doc is bucketed once per
    * band; candidates share any band. By pigeonhole, a pair with Hamming
    * distance < bands is guaranteed to agree on at least one full band —
    * with 8 bands of 8 bits, recall is exact for maxDist ≤ 7 (the
    * single-prefix variant's recall hole is gone). Candidates are verified
    * with the full Hamming distance.
    */
  def simhashPairs(df: DataFrame, id: String, text: String,
                   bands: Int = 8, maxDist: Int = 7): DataFrame = {
    // empty-normalized docs (whitespace/punctuation-only) all hash to the
    // IDENTICAL simhash: one mega-bucket and a quadratic candidate blowup
    // with zero content signal — exact dedup owns those. Materialized
    // because the bucket self-join references the frame on both sides
    // (tokenize+simhash is the dominant per-doc cost).
    val withSh = df
      .filter(length(TextOps.normalizedText(col(text))) > 0)
      .withColumn("__th", tokenHashes(col(text)))
      .select(col(id), simhash(col("__th")).as("sh64"))
      .localCheckpoint()
    hammingPairs64(withSh, id, "sh64", bands, maxDist)
  }

  /** Banded-hamming near-dup pairs over ANY 64-bit hash column — the
    * machinery behind [[simhashPairs]], reusable for perceptual image
    * hashes ([[graft.multimodal.Multimodal.imageHashes]]'s aHash/dHash)
    * or any other bit-sketch. The hash splits into `bands` contiguous
    * bands; candidates share at least one full band (per-bucket pair
    * emit, Σ bucket² work, never all-pairs) and are verified with the
    * true Hamming distance. By pigeonhole, a pair at distance ≤ bands−1 MUST
    * agree on some band, so for maxDist < bands the result is EXACTLY
    * all pairs at hamming ≤ maxDist — completeness is structural, not
    * probabilistic. Output: (id1, id2, hamming), id1 < id2.
    */
  def hammingPairs64(withHash: DataFrame, id: String, hashCol: String,
                     bands: Int = 8, maxDist: Int = 7): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    // the banded select renames into these; an id (or hash) column already
    // named one of them would silently collide and corrupt the self-join
    val reserved = Set("band", "bucket", "pos", "col", "__h64")
    require(!reserved(id) && !reserved(hashCol),
      s"id/hash column must not be named one of ${reserved.mkString(", ")} " +
        "(hammingPairs64's working names); alias it first")
    val bandBits = 64 / bands
    val banded = withHash.select(col(id), col(hashCol).as("__h64"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col(hashCol), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1))): _*)))
      .select(col(id), col("__h64"), col("pos").as("band"), col("col").as("bucket"))
    // ONE-SHUFFLE shape (r18, the bandedPairs rewrite applied to the
    // Hamming family): group members per (band, bucket), verify + emit
    // ordered pairs inside the aggregate (cs_hamming_pairs computes the
    // same bit_count(xor) ≤ maxDist predicate the join carried, so
    // over-distance pairs never leave the bucket's task). The self-join
    // it replaces shuffled (id, h64, band, bucket) on both sides and
    // computed the banding posexplode twice. Cross-band dedup unchanged
    // (hamming is a function of the pair, so distinct() dedups exactly
    // the pairs the join's distinct did).
    banded.groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col(id), col("__h64"))).as("__members"))
      .filter(size(col("__members")) > 1)
      .select(column(HammingBucketPairs(expression(col("__members")),
        Literal(maxDist))))
      .distinct()
  }

  /** SimHash near-dup pipeline with exact-Jaccard verification, analogous
    * to minhashLshPairsVerified: simhash multi-band candidates (complete
    * for Hamming ≤ bands−1), then char-shingle Jaccard ≥ minJaccard.
    * NOTE: candidate recall vs the exact all-pairs answer is
    * corpus-dependent (no bound links Jaccard ≥ minJaccard to Hamming ≤
    * maxDist) — contracts over this output should assert a measured
    * recall floor, not pair-set equality (see q_simhash).
    */
  def simhashPairsVerified(df: DataFrame, id: String, text: String,
                           shingleLen: Int = 7, bands: Int = 8, maxDist: Int = 7,
                           minJaccard: Double = 0.6): DataFrame = {
    val cand = simhashPairs(df, id, text, bands, maxDist).select(col("id1"), col("id2"))
    verifyJaccard(cand, materializeShingles(shingleSets(df, id, text, shingleLen)),
      id, minJaccard)
  }

  /** Embedding cosine near-dup pairs above a similarity threshold.
    * Brute-force within LSH-ish buckets is the scale path (see
    * graft.sim.Similarity); this exact variant is the oracle-checkable
    * baseline over all pairs (bounded inputs / verify stage).
    */
  def cosinePairs(df: DataFrame, id: String, vec: String, minCos: Double): DataFrame = {
    // array<double> like the bucketed path: float32 products would make
    // the baseline and the scale path disagree on near-threshold pairs
    // fused codegen dots (bit-equal with the HOF form; ArrayDot scaladoc)
    val withNorm = df.select(col(id), col(vec).cast("array<double>").as("v"))
      .withColumn("nrm",
        sqrt(graft.sim.Similarity.dotFused(col("v"), col("v"))))
      .filter(col("nrm") > 0)
    withNorm.as("a").join(withNorm.as("b"), col(s"a.$id") < col(s"b.$id"))
      .withColumn("dot",
        graft.sim.Similarity.dotFused(col("a.v"), col("b.v")))
      .withColumn("cosine", col("dot") / (col("a.nrm") * col("b.nrm")))
      .filter(col("cosine") >= minCos)
      .select(col(s"a.$id").as("id1"), col(s"b.$id").as("id2"),
        col("cosine").cast("float").as("cosine"))
  }

  /** Embedding cosine near-dup pairs at scale: multi-table random-
    * hyperplane LSH candidates + exact cosine verify. Each of `tables`
    * hash tables buckets every vector by `bits` signed projections
    * (disjoint plane sets); candidates share a bucket in ANY table, so work
    * is Σ bucket² per table instead of n², and the exact verify keeps
    * precision at 1. Recall for a pair at angle θ is
    * 1 − (1 − (1 − θ/π)^bits)^tables — tuned by (tables, bits); misses are
    * possible (LSH is approximate), which is why the oracle-checked query
    * asserts a measured recall floor rather than pair equality.
    */
  def cosinePairsBucketed(df: DataFrame, id: String, vec: String, dim: Int,
                          minCos: Double, tables: Int = 32, bits: Int = 4): DataFrame = {
    val withNorm = df.select(col(id), col(vec).cast("array<double>").as("v"))
      .withColumn("nrm",
        sqrt(graft.sim.Similarity.dotFused(col("v"), col("v"))))
      .filter(col("nrm") > 0)
      // referenced FOUR times (both banded sides + both verify joins):
      // unmaterialized, the cast+norm+projection pass would run 4x
      .localCheckpoint()
    // candidates carry only (id, table, bucket) — the vectors rejoin at the
    // verify stage, keeping the self-join build side to a few bytes per row.
    // The plane hashing is the fused cs_rhp_sig pass (bit-exact with the
    // composed per-table rhpBucket form; one compiled loop instead of
    // tables×bits interpreted HOF dots per row)
    val banded = withNorm.select(col(id),
      posexplode(graft.sim.Similarity.rhpSignatures(col("v"), dim, bits, tables)))
      .select(col(id), col("pos").as("table"), col("col").as("bucket"))
    // DELIBERATELY the self-join shape, NOT bandedPairs' one-shuffle pair
    // emit (r18, measured): unlike minhash/simhash banding — where the
    // banded subtree is expensive and computing it once paid for the
    // grouping Exchange — the RHP subtree post-cs_rhp_sig-codegen is
    // cheap, and the broadcast hash self-join plans with ZERO exchanges
    // where the pair emit forces a full (table, bucket) shuffle +
    // collect_list state. 13-rep A/B on q_cos_lsh: 0.60 s self-join vs
    // 1.00 s pair emit (plans/r18/cos_lsh_pairemit_ab/). At a corpus too
    // large to broadcast, AQE flips this join to sort-merge and the
    // trade reverses — revisit with a size-adaptive shape if the batch
    // candidate step ever outgrows the broadcast threshold (the landing
    // protocol's batches are bounded well below it).
    val cand = banded.as("a").join(banded.as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id1"), col(s"b.$id").as("id2"))
      .distinct()
    val side = withNorm.select(col(id), col("v"), col("nrm"))
    cand
      .join(side.select(col(id).as("id1"), col("v").as("__v1"), col("nrm").as("__n1")), "id1")
      .join(side.select(col(id).as("id2"), col("v").as("__v2"), col("nrm").as("__n2")), "id2")
      .withColumn("cosine",
        graft.sim.Similarity.dotFused(col("__v1"), col("__v2"))
          / (col("__n1") * col("__n2")))
      .filter(col("cosine") >= minCos)
      .select(col("id1"), col("id2"), col("cosine").cast("float").as("cosine"))
  }

  /** Connected components over a near-dup pair list → (id, cluster_id)
    * with cluster_id = min member id. This is the step that turns pairwise
    * near-dup evidence into dedup GROUPS (keep one doc per component).
    *
    * Min-label propagation: each iteration every node takes the min of its
    * own label and its neighbors' (one shuffle join + partial-agg min per
    * iteration, all distributed — no driver state beyond the convergence
    * flag). Converges in O(component diameter) iterations; near-dup
    * components are overwhelmingly tiny cliques/stars (diameter ≤ 2-3), so
    * the loop exits after 2-3 rounds at any corpus size. `localCheckpoint`
    * truncates the growing lineage each round (iterative-join plans
    * otherwise deepen geometrically). For adversarially long chain graphs
    * swap in large-star/small-star; dedup graphs do not need it.
    */
  def connectedComponents(pairs: DataFrame, id1: String = "id1",
                          id2: String = "id2", maxIter: Int = 20): DataFrame = {
    // the pairs plan is MATERIALIZED once up front: the union below
    // references it twice (the un-checkpointed shape evaluated the whole
    // upstream pair generation — LSH self-join + verification — twice in
    // one job), and the empty-graph probe reads the checkpointed blocks
    // for free. An empty graph then earns an empty answer WITHOUT the
    // union+distinct checkpoints and the first propagation round — ~6
    // shuffle stages of pure task-launch floor on empty inputs (measured
    // ~2 s at local[32]), and collision-free batches are the streaming
    // ingest's steady state.
    val e = pairs.select(col(id1).as("a"), col(id2).as("b")).localCheckpoint()
    if (e.isEmpty)
      return e.select(col("a").as("id"), col("a").as("cluster_id"))
    val edges = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    var converged = false
    var i = 0
    // ONE definition of the propagation rule, shared by the loop and the
    // post-loop convergence probe — two hand-copies could silently drift
    // and make the probe test a different rule than the loop runs
    def nbrMin(ls: DataFrame): DataFrame = edges
      .join(ls.select(col("id").as("b"), col("label").as("__nl")), "b")
      .groupBy(col("a").as("id")).agg(min(col("__nl")).as("__mn"))
    while (!converged && i < maxIter) {
      // carry the OLD label through the propagation join so the
      // convergence probe is a shuffle-free scan of the checkpointed
      // frame, not a second join per round (old label and new label come
      // out of the SAME pass)
      val joined = labels.join(nbrMin(labels), Seq("id"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("__mn"), col("label"))).as("label"))
        .localCheckpoint()
      converged = joined.filter(col("label") =!= col("__old")).isEmpty
      labels = joined.select(col("id"), col("label"))
      i += 1
    }
    // a silent partial propagation would emit multiple cluster_ids for one
    // true component — fail loud so a pathological long-chain graph (or a
    // too-small maxIter) is diagnosable instead of producing wrong groups.
    // The loop's flag only says round maxIter still CHANGED labels, which
    // is also true when that round was the completing one — probe once
    // more and throw only if another round would still change something.
    if (!converged) {
      val wouldChange = labels.join(nbrMin(labels), Seq("id"), "left")
        .filter(least(col("label"), coalesce(col("__mn"), col("label"))) =!= col("label"))
      if (!wouldChange.isEmpty)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds: a component " +
            "has diameter > maxIter. Raise maxIter or switch to large-star/small-star.")
    }
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** Benchmark decontamination flags: a training document sharing ANY
    * length-`shingleLen` normalized character shingle with the benchmark
    * corpus is contaminated — the n-gram-overlap test used to strip eval
    * data from training sets (GPT-3 appendix C / PaLM-style n-gram
    * decontamination, char shingles on the same normalize+shingle
    * machinery as the near-dup family). The benchmark side collapses to a
    * DISTINCT shingle set (small — benchmarks are thousands of docs, not
    * billions); the training side left-semi-joins its exploded shingles
    * against it, so the scan of the big corpus is one pass and the join
    * broadcasts whenever the benchmark set fits. Output: (id,
    * contaminated) for every input doc, shingle-less docs flagged false.
    */
  def contaminationFlags(docs: DataFrame, bench: DataFrame, id: String,
                         text: String, shingleLen: Int): DataFrame = {
    val hits = hashedShingleIds(docs, id, text, shingleLen)
      .join(hashedShingleIds(bench, id, text, shingleLen)
        .select(col("g")).distinct(), Seq("g"), "left_semi")
      .select(col(id)).distinct()
      .withColumn("__hit", lit(true))
    docs.select(col(id))
      .join(hits, Seq(id), "left")
      .withColumn("contaminated", coalesce(col("__hit"), lit(false)))
      .drop("__hit")
  }

  /** Passage-level exact dedup — the CCNet/RefinedWeb repeated-passage
    * filter: drop every passage (delimiter-split span) that appears in
    * more than `maxDocs` DISTINCT documents, then reassemble each
    * document from its surviving passages in original order. This is the
    * within-document counterpart of [[exactDedup]]: boilerplate (headers,
    * footers, navigation, license blocks) repeats across documents while
    * the prose does not, so corpus-frequency at passage granularity IS
    * the boilerplate detector.
    *
    * Scale shape: explode is map-only; the frequency count is one hash
    * aggregate on the 8-byte passage hash (map-side partial combine, so
    * a passage repeated a million times arrives at the reducer as a few
    * partial rows, not a million — boilerplate skew handled by
    * construction); hot passages anti-join back on the hash; reassembly
    * is a per-document hash aggregate (passages of one doc sort in
    * memory — bounded by document size, the same bound any per-doc op
    * has). A 64-bit collision can only CONFLATE two passages' document
    * frequencies, which (with negligible probability) over-drops; it can
    * never resurrect a dropped passage.
    *
    * Documents whose every passage is boilerplate drop out of the result
    * entirely (n_kept would be 0) — the filter a curation pipeline wants.
    * Output: (id, clean_text, n_kept).
    */
  def passageDedup(df: DataFrame, id: String, text: String,
                   delim: String = "\n", maxDocs: Int = 1): DataFrame = {
    val parts = df.select(col(id),
      posexplode(split(col(text), java.util.regex.Pattern.quote(delim)))
        .as(Seq("__pi", "__p")))
      .withColumn("__ph", xxhash64(col("__p")))
    val hot = parts.groupBy(col("__ph"))
      .agg(count_distinct(col(id)).as("__nd"))
      .filter(col("__nd") > maxDocs)
      .select(col("__ph"))
    parts.join(hot, Seq("__ph"), "left_anti")
      .groupBy(col(id))
      .agg(
        concat_ws(delim, transform(
          array_sort(collect_list(struct(col("__pi"), col("__p")))),
          x => x.getField("__p"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
  }

  /** (id, shingle-hash) rows: each position's shingle is xxhash64'd IN
    * PLACE (one transform lambda), so no per-doc array of n-char strings
    * is ever materialized — at a 30-char overlap test the string form is
    * a 30× data blowup that dominates the explode/distinct/join
    * downstream (measured 70 s → 2 s at sf0.1). Distinct-per-doc happens
    * on the 8-byte hashes. A hash collision can only ADD a false overlap
    * (never lose one) — at 64 bits, negligible against the test's own
    * shingle granularity.
    */
  private def hashedShingleIds(df: DataFrame, id: String, text: String,
                               shingleLen: Int): DataFrame =
    df.withColumn("__norm", TextOps.normalizedText(col(text)))
      .filter(length(col("__norm")) >= shingleLen)
      // the fused ShingleHashes pass (r17) — same values as the previous
      // per-position xxhash64(substr) transform, one compiled loop
      .select(col(id),
        explode(TextOps.hashedCharShingles(col("__norm"), shingleLen)).as("g"))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): keep ONE representative per group of
    * embedding-near-duplicate documents. Composition of the pieces above:
    * cosine near-dup pairs at `minCos` → connected components over the
    * pair graph → the min-id member represents each component; documents
    * in no pair represent themselves. Output: (id, representative, keep).
    *
    * `pairs` defaults to the EXACT all-pairs generator — the verify/oracle
    * configuration, quadratic by nature. At corpus scale pass
    * `cosinePairsBucketed(...)` (the RHP-LSH candidate path, Σbucket² not
    * n²) — the keep/representative algebra downstream is identical.
    */
  def semanticDedup(df: DataFrame, id: String, vec: String, minCos: Double,
                    pairs: Option[DataFrame] = None): DataFrame = {
    val p = pairs.getOrElse(cosinePairs(df, id, vec, minCos))
    val comps = connectedComponents(p).withColumnRenamed("id", id)
    df.select(col(id))
      .join(comps, Seq(id), "left")
      .withColumn("representative", coalesce(col("cluster_id"), col(id)))
      .withColumn("keep", col("representative") === col(id))
      .select(col(id), col("representative"), col("keep"))
  }
}
