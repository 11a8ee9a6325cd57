package graft.sim

import graft.sqlext.{ArrayDot, RhpSignatures}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>).
  *
  * Baseline: brute-force cosine top-k — a map-only scan (dot products in
  * codegen'd higher-order functions, no UDF) + TakeOrderedAndProject, so
  * even the "brute force" path is one pass over the data and a bounded
  * driver merge: at 100 TB it is bandwidth-bound, not shuffle-bound.
  *
  * Scale path: IVF-style bucketing — assign every vector to its nearest
  * centroid (a small broadcast list) and probe only the closest `nProbe`
  * centroids at query time, cutting the scanned fraction to
  * nProbe/nCentroids.
  */
object Similarity {

  /** Σ a[i]*b[i] via higher-order functions. For the scan-bound hot path
    * prefer [[dotFused]] — the custom codegen expression.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (s, x) => s + x)

  /** Σ a[i]*b[i] as the fused ArrayDot codegen expression (reads float
    * elements directly, no cast/intermediate array). Bit-equal to the HOF
    * form on cast("array<double>") inputs.
    */
  def dotFused(a: Column, b: Column): Column =
    column(ArrayDot(expression(a), expression(b)))

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Brute-force cosine top-k neighbors of one query vector: a map-only
    * fused-dot scan + TakeOrderedAndProject (per-partition bounded heap,
    * driver merge).
    */
  def topKCosine(df: DataFrame, id: String, vec: String,
                 query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v.toDouble)): _*)
    val v = col(vec)
    // a zero-norm vector (padding row, failed embed) has no direction:
    // 0/0 would be NaN, which Spark sorts ABOVE 1.0 and would capture a
    // top-k slot — NULL instead, which descending order puts last
    val denom = sqrt(dotFused(v, v)) * sqrt(dotFused(q, q))
    val cos = when(denom > 0, dotFused(v, q) / denom)
    df.select(col(id), cos.cast("float").as("cosine"))
      .orderBy(col("cosine").desc, col(id).asc)
      .limit(k)
  }

  /** All-pairs top-k neighbors per query id against the corpus, brute
    * force; queries are broadcast. For each query row, the k most cosine-
    * similar corpus rows.
    */
  def topKCosineJoin(corpus: DataFrame, queries: DataFrame, id: String,
                     vec: String, k: Int): DataFrame = {
    // norms computed ONCE per side before the join — inside cosine() each
    // of the n·q pairs would recompute both O(dim) norms (the Dedup
    // cosinePairsBucketed pattern); zero-norm rows score NULL (sorted
    // last), not NaN (sorted first)
    val q = broadcast(queries
      .select(col(id).as("query_id"), col(vec).cast("array<double>").as("qv"))
      .withColumn("__qn", sqrt(dotFused(col("qv"), col("qv")))))
    val scored = corpus
      .select(col(id), col(vec).cast("array<double>").as("cv"))
      .withColumn("__cn", sqrt(dotFused(col("cv"), col("cv"))))
      .join(q, col("query_id") =!= col(id))
      .withColumn("cosine",
        when(col("__cn") * col("__qn") > 0,
          dotFused(col("cv"), col("qv"))
            / (col("__cn") * col("__qn"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col(id).asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col(id).as("neighbor_id"), col("cosine").cast("float").as("cosine"))
  }

  /** IVF index: assign each vector to the nearest (min L2) of `centroids`
    * (broadcast). Returns df + `centroid_id`. Writing the result
    * partitioned by centroid_id gives the probe-time pruning.
    *
    * Score is 2·v·c − |c|² = argmax-equivalent of −‖v−c‖² (the row's |v|²
    * is constant across centroids), correct for unnormalized embeddings
    * where max-dot-product is not.
    */
  /** argmax-by-L2 centroid id for `sub` over a broadcast codebook — the
    * shared scoring of [[ivfAssign]] and [[pqEncode]]: 2·v·c − |c|² is
    * argmax-equivalent to −‖v−c‖² (|v|² is constant across centroids),
    * correct for unnormalized embeddings where max-dot-product is not.
    * One typedLit literal per centroid (not O(dim) expression nodes), and
    * a single-entry codebook short-circuits (Spark's `greatest` needs two
    * arguments).
    */
  private def nearestCid(sub: Column, cb: Seq[(Int, Seq[Double])]): Column = {
    require(cb.nonEmpty, "nearest-centroid scoring needs at least one centroid")
    if (cb.size == 1) lit(cb.head._1)
    else greatest(cb.map { case (cid, c) =>
      val cNormSq = c.map(x => x * x).sum
      // cs_dot: the corpus-scale assignment pays k of these per row —
      // fused, not an interpreted HOF
      struct((dotFused(sub, typedLit(c)) * 2.0 - cNormSq)
        .as("score"), lit(cid).as("cid"))
    }: _*).getField("cid")
  }

  def ivfAssign(df: DataFrame, vec: String, centroids: Seq[(Int, Seq[Double])]): DataFrame =
    df.withColumn("centroid_id",
      nearestCid(col(vec).cast("array<double>"), centroids))

  /** ANN query via IVF: scan only the `nProbe` centroids closest to the
    * query vector, then brute-force within them. Probe ranking uses the
    * SAME L2-equivalent score as [[ivfAssign]] (2·q·c − |c|²) — ranking
    * by raw dot would favor long centroids over near ones and probe the
    * wrong partitions whenever centroid norms differ.
    */
  def ivfQuery(indexed: DataFrame, id: String, vec: String,
               centroids: Seq[(Int, Seq[Double])], query: Seq[Float],
               k: Int, nProbe: Int): DataFrame = {
    val qd = query.map(_.toDouble)
    def l2Score(c: Seq[Double]) =
      2.0 * c.zip(qd).map { case (x, y) => x * y }.sum - c.map(x => x * x).sum
    val probe = centroids.sortBy { case (_, c) => -l2Score(c) }.take(nProbe).map(_._1)
    topKCosine(indexed.filter(col("centroid_id").isin(probe: _*)), id, vec, query, k)
  }

  /** Random-hyperplane LSH bucket (signed projection bits) — deterministic
    * pseudo-random planes derived from a multiplicative hash of the plane
    * index so both sides of a comparison compute identical planes with no
    * RNG. `planeOffset` selects a disjoint plane set per hash table
    * (multi-table LSH: table t passes offset t*planes).
    */
  def rhpBucket(vec: Column, dim: Int, planes: Int, planeOffset: Int = 0): Column = {
    // bucket bits live in one Long: plane 64 would wrap shiftleft back to
    // bit 0 (Java shift semantics) and silently alias plane 0 — multi-
    // table variants get more planes via planeOffset, not a wider bucket
    require(planes >= 1 && planes <= 64,
      s"rhpBucket packs its bits into one Long (1..64 planes), got $planes")
    val bits = (0 until planes).map { j =>
      // one literal weight array + one HOF dot per plane: a handful of
      // expression nodes instead of O(dim) — multi-table variants (128+
      // planes) would otherwise explode the codegen'd expression tree
      val w = typedLit(rhpWeights(planeOffset + j, dim))
      when(dot(vec, w) > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** All `tables` RHP-LSH bucket signatures of `vec` (array<float|double>
    * of length `dim`) in one fused pass, the cs_rhp_sig expression
    * ([[graft.sqlext.RhpSignatures]]): element t is bit-exact with
    * `rhpBucket(vec, dim, bits, t * bits)`.
    */
  def rhpSignatures(vec: Column, dim: Int, bits: Int, tables: Int): Column =
    column(RhpSignatures(Seq(expression(vec), Literal(dim), Literal(bits),
      Literal(tables))))

  /** Deterministic pseudo-random plane weights in (-1, 1). The plane and
    * dimension indices are mixed through a splitmix-style finalizer — a
    * linear `pIdx*K + d` key would make plane p's weights at dims ≥ K a
    * shifted copy of plane p+1's (correlated hyperplanes break the LSH
    * recall contract the moment dim exceeds the stride).
    */
  def rhpWeights(pIdx: Int, dim: Int): Seq[Double] =
    (0 until dim).map { d =>
      var z = pIdx.toLong * 0x9E3779B97F4A7C15L + (d + 1).toLong * 0xBF58476D1CE4E5B9L
      z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
      z ^= (z >>> 27); z *= 0x94D049BB133111EBL
      z ^= (z >>> 31)
      (z % 1000003L).toDouble / 1000003.0
    }

  /** Product quantization codebooks: the vector splits into `m` equal
    * subspaces, each with its own `k`-centroid k-means codebook. Memory
    * per vector drops from dim·4 bytes to m codes (m bytes at k ≤ 256) —
    * the standard ANN compression for billion-vector corpora.
    *
    * All m trainings FUSE into one Lloyd loop: each iteration is ONE Spark
    * job that assigns every subspace with the same [[nearestCid]] scoring
    * the per-subspace trainer used and re-estimates every codebook from a
    * single (subspace, centroid, dim) aggregation — m·k·dsub rows
    * collected, so driver traffic stays model-sized. The unfused form paid
    * m·(iters+1) separate jobs (init sort + assign/agg per subspace), all
    * at task-launch floor on small inputs and m redundant corpus scans per
    * iteration at scale.
    */
  def pqTrain(df: DataFrame, id: String, vec: String, dim: Int,
              m: Int, k: Int, iters: Int): Seq[Seq[(Int, Seq[Double])]] = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val dsub = dim / m
    val v = df.select(col(id).as("__kid"), col(vec).cast("array<double>").as("__v"))
    // init = the k lowest-id vectors (as in kmeansTrain), sliced per
    // subspace on the driver — one sorted scan for all m codebooks
    val init = v.orderBy(col("__kid")).limit(k).collect()
    var books: Seq[Seq[(Int, Seq[Double])]] = (0 until m).map { s =>
      init.zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Double](1).slice(s * dsub, (s + 1) * dsub).toSeq)
      }.toSeq
    }
    for (_ <- 0 until iters) {
      val withCodes = (0 until m).foldLeft(v) { (d, s) =>
        d.withColumn(s"__c_$s",
          nearestCid(slice(col("__v"), s * dsub + 1, dsub), books(s)))
      }
      // element __pos of the full vector belongs to subspace __pos/dsub at
      // local dim __pos%dsub, under that subspace's assigned centroid
      val exploded = withCodes.select(
        array((0 until m).map(s => col(s"__c_$s")): _*).as("__cids"),
        posexplode(col("__v")).as(Seq("__pos", "__x")))
      val sub = (col("__pos") / dsub).cast("int")
      val means = exploded
        .groupBy(sub.as("__s"),
          element_at(col("__cids"), sub + 1).as("__cid"),
          (col("__pos") % dsub).as("__p"))
        .agg(avg(col("__x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
      books = (0 until m).map { s =>
        val byCid = means.getOrElse(s, Array.empty[org.apache.spark.sql.Row])
          .groupBy(_.getInt(1))
        books(s).map { case (cid, old) =>
          byCid.get(cid) match {
            case Some(rows) =>
              (cid, rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq)
            case None => (cid, old) // empty cluster keeps its centroid
          }
        }
      }
    }
    books
  }

  /** Encode each vector as its per-subspace nearest-centroid codes and a
    * reconstructed (quantized) vector — the concat of chosen centroids.
    * Map-only: codebooks ride the plan as literal maps; downstream
    * approximate scoring reads `__recon` instead of the raw embedding.
    */
  def pqEncode(df: DataFrame, vec: String,
               codebooks: Seq[Seq[(Int, Seq[Double])]]): DataFrame = {
    val m = codebooks.size
    val dsub = codebooks.head.head._2.size
    val withCodes = codebooks.zipWithIndex.foldLeft(df) { case (d, (cb, s)) =>
      val sub = slice(col(vec).cast("array<double>"), s * dsub + 1, dsub)
      d.withColumn(s"__code_$s", nearestCid(sub, cb))
    }
    val recon = concat(codebooks.zipWithIndex.map { case (cb, s) =>
      // code → centroid as ONE literal map (typedLit folds it to a single
      // Literal; a CreateMap of literals would rebuild the map per row)
      element_at(typedLit(cb.toMap), col(s"__code_$s"))
    }: _*)
    withCodes.withColumn("__recon", recon)
      .drop((0 until m).map(s => s"__code_$s"): _*)
  }

  /** PQ-accelerated top-k with exact rerank: score every vector against
    * the query on its RECONSTRUCTED form (the cheap pass — at deployment
    * scale this reads m-byte codes, not the raw embeddings), keep the top
    * `rerank` candidates, then rerank those exactly. Approximation can
    * only lose a true neighbor if it falls outside the rerank pool.
    */
  def pqTopK(encoded: DataFrame, id: String, vec: String, query: Seq[Float],
             k: Int, rerank: Int): DataFrame = {
    val qd = array(query.map(v => lit(v.toDouble)): _*)
    val approx = encoded
      .withColumn("__ascore",
        dotFused(col("__recon"), qd)
          / (sqrt(dotFused(col("__recon"), col("__recon")))
            + lit(1e-12)))
      .orderBy(col("__ascore").desc, col(id).asc)
      .limit(rerank)
    topKCosine(approx.drop("__ascore", "__recon"), id, vec, query, k)
  }

  /** Deterministic Lloyd k-means over an embedding column. Init = the k
    * lowest-id vectors; each iteration assigns via broadcast centroids
    * (map-only) and recomputes means with one groupBy over (centroid, dim)
    * — k·dim rows collected per iteration, so driver traffic is bounded by
    * the model size, not the data. The scalable shape of IVF training:
    * no per-row driver work, shuffle volume = k·dim partial sums per task.
    */
  def kmeansTrain(df: DataFrame, id: String, vec: String,
                  k: Int, iters: Int): Seq[(Int, Seq[Double])] = {
    val v = df.select(col(id).as("__kid"), col(vec).cast("array<double>").as("__v"))
    var cents: Seq[(Int, Seq[Double])] = v.orderBy(col("__kid")).limit(k).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1).toSeq) }.toSeq
    for (_ <- 0 until iters) {
      val means = ivfAssign(v, "__v", cents)
        .select(col("centroid_id"), posexplode(col("__v")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
      cents = cents.map { case (cid, old) =>
        means.get(cid) match {
          case Some(rows) => (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
          case None => (cid, old) // empty cluster keeps its centroid
        }
      }
    }
    cents
  }
}
