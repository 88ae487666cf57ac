package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  * Baseline: brute-force top-k — broadcast the (small) query set against
  * the full corpus; one map-side pass, a single shuffle for the per-query
  * top-k. Scale path: random-hyperplane LSH bucketing — candidate
  * generation becomes an equi-join on bucket id, turning O(n·q) into
  * O(collisions); at 100 TB bucket ids are computed map-side and the
  * corpus shuffles once by bucket.
  */
object Similarity {

  /** Embedding width the vector operators assume unless told otherwise. */
  val Dim = 64

  /** Cosine via the native single-loop [[CosineExpr]]: dot(a,b) /
    * (|a|·|b|) in double precision, each sum folded in element order
    * 1..d, so the result is bit-reproducible across engines (it matches
    * a left-associated explicit sum in SQL).
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(CosineExpr(
      org.apache.spark.sql.GraftExpressionBridge.expression(a),
      org.apache.spark.sql.GraftExpressionBridge.expression(b)))

  /** Corpus-size bound for the O(queries × corpus) scoring forms. The
    * brute twins exist for oracle parity and small-corpus baselines —
    * at 1M vectors each query already scores a million pairs, and
    * nothing else stops someone pointing them at a cluster-scale
    * corpus where the persisted-index family is the only sane path.
    * The guard is a loud, named failure instead of a silent quadratic
    * wall.
    */
  val MaxBruteCorpus: Long = 1000000L

  /** One cheap count() against the O(Q·N) wall: loud failure above
    * `maxCorpus`, naming the production alternative.
    *
    * `maxCorpus = Long.MaxValue` is the explicit opt-out: the guard
    * can never fire, so the count is skipped entirely — a caller who
    * deliberately accepts the quadratic cost doesn't also pay an eager
    * extra scan of a possibly-expensive upstream plan (callers with
    * derived corpora should cache before calling either way).
    */
  private def guardBrute(corpus: DataFrame, op: String, alt: String,
                         maxCorpus: Long,
                         cost: String =
                           "scores O(queries x corpus) pairs"): Unit = {
    if (maxCorpus == Long.MaxValue) return
    val n = corpus.count()
    require(n <= maxCorpus,
      s"$op $cost and the corpus has $n rows " +
        s"(> $maxCorpus): this form is an oracle-parity / small-corpus " +
        s"baseline, not the production path. Use $alt, or raise maxCorpus " +
        "explicitly if the quadratic cost is intended.")
  }

  /** Brute-force cosine top-k: for each query vector, the k most similar
    * corpus vectors (excluding itself). Query side is broadcast.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     embCol: String, k: Int,
                     maxCorpus: Long = MaxBruteCorpus): DataFrame = {
    guardBrute(corpus, "bruteForceTopK",
      "writeIvfPqIndex + searchIvfPqIndex", maxCorpus)
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
    val c = corpus.select(col(idCol).as("match_id"), col(embCol).as("c_emb"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("match_id"))
      .withColumn("sim", cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("rank"), round(col("sim"), 6).as("sim"))
  }

  /** Symmetric scalar quantization of an embedding column (the int8
    * compression path of a vector index): q(x) = clamp(floor(x·200),
    * −127, 127). Emitted as integral-valued array<double> so the cosine
    * fold stays engine-portable — |q| ≤ 127 means every pairwise product
    * ≤ 16129 and every 64-term partial sum is an exact small integer in
    * double, so ANY summation order in ANY engine produces the same
    * bits (the float-embedding cosine needs a pinned fold order; the
    * quantized one doesn't). A production index persists the codes as
    * 1-byte values — 4× less storage/shuffle than float32 — and runs
    * the dot in int32; the arithmetic here is that dot, exactly.
    */
  def scalarQuantize(emb: Column): Column =
    transform(emb, x =>
      greatest(lit(-127.0), least(lit(127.0), floor(x.cast("double") * 200))))
      .cast("array<double>")

  /** Quantized brute-force top-k: [[bruteForceTopK]] over
    * [[scalarQuantize]]d vectors — the corpus-side bytes drop 4× (the
    * scan/broadcast/shuffle cost at 100 TB) for a small recall loss vs
    * exact cosine (spec'd in SimilaritySpec). Quantization is map-side
    * narrow work on both join inputs; everything downstream is the
    * exact-path plan.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    embCol: String, k: Int,
                    maxCorpus: Long = MaxBruteCorpus): DataFrame = {
    guardBrute(corpus, "quantizedTopK",
      "writeIvfPqIndex + searchIvfPqIndex", maxCorpus)
    val q = queries.select(col(idCol).as("query_id"),
      scalarQuantize(col(embCol)).as("q_q"))
    val c = corpus.select(col(idCol).as("match_id"),
      scalarQuantize(col(embCol)).as("c_q"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("match_id"))
      .withColumn("sim_q", cosine(col("q_q"), col("c_q")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim_q").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("rank"),
        round(col("sim_q"), 6).as("sim_q"))
  }

  // ---- 1-bit binary quantization ---------------------------------------

  /** One 32-bit word of a 1-bit binary-quantized embedding: bit
    * `i − from` is the sign bit of dimension `i` (set iff x_i > 0) for
    * `i ∈ [from, until)`. A 64-dim embedding packs into TWO words (lo =
    * dims 0–31, hi = 32–63) held in BIGINT columns — 8 bytes per vector,
    * a 32× reduction vs float32, which is the whole point: at 100 TB the
    * candidate scan streams codes, not vectors. 32-bit words (not 64)
    * because a signed 1<<63 overflows DuckDB's checked shift — the
    * oracle packs the identical halves. Pure integer, engine-portable.
    */
  def binaryWord(emb: Column, from: Int, until: Int): Column = {
    require(until - from <= 32 && from < until, "word holds at most 32 bits")
    aggregate(
      transform(sequence(lit(from), lit(until - 1)),
        i => when(element_at(emb, i + 1).cast("double") > 0.0,
          call_function("shiftleft", lit(1L), i - lit(from))).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
  }

  private def withBinaryWords(df: DataFrame, embCol: String,
                              prefix: String, dim: Int): DataFrame =
    df.withColumn(s"${prefix}_lo", binaryWord(col(embCol), 0, dim / 2))
      .withColumn(s"${prefix}_hi", binaryWord(col(embCol), dim / 2, dim))

  /** Hamming similarity of two binary codes: dim − popcount(xor). */
  private def hammingSim(dim: Int): Column =
    (lit(dim) - bit_count(col("q_lo").bitwiseXOR(col("c_lo")))
      - bit_count(col("q_hi").bitwiseXOR(col("c_hi")))).cast("int")

  /** Binary-quantization top-k: rank the corpus per query by Hamming
    * similarity of sign-bit codes (RaBitQ/binary-hashing family — the
    * cheapest ANN code). The scan streams 8-byte codes and the score is
    * two XOR+popcounts — no floating point anywhere, so ranks and ties
    * (match_id asc) are exactly reproducible in any engine. Queries
    * broadcast; one shuffle for the per-query top-k.
    */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 embCol: String, k: Int,
                 maxCorpus: Long = MaxBruteCorpus): DataFrame = {
    guardBrute(corpus, "binaryTopK",
      "writeIvfPqIndex + searchIvfPqIndex", maxCorpus)
    val q = withBinaryWords(
      queries.select(col(idCol).as("query_id"), col(embCol).as("e")),
      "e", "q", Dim).drop("e")
    val c = withBinaryWords(
      corpus.select(col(idCol).as("match_id"), col(embCol).as("e")),
      "e", "c", Dim).drop("e")
    val scored = c.join(broadcast(q), col("query_id") =!= col("match_id"))
      .withColumn("hamming_sim", hammingSim(Dim))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming_sim").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("rank"),
        col("hamming_sim"))
  }

  /** Binary-quantization candidate generation + exact rerank: the
    * production shape for 1-bit codes — Hamming top-`cand` prunes the
    * corpus to a per-query candidate list (integer ties by match_id, so
    * the candidate SET is deterministic), then exact cosine on the
    * survivors picks the final top-k. The corpus scan carries the float
    * vector alongside its code only so survivors need no join-back; a
    * persisted-index variant would store codes and vectors as separate
    * column groups and late-materialize the vectors.
    */
  def binaryRerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                       embCol: String, k: Int, cand: Int = 40,
                       maxCorpus: Long = MaxBruteCorpus): DataFrame = {
    guardBrute(corpus, "binaryRerankTopK",
      "writeIvfPqIndex + searchIvfPqIndex", maxCorpus)
    val q = withBinaryWords(
      queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb")),
      "q_emb", "q", Dim)
    val c = withBinaryWords(
      corpus.select(col(idCol).as("match_id"), col(embCol).as("c_emb")),
      "c_emb", "c", Dim)
    val scored = c.join(broadcast(q), col("query_id") =!= col("match_id"))
      .withColumn("hamming_sim", hammingSim(Dim))
    val wH = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming_sim").desc, col("match_id").asc)
    val candidates = scored.withColumn("rank_h", row_number().over(wH))
      .filter(col("rank_h") <= cand)
      .withColumn("sim", cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("match_id").asc)
    candidates.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("rank"),
        round(col("sim"), 6).as("sim"))
  }

  /** [[binaryWord]] as oracle SQL text — identical packing. */
  def binaryWordSql(e: String, from: Int, until: Int): String =
    s"CAST(list_sum(list_transform(range($from, $until), i -> " +
      s"CASE WHEN CAST($e[i + 1] AS DOUBLE) > 0.0 " +
      s"THEN (1::BIGINT << CAST(i - $from AS INTEGER)) " +
      s"ELSE 0::BIGINT END)) AS BIGINT)"

  // ---- Product quantization --------------------------------------------

  /** Train per-subspace PQ codebooks (product quantization, Jégou,
    * Douze & Schmid 2011): split the embedding into `m` contiguous
    * subspaces of `subDim` dims and run the deterministic k-means of
    * [[trainIvfCentroids]] on each slice independently. Driver state =
    * m·k·subDim doubles regardless of corpus size; each subspace's
    * training is the same bit-reproducible quantized-integer pipeline
    * the IVF oracle proved engine-exact.
    */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, embCol: String,
                       m: Int, subDim: Int, k: Int,
                       iters: Int): Array[Array[Double]] = {
    import org.apache.spark.sql.GraftExpressionBridge.{column => exprCol, expression => colExpr}
    require(m >= 1 && subDim >= 1 && k >= 1 && iters >= 0)
    // ALL m subspaces train in one driver loop: 1 seed job + 1
    // aggregation job per iteration, instead of m independent
    // trainIvfCentroids calls (m × (1 + iters) sequential driver
    // round-trips — 24 jobs at m=8, measured as the dominant cost of
    // every train-in-query PQ form at bench SFs, and m× the corpus
    // passes at production scale). Bit-identical by construction:
    //  - the per-subspace seed ROWS are the same k smallest
    //    (md5(id), id) rows regardless of subspace (the ordering never
    //    looks at the vector), so collecting the full vectors once and
    //    slicing is exactly the m separate seed scans;
    //  - each iteration's update aggregates the same quantized-integer
    //    sums per (subspace, centroid, dim) — grouping the m subspaces
    //    into one shuffle cannot perturb an associative integer sum.
    // OptEquivalenceSpec pins batched == sequential on real data.
    val seeds = corpus.select(col(idCol), col(embCol))
      .filter(col(idCol).isNotNull) // NULLS FIRST/LAST divergence guard,
      // same rule as trainIvfCentroids
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(k).collect()
    require(seeds.nonEmpty, "no seed centroids found")
    val seedVecs: Array[Array[Double]] = seeds.map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
      case x => x.asInstanceOf[Number].doubleValue
    }.toArray)
    var cbs: Array[Array[Double]] = Array.tabulate(m) { s =>
      seedVecs.flatMap(v => v.slice(s * subDim, (s + 1) * subDim))
    }
    for (_ <- 0 until iters) {
      // one row per (subspace, assigned centroid, sub-vector), exploded
      // to (s, c, d, x) — the union of the m per-subspace update inputs
      val subStructs = array((0 until m).map { s =>
        val sub = slice(col(embCol), s * subDim + 1, subDim)
        struct(lit(s).as("s"),
          exprCol(NearestCentroidExpr(colExpr(sub), cbs(s), subDim)).as("c"),
          sub.as("v"))
      }: _*)
      val means = corpus
        .select(explode(subStructs).as("r"))
        .select(col("r.s").as("s"), col("r.c").as("c"),
          posexplode(col("r.v")).as(Seq("d", "x")))
        .groupBy(col("s"), col("c"), col("d"))
        .agg(sum(floor(col("x").cast("double") * 1048576.0).cast("long"))
          .as("sm"), count(lit(1)).as("cnt"))
        .collect()
      val next = cbs.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1) * subDim + r.getInt(2)) =
          r.getLong(3).toDouble / r.getLong(4) / 1048576.0
      }
      cbs = next
    }
    cbs
  }

  /** PQ encoding: nearest codebook centroid per subspace — an array of
    * `m` small ints per vector (m·log2(k) bits of index payload instead
    * of 4·dim bytes: 24 bits vs 256 bytes at m=8, k=8, dim=64). Pure
    * map-side narrow work, [[NearestCentroidExpr]] per slice.
    */
  def pqEncode(emb: Column, codebooks: Array[Array[Double]], subDim: Int): Column = {
    import org.apache.spark.sql.GraftExpressionBridge.{column => exprCol, expression => colExpr}
    array(codebooks.zipWithIndex.map { case (cb, s) =>
      exprCol(NearestCentroidExpr(
        colExpr(slice(emb, s * subDim + 1, subDim)), cb, subDim))
    }: _*)
  }

  /** PQ decoding: concatenate each coded subspace's centroid back into a
    * dim-length approximation of the original vector. Literal codebooks
    * ride the plan (m·k·subDim doubles); map-side.
    */
  def pqReconstruct(codes: Column, codebooks: Array[Array[Double]],
                    subDim: Int): Column =
    concat(codebooks.zipWithIndex.map { case (cb, s) =>
      slice(typedLit(cb.toSeq), codes.getItem(s) * subDim + 1, lit(subDim))
    }: _*)

  /** PQ approximate top-k: encode the corpus, score queries against the
    * RECONSTRUCTED vectors, exact re-rank order (sim desc, id asc).
    * Equivalent arithmetic to classic ADC lookup tables — summing
    * dot(q_sub, centroid[code]) per subspace IS the dot against the
    * reconstruction — with the same plan shape (one map-side pass over
    * the corpus against broadcast queries); the LUT is a constant-factor
    * trick this declarative form leaves to the scorer. At 100 TB the
    * point of PQ is at-rest/in-shuffle size: the persisted index is the
    * codes column (m bytes/vector), not the float embedding.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             embCol: String, k: Int, m: Int = 8, subDim: Int = 8,
             nCentroids: Int = 8, iters: Int = 2,
             maxCorpus: Long = MaxBruteCorpus): DataFrame = {
    guardBrute(corpus, "pqTopK (train-in-query)",
      "writePqIndex + searchPqIndex", maxCorpus)
    val cbs = trainPqCodebooks(corpus, idCol, embCol, m, subDim, nCentroids, iters)
    val c = corpus.select(col(idCol).as("match_id"),
      pqReconstruct(pqEncode(col(embCol), cbs, subDim), cbs, subDim).as("recon"))
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("match_id"))
      .withColumn("sim_pq", cosine(col("q_emb"), col("recon")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim_pq").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("rank"),
        round(col("sim_pq"), 6).as("sim_pq"))
  }

  /** Two-stage retrieve-and-rerank (the production ANN serving shape):
    * PQ scores nominate `candK` candidates per query from the compact
    * code index, then the float vectors of ONLY those candidates are
    * fetched and exactly re-scored to the final top-k. At 100 TB the
    * exact pass touches nQueries·candK vectors instead of the corpus —
    * the candidate set broadcasts into the corpus join, so the heavy
    * side never shuffles.
    */
  def pqRerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                   embCol: String, k: Int, candK: Int = 50, m: Int = 8,
                   subDim: Int = 8, nCentroids: Int = 8, iters: Int = 2): DataFrame = {
    val cand = pqTopK(corpus, queries, idCol, embCol, candK, m, subDim,
      nCentroids, iters).select(col("query_id"), col("match_id"))
    val c = corpus.select(col(idCol).as("match_id"), col(embCol).as("c_emb"))
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
    val scored = c.join(broadcast(cand), Seq("match_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("sim", cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("rank"),
        round(col("sim"), 6).as("sim"))
  }

  // ---- Persisted PQ index ----------------------------------------------

  /** Build and PERSIST a PQ index: `<path>/codebooks` (one row — m,
    * subDim, the m×k×subDim centroid matrix) and `<path>/codes` (one row
    * per corpus vector: match_id + its m-byte code array). This is the
    * production split the in-query training forms ([[pqTopK]] etc., kept
    * for oracle reproducibility) amortize into: training and encoding
    * run ONCE at index-build time; every search afterwards touches only
    * the compact codes — at 100 TB the float embeddings never get read
    * again on the serving path. Encoding is map-side
    * ([[NearestCentroidExpr]] per slice); the only index-build shuffles
    * are inside k-means training.
    */
  def writePqIndex(corpus: DataFrame, idCol: String, embCol: String,
                   path: String, m: Int = 8, subDim: Int = 8,
                   nCentroids: Int = 8, iters: Int = 2): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cbs = trainPqCodebooks(corpus, idCol, embCol, m, subDim, nCentroids, iters)
    Seq((m, subDim, cbs.map(_.toSeq).toSeq)).toDF("m", "sub_dim", "codebooks")
      .write.mode("overwrite").parquet(s"$path/codebooks")
    corpus.select(col(idCol).as("match_id"),
        pqEncode(col(embCol), cbs, subDim).as("codes"))
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Search a persisted PQ index ([[writePqIndex]]): reconstruct each
    * stored code against the (tiny, plan-literal) codebooks, score the
    * broadcast queries, rank. No training, no scan of the float corpus —
    * the scan side is the m-bytes-per-vector codes table. Arithmetic is
    * identical to [[pqTopK]] with the same build parameters, so results
    * match the in-query form bit for bit.
    */
  def searchPqIndex(spark: org.apache.spark.sql.SparkSession, path: String, queries: DataFrame,
                    idCol: String, embCol: String, k: Int): DataFrame = {
    val meta = spark.read.parquet(s"$path/codebooks").collect()(0)
    val subDim = meta.getInt(meta.fieldIndex("sub_dim"))
    val cbs = meta.getSeq[scala.collection.Seq[Double]](meta.fieldIndex("codebooks"))
      .map(_.toArray).toArray
    require(cbs.length == meta.getInt(meta.fieldIndex("m")),
      s"$path: codebook count ${cbs.length} != stored m — corrupt index meta")
    // the codes table is tiny AT REST (m bytes/vector → one file even
    // for a large corpus) but the probe join below EXPANDS it by the
    // query count: without this repartition the scan plans as 1-2
    // partitions and the whole queries×codes scoring stage runs on as
    // many tasks (measured at sf10: 324 s single-task vs the corpus-
    // scan twin's full-width stage). A ~1 MB shuffle buys full
    // parallelism on the multi-hundred-million-row in-flight expansion.
    val c = spark.read.parquet(s"$path/codes")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("match_id"), pqReconstruct(col("codes"), cbs, subDim).as("recon"))
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("match_id"))
      .withColumn("sim_pq", cosine(col("q_emb"), col("recon")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim_pq").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("rank"),
        round(col("sim_pq"), 6).as("sim_pq"))
  }

  /** Retrieve-and-rerank served from a persisted PQ index
    * ([[writePqIndex]]): the stored codes nominate `candK` candidates
    * per query (no training, no full-corpus float scan for scoring),
    * then the float vectors of ONLY those candidates are exactly
    * re-scored. Matches [[pqRerankTopK]] bit for bit at the same build
    * parameters; the heavy side never shuffles (candidates and queries
    * broadcast into the corpus scan).
    */
  def rerankPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    corpus: DataFrame, queries: DataFrame, idCol: String,
                    embCol: String, k: Int, candK: Int = 50): DataFrame = {
    val cand = searchPqIndex(spark, path, queries, idCol, embCol, candK)
      .select(col("query_id"), col("match_id"))
    val c = corpus.select(col(idCol).as("match_id"), col(embCol).as("c_emb"))
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
    val scored = c.join(broadcast(cand), Seq("match_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("sim", cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("rank"),
        round(col("sim"), 6).as("sim"))
  }

  /** Retrieve-and-rerank served from a persisted IVF-PQ index: the
    * coarse lists prune to `nProbe` probe streams per query, the PQ
    * codes nominate `candK` candidates, and only those candidates'
    * float vectors are exactly re-scored — [[rerankPqIndex]] with the
    * quadratic full-code scan replaced by list pruning, so the
    * candidate stage is O(Q·√N·nProbe) instead of O(Q·N). Output
    * schema matches [[rerankPqIndex]] / [[pqRerankTopK]]:
    * (query_id, match_id, rank, sim).
    */
  def rerankIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       corpus: DataFrame, queries: DataFrame, idCol: String,
                       embCol: String, k: Int, candK: Int = 50,
                       nProbe: Int = 2): DataFrame = {
    val cand = searchIvfPqIndex(spark, path, queries, idCol, embCol,
      candK, nProbe).select(col("query_id"), col("match_id"))
    val c = corpus.select(col(idCol).as("match_id"), col(embCol).as("c_emb"))
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
    val scored = c.join(broadcast(cand), Seq("match_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("sim", cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("rank"),
        round(col("sim"), 6).as("sim"))
  }

  /** Coarse-list count derived from the corpus size: the largest power
    * of two ≤ √N, floored at 8 and CAPPED at [[MaxCoarseLists]] — the
    * standard IVF sizing rule (lists ∝ √N keeps both per-list length
    * and the probe stream at O(√N), so candidates/query stay FLAT as
    * the corpus grows; a fixed list count makes every list, and
    * therefore every probe, grow linearly — the measured 56× serving
    * tail at the 100× point). Power-of-two floor + integer √ keep the
    * value bit-identical to the oracle's SQL mirror
    * (`QueriesEmb.autoCoarseKSql`): floor(sqrt) over a BIGINT count is
    * exact in IEEE double for any corpus below 2⁵². Example widths:
    * 500 → 16, 2 000 → 32, 200 000 → 256, 10⁹ → 16 384.
    *
    * The cap is this DESIGN's own honest ceiling, not the math's: the
    * trainer ships centroids as a plan literal and collects k·dim
    * update cells per iteration, both ∝ k — at k = 65 536 and dim 64
    * that is a 33 MB literal and 4.2M cells (fine); at the √N a
    * trillion-vector corpus would ask for (~10⁶ lists) it would be
    * gigabytes on the driver. Beyond N ≈ 4.3×10⁹ vectors (√N > cap)
    * the right architecture is SHARDED indexes — partition the corpus
    * into ≤ 4.3×10⁹-vector shards, one index each, fan out probes and
    * merge top-k (the standard multi-index serving shape); within a
    * shard this derivation is exact.
    */
  def autoCoarseLists(n: Long): Int = {
    require(n >= 1, "autoCoarseLists needs a positive corpus count")
    val s = math.max(math.floor(math.sqrt(n.toDouble)).toLong, 1L)
    math.min(MaxCoarseLists.toLong,
      math.max(8L, java.lang.Long.highestOneBit(s))).toInt
  }

  /** One-shard width ceiling for [[autoCoarseLists]]. */
  val MaxCoarseLists: Int = 65536

  /** Driver plan-literal budget per shard, in centroid CELLS (k·dim
    * doubles): 2²² cells = 33 MB — the size [[autoCoarseLists]]'s
    * scaladoc already calls its honest ceiling at dim 64.
    */
  val MaxCentroidCells: Long = 1L << 22

  /** Derive the shard count from corpus geometry — the same discipline
    * [[autoCoarseLists]] applies to list width, one level up. A shard
    * is "full" when its derived width √N hits the per-shard list
    * ceiling, which is the LOWER of [[MaxCoarseLists]] (the
    * driver-collect bound) and [[MaxCentroidCells]]/dim (the centroid
    * plan-literal budget — wider embeddings shrink the sane k, which
    * the fixed 65536 alone would miss). So:
    *
    *   maxLists(dim)  = min(65536, 2²²/dim)
    *   maxShardN(dim) = maxLists²        (beyond it, √N > maxLists)
    *   autoShards     = nextPow2(ceil(N / maxShardN))
    *
    * Power-of-two shard counts keep `pmod(id, nShards)` stable under
    * future doublings (every vector moves to `old` or `old + nShards`,
    * never an arbitrary re-deal — the property consistent-hashing
    * schemes buy with far more machinery). Examples at dim 64
    * (maxLists 65536, maxShardN ≈ 4.29×10⁹): anything ≤ 4.29×10⁹ → 1;
    * 10¹⁰ → 4; 10¹¹ → 32. At dim 1024 (maxLists 4096, maxShardN
    * ≈ 1.67×10⁷): 10⁹ → 64.
    */
  def autoShards(n: Long, dim: Int = Dim): Int = {
    require(n >= 1 && dim >= 1, "autoShards needs positive n and dim")
    val maxLists = math.min(MaxCoarseLists.toLong, MaxCentroidCells / dim)
    val maxShardN = maxLists * maxLists
    val raw = (n + maxShardN - 1) / maxShardN
    if (raw <= 1L) 1
    else {
      val hb = java.lang.Long.highestOneBit(raw)
      (if (hb == raw) hb else hb << 1).toInt
    }
  }

  /** `nCoarse = 0` (the default) in the index builders means "derive
    * from the corpus count" via [[autoCoarseLists]] — one count job at
    * build time buys geometry that keeps serving cost flat at any scale.
    */
  private def resolveCoarse(nCoarse: Int, corpus: DataFrame): Int =
    if (nCoarse > 0) nCoarse else autoCoarseLists(corpus.count())

  /** Build and persist an IVF-PQ index (the [[ivfPqTopK]] composition,
    * split build/serve like [[writePqIndex]]): `<path>/meta` holds the
    * coarse centroid matrix + residual PQ codebooks (one row, driver
    * payload (nCoarse + m·k)·subDim doubles), `<path>/codes` one row per
    * vector — match_id, coarse list id, m-byte residual code. Training
    * and encoding run once; the serving path never re-reads the float
    * corpus.
    *
    * `nCoarse` defaults to 0 = SELF-SCALING: [[autoCoarseLists]] of the
    * corpus count. Pass an explicit value only for oracle-pinned test
    * shapes — a fixed width silently degrades at corpus growth (probe
    * stream ∝ N/nCoarse).
    */
  def writeIvfPqIndex(corpus: DataFrame, idCol: String, embCol: String,
                      path: String, nCoarse: Int = 0, coarseIters: Int = 2,
                      m: Int = 8, subDim: Int = 8, nCentroids: Int = 8,
                      pqIters: Int = 2, dim: Int = Dim): Unit = {
    import org.apache.spark.sql.GraftExpressionBridge.{column => exprCol, expression => colExpr}
    val spark = corpus.sparkSession
    import spark.implicits._
    // coarse centroids + residual codebooks train on the corpus; every
    // corpus vector is then assigned + encoded
    val nC0 = resolveCoarse(nCoarse, corpus)
    val coarse = trainIvfCentroids(corpus, idCol, embCol, nC0, coarseIters, dim)
    val coarseLit = typedLit(coarse.toSeq)
    def withResid(df: DataFrame): DataFrame = df
      .withColumn("coarse_c",
        exprCol(NearestCentroidExpr(colExpr(col(embCol)), coarse, dim)))
      .withColumn("resid", zip_with(col(embCol).cast("array<double>"),
        slice(coarseLit, col("coarse_c") * dim + 1, lit(dim)), (x, c) => x - c))
    val cbs = trainPqCodebooks(withResid(corpus).select(col(idCol), col("resid")),
      idCol, "resid", m, subDim, nCentroids, pqIters)
    Seq((dim, m, subDim, coarse.toSeq, cbs.map(_.toSeq).toSeq))
      .toDF("dim", "m", "sub_dim", "coarse", "codebooks")
      .write.mode("overwrite").parquet(s"$path/meta")
    withResid(corpus).select(col(idCol).as("match_id"), col("coarse_c"),
        pqEncode(col("resid"), cbs, subDim).as("codes"))
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Index-health audit over a persisted IVF-PQ index
    * ([[writeIvfPqIndex]]): one row — vector count, list geometry,
    * per-list occupancy skew (max list vs mean, in ppm) and empty-list
    * count. The operational check behind the self-scaling geometry:
    * a healthy index has skew_ppm within a small multiple of 10⁶ and
    * few empty lists; a degenerate embedding corpus (failed encoder
    * run) shows up as one mega-list long before serving latency does.
    * Scale shape: ONE partial-agg'd groupBy over the codes table
    * (list-id-scale state), a 1-row meta read — the float corpus is
    * never touched. Pure integer output, oracle-replayable via the
    * same k-means chain the search oracles prove engine-exact.
    */
  def indexHealth(spark: org.apache.spark.sql.SparkSession,
                  path: String): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").collect()(0)
    val dim = meta.getInt(meta.fieldIndex("dim"))
    val nLists = meta.getSeq[Double](meta.fieldIndex("coarse")).length / dim
    spark.read.parquet(s"$path/codes")
      .groupBy(col("coarse_c")).agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt")).as("n_vectors"),
        lit(nLists.toLong).as("n_lists"),
        count(lit(1)).as("lists_used"),
        (lit(nLists.toLong) - count(lit(1))).as("lists_empty"),
        max(col("cnt")).as("max_list"))
      .select(col("n_vectors"), col("n_lists"), col("lists_used"),
        col("lists_empty"), col("max_list"),
        expr("n_vectors DIV n_lists").as("mean_list"),
        expr("max_list * 1000000 DIV greatest(n_vectors DIV n_lists, 1)")
          .as("skew_ppm"))
  }

  /** [[indexHealth]] over a sharded index ([[writeIvfPqIndexSharded]]):
    * one row PER SHARD — the fleet dashboard of a multi-index serving
    * tier, where one degenerate shard (empty lists, mega-list skew)
    * hides inside healthy aggregates unless reported per shard.
    */
  def indexHealthSharded(spark: org.apache.spark.sql.SparkSession,
                         path: String, nShards: Int): DataFrame = {
    require(nShards >= 1, "indexHealthSharded needs nShards >= 1")
    (0 until nShards)
      .map(sh => indexHealth(spark, s"$path/shard=$sh")
        .withColumn("shard", lit(sh.toLong)))
      .reduce(_ unionAll _)
  }

  /** Search a persisted IVF-PQ index: probe-list pruning + residual
    * reconstruction against the stored codes — arithmetic identical to
    * [[ivfPqTopK]] with the same build parameters, so results match bit
    * for bit; the scan side is the codes table (one small int + m bytes
    * per vector), never the float embeddings.
    */
  def searchIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, idCol: String, embCol: String,
                       k: Int, nProbe: Int = 2): DataFrame = {
    val scored = ivfPqScoredFromIndex(spark, path, queries, idCol, embCol, nProbe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_ivfpq").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("rank"),
        round(col("sim_ivfpq"), 6).as("sim_ivfpq"))
  }

  /** The probe-and-score core of [[searchIvfPqIndex]], RAW similarities
    * (no rank cut, no rounding) — the unit a multi-index merge composes:
    * shard results union on raw scores and rank ONCE globally, so the
    * merged top-k is bit-identical to what a single index over the
    * union corpus would rank from the same approximations.
    */
  private def ivfPqScoredFromIndex(spark: org.apache.spark.sql.SparkSession,
                                   path: String, queries: DataFrame,
                                   idCol: String, embCol: String,
                                   nProbe: Int): DataFrame = {
    import spark.implicits._
    val meta = spark.read.parquet(s"$path/meta").collect()(0)
    val dim = meta.getInt(meta.fieldIndex("dim"))
    val subDim = meta.getInt(meta.fieldIndex("sub_dim"))
    val coarse = meta.getSeq[Double](meta.fieldIndex("coarse")).toArray
    val cbs = meta.getSeq[scala.collection.Seq[Double]](meta.fieldIndex("codebooks"))
      .map(_.toArray).toArray
    val nC = coarse.length / dim
    val coarseLit = typedLit(coarse.toSeq)
    def centSlice(idx: Column) = slice(coarseLit, idx * dim + 1, lit(dim))

    // same tiny-at-rest / huge-in-flight argument as [[searchPqIndex]]:
    // spread the one-file codes scan across the cluster BEFORE the
    // probe join multiplies it by the query count
    val encoded = spark.read.parquet(s"$path/codes")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("match_id"), col("coarse_c"),
        pqReconstruct(col("codes"), cbs, subDim).as("rrec"))
      .withColumn("approx",
        zip_with(centSlice(col("coarse_c")), col("rrec"), (a, b) => a + b))
      .drop("rrec")

    val centDf = (0 until nC).map(c =>
      (c, coarse.slice(c * dim, (c + 1) * dim).toSeq)).toDF("cent_c", "cent_emb")
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("p_cos").desc, col("cent_c").asc)
    val probes = q.crossJoin(broadcast(centDf))
      .withColumn("p_cos", cosine(col("q_emb"), col("cent_emb")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cent_c"))

    encoded.join(broadcast(probes),
        col("coarse_c") === col("cent_c") && col("query_id") =!= col("match_id"))
      .withColumn("sim_ivfpq", cosine(col("q_emb"), col("approx")))
      .select(col("query_id"), col("match_id"), col("sim_ivfpq"))
  }

  /** Sharded IVF-PQ index — the architecture past the one-shard width
    * ceiling ([[MaxCoarseLists]]: √N > 65 536 at N ≈ 4.3×10⁹ vectors,
    * where the centroid plan-literal / driver-collect sizes stop being
    * sane): partition the corpus into `nShards` DISJOINT slices by
    * `id % nShards`, build one [[writeIvfPqIndex]] per slice under
    * `<path>/shard=<i>`, each with its OWN derived geometry
    * (`nCoarse = 0` derives from the shard's count, so every shard
    * keeps lists ∝ √(shard N)). Driver state and training cost are
    * per-shard; the shards build as CONCURRENT Spark jobs (one builder
    * thread per shard — Spark schedules jobs from multiple threads onto
    * the shared executor pool, so shard builds overlap instead of
    * serializing their k-means barriers; on a real cluster the same
    * shape lets the scheduler interleave shard stages across executors).
    *
    * Sharding uses `pmod(id, nShards)` — Scala/Spark `%` keeps the
    * dividend's sign, so a negative id (a pattern this repo itself uses
    * for sign-split keys) would match NO shard under `%` and silently
    * vanish from the index, breaking the documented disjoint-partition
    * contract.
    */
  def writeIvfPqIndexSharded(corpus: DataFrame, idCol: String, embCol: String,
                             path: String, nShards: Int = 0, nCoarse: Int = 0,
                             coarseIters: Int = 2, m: Int = 8, subDim: Int = 8,
                             nCentroids: Int = 8, pqIters: Int = 2,
                             dim: Int = Dim): Unit = {
    // nShards = 0: derive from corpus geometry (one count job), the
    // same contract nCoarse = 0 already has one level down
    val nShards0 = if (nShards > 0) nShards
                   else autoShards(corpus.count(), dim)
    doWriteSharded(corpus, idCol, embCol, path, nShards0, nCoarse,
      coarseIters, m, subDim, nCentroids, pqIters, dim)
  }

  private def doWriteSharded(corpus: DataFrame, idCol: String, embCol: String,
                             path: String, nShards: Int, nCoarse: Int,
                             coarseIters: Int, m: Int, subDim: Int,
                             nCentroids: Int, pqIters: Int,
                             dim: Int): Unit = {
    require(nShards >= 1, "writeIvfPqIndexSharded needs nShards >= 1")
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // bounded wave of builder threads (8 concurrent shard builds keeps
    // driver k-means state additive-small while still overlapping the
    // per-shard job barriers)
    (0 until nShards).grouped(8).foreach { wave =>
      val threads = wave.map { sh =>
        val t = new Thread(() => {
          try writeIvfPqIndex(corpus.filter(pmod(col(idCol), lit(nShards)) === sh),
            idCol, embCol, s"$path/shard=$sh", nCoarse, coarseIters,
            m, subDim, nCentroids, pqIters, dim)
          catch { case e: Throwable => failures.add(e) }
        }, s"graft-shard-build-$sh")
        t.start(); t
      }
      threads.foreach(_.join())
    }
    if (!failures.isEmpty) throw failures.peek()
  }

  /** Serve a sharded IVF-PQ index ([[writeIvfPqIndexSharded]]): fan
    * every query out to all `nShards` per-shard indexes (`nProbe`
    * lists probed WITHIN each shard — the standard multi-index
    * fan-out), union the RAW candidate scores, rank ONCE globally.
    * The union is a no-shuffle concat of per-shard probe streams; the
    * single global top-k window is the only exchange, exactly as in
    * the one-index search. Per-query candidate volume is
    * nShards × nProbe × (shardN / shardLists) ≈ nProbe · √(shardN) ·
    * √nShards — flat in corpus growth at fixed shard count, and the
    * shard count only grows when the corpus crosses another ~4.3×10⁹
    * vectors.
    */
  def searchIvfPqIndexSharded(spark: org.apache.spark.sql.SparkSession,
                              path: String, nShards: Int, queries: DataFrame,
                              idCol: String, embCol: String, k: Int,
                              nProbe: Int = 2): DataFrame = {
    // nShards = 0: discover the written width from the index layout
    // itself (the `shard=<i>` partition dirs) — the serve side must
    // never have to GUESS what the build side derived
    val nShards0 = if (nShards >= 1) nShards else {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val found = fs.listStatus(p).map(_.getPath.getName)
        .count(_.startsWith("shard="))
      require(found >= 1, s"no shard= dirs under $path")
      found
    }
    require(nShards0 >= 1, "searchIvfPqIndexSharded needs nShards >= 1")
    val scored = (0 until nShards0)
      .map(sh => ivfPqScoredFromIndex(spark, s"$path/shard=$sh", queries,
        idCol, embCol, nProbe))
      .reduce(_ unionAll _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_ivfpq").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("rank"),
        round(col("sim_ivfpq"), 6).as("sim_ivfpq"))
  }

  /** IVF-PQ: the canonical big-index composition (coarse inverted lists
    * + product-quantized RESIDUALS, à la Jégou et al. 2011 §IV) — the
    * coarse quantizer prunes the corpus to nProbe lists per query, and
    * within a list each vector is its coarse centroid plus an m-byte PQ
    * code of the residual. Residuals cluster far tighter than raw
    * vectors, so the same code budget reconstructs with less distortion
    * than flat PQ. Index payload per vector: one small int (list id) +
    * m bytes. Driver state: (nCoarse + m·nCentroids·subDim) doubles.
    * All training/assignment reuses the bit-reproducible machinery the
    * IVF and PQ oracles proved engine-exact.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                embCol: String, k: Int, nCoarse: Int = 8, coarseIters: Int = 2,
                m: Int = 8, subDim: Int = 8, nCentroids: Int = 8,
                pqIters: Int = 2, nProbe: Int = 2, dim: Int = Dim,
                maxCorpus: Long = MaxBruteCorpus): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge.{column => exprCol, expression => colExpr}
    // same guard discipline as the brute scorers: this form trains a
    // full k-means (coarse + PQ codebooks) PER CALL over the corpus —
    // just as easy to point at a cluster-scale table by accident, and
    // the production path trains ONCE via writeIvfPqIndex and serves
    // from the persisted codes
    guardBrute(corpus, "ivfPqTopK (train-in-query)",
      "writeIvfPqIndex + searchIvfPqIndex", maxCorpus,
      cost = "trains coarse + PQ k-means over the full corpus per call")
    val spark = corpus.sparkSession
    import spark.implicits._
    // nCoarse = 0 → self-scaling width (the persisted-index builder's
    // default); the explicit-8 default here stays for the oracle-pinned
    // train-in-query twin
    val coarse = trainIvfCentroids(corpus, idCol, embCol,
      resolveCoarse(nCoarse, corpus), coarseIters, dim)
    val nC = coarse.length / dim
    val coarseLit = typedLit(coarse.toSeq)
    def centSlice(idx: Column) = slice(coarseLit, idx * dim + 1, lit(dim))

    // map-side: coarse list id, residual, PQ code, decoded approximation
    val withC = corpus
      .withColumn("coarse_c",
        exprCol(NearestCentroidExpr(colExpr(col(embCol)), coarse, dim)))
      .withColumn("resid", zip_with(col(embCol).cast("array<double>"),
        centSlice(col("coarse_c")), (x, c) => x - c))
    val cbs = trainPqCodebooks(withC.select(col(idCol), col("resid")),
      idCol, "resid", m, subDim, nCentroids, pqIters)
    val encoded = withC.select(col(idCol).as("match_id"), col("coarse_c"),
        pqReconstruct(pqEncode(col("resid"), cbs, subDim), cbs, subDim).as("rrec"))
      .withColumn("approx",
        zip_with(centSlice(col("coarse_c")), col("rrec"), (a, b) => a + b))
      .drop("rrec")

    // per-query probe lists (tiny: queries × nCoarse, broadcast)
    val centDf = (0 until nC).map(c =>
      (c, coarse.slice(c * dim, (c + 1) * dim).toSeq)).toDF("cent_c", "cent_emb")
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("p_cos").desc, col("cent_c").asc)
    val probes = q.crossJoin(broadcast(centDf))
      .withColumn("p_cos", cosine(col("q_emb"), col("cent_emb")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cent_c"))

    val scored = encoded.join(broadcast(probes),
        col("coarse_c") === col("cent_c") && col("query_id") =!= col("match_id"))
      .withColumn("sim_ivfpq", cosine(col("q_emb"), col("approx")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_ivfpq").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("rank"),
        round(col("sim_ivfpq"), 6).as("sim_ivfpq"))
  }

  // ---- Random-hyperplane LSH -------------------------------------------
  // Deterministic integer hyperplanes: plane p, dim d has weight
  // ((p*73 + d*31) % 19) - 9 in [-9, 9]. Bit p of the bucket id = sign of
  // <plane_p, quantize(v)> where quantize(x) = floor(x·2^20) — all-integer
  // dot products: exact, associative, engine-portable.

  /** Hyperplanes of [[lshBucket]] and [[lshBucketSql]] unless a caller
    * picks another count.
    */
  val LshPlanes = 12

  def planeWeight(p: Int, d: Int): Int = ((p * 73 + d * 31) % 19) - 9

  /** LSH bucket id via the native [[LshBucketExpr]] — compact codegen'd
    * loop, map-side, no shuffle. (The Column-algebra form inlined
    * nPlanes×dim element_at terms and blew up codegen — round-1 bench
    * spent ~4 s compiling the 768-term tree per query.)
    */
  def lshBucket(emb: Column, nPlanes: Int = LshPlanes, dim: Int = Dim): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      LshBucketExpr(org.apache.spark.sql.GraftExpressionBridge.expression(emb),
        nPlanes, dim))

  /** The bucket computation as oracle SQL text (same quantized-integer
    * arithmetic as [[LshBucketExpr]], any summation order — integer adds
    * are associative).
    */
  def lshBucketSql(emb: String, nPlanes: Int = LshPlanes, dim: Int = Dim): String = {
    val bits = (0 until nPlanes).map { p =>
      val terms = (0 until dim).map { d =>
        s"(CAST(floor(CAST($emb[${d + 1}] AS DOUBLE) * 1048576.0) AS BIGINT) * ${planeWeight(p, d)})"
      }.mkString("(", " + ", ")")
      s"(CASE WHEN $terms > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"CAST($bits AS BIGINT)"
  }

  /** [[lshBucketSql]] with the plane count as a SQL SCALAR instead of a
    * literal — the oracle mirror of a self-scaling geometry
    * (`Bitext.autoPlanes`): all `maxPlanes` bit terms are unrolled and
    * each is gated on `p < npSql`, so the replayed bucket id equals the
    * Spark side's np-plane bucket exactly (planes ≥ np contribute 0 on
    * both engines — Spark never computes them, SQL masks them).
    */
  def lshBucketSqlDyn(emb: String, npSql: String, dim: Int = Dim,
                      maxPlanes: Int = 24): String = {
    val bits = (0 until maxPlanes).map { p =>
      val terms = (0 until dim).map { d =>
        s"(CAST(floor(CAST($emb[${d + 1}] AS DOUBLE) * 1048576.0) AS BIGINT) * ${planeWeight(p, d)})"
      }.mkString("(", " + ", ")")
      s"(CASE WHEN $p < $npSql AND $terms > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"CAST($bits AS BIGINT)"
  }

  /** Embedding-cosine near-duplicate pairs (the dedup-family member over
    * vectors): candidate pairs share an LSH bucket — an equi-join, never
    * O(n²) — then exact cosine verifies ≥ tau. Fewer planes = bigger
    * buckets = higher recall at more verification work. Returns
    * (id_a, id_b, cos) with id_a < id_b.
    *
    * `maxBucketSize` is the skew cap (the vector-side mirror of
    * `Dedup.maxShingleDf`): a degenerate embedding corpus — near-constant
    * or zero vectors from a failed encoder run — collapses into ONE
    * bucket and the self-join goes O(n²). Buckets larger than the cap
    * are dropped entirely BEFORE the join, bounding candidates at
    * O(nBuckets · cap²). Recall effect: pairs whose shared bucket
    * overflows are lost — near-constant corpora are exactly the ones
    * where pairwise cosine is uninformative, so the lost pairs are
    * degenerate dups best handled by exact dedup upstream. The cap is
    * the two-phase [[SkewCap]] shape — partial-agg bucket counts, then
    * the (tiny) over-cap bucket set broadcast back as an anti-join — so
    * an overflowing bucket's rows are dropped map-side instead of being
    * colocated by a count-over-window before the filter can see them.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, embCol: String,
                         tau: Double, nPlanes: Int = 8, dim: Int = Dim,
                         maxBucketSize: Long = Long.MaxValue): DataFrame = {
    val b0 = df.select(col(idCol).as("id"), col(embCol).as("emb"),
      lshBucket(col(embCol), nPlanes, dim).as("bucket"))
    val b = SkewCap.dropOverCap(b0, col("bucket"), maxBucketSize)
    b.as("x").join(b.as("y"), Seq("bucket"))
      .filter(col("x.id") < col("y.id"))
      .withColumn("cos", cosine(col("x.emb"), col("y.emb")))
      .filter(col("cos") >= tau)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        round(col("cos"), 6).as("cos"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the trained coarse
    * quantizer, then within each cluster drop every vector that has a
    * neighbor with cosine ≥ `tau` and a smaller id (deterministic
    * greedy keep-lowest-id — order-free, so re-runs and stage retries
    * keep the same representatives). Returns one row per input vector:
    * (vec_id, cluster, kept).
    *
    * Scale shape: clustering bounds the candidate self-join to
    * within-cluster pairs — the k-means driver state is k·dim doubles,
    * assignment is the map-side [[NearestCentroidExpr]], and the pair
    * join is an equi-join on `cluster`, never O(n²) across the corpus.
    * `maxClusterSize` mirrors `cosineNearDupPairs`' bucket cap: an
    * overflowing cluster (degenerate encoder output) skips pair
    * generation entirely — its members are all KEPT rather than
    * quadratically joined. The cap is the two-phase [[SkewCap]] shape
    * (partial-agg counts → broadcast anti-join), so the overflowing
    * cluster never colocates on one task.
    */
  def semanticDedup(df: DataFrame, idCol: String, embCol: String,
                    tau: Double, nCentroids: Int, iters: Int = 3,
                    dim: Int = Dim,
                    maxClusterSize: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge.{column => exprCol, expression => colExpr}
    val cents = trainIvfCentroids(df, idCol, embCol, nCentroids, iters, dim)
    val assigned = df.select(col(idCol).as("id"), col(embCol).as("emb"),
      exprCol(NearestCentroidExpr(colExpr(col(embCol)), cents, dim)).as("cluster"))
    val joinable = SkewCap.dropOverCap(assigned, col("cluster"), maxClusterSize)
    val dups = joinable.as("x").join(joinable.as("y"), Seq("cluster"))
      .filter(col("x.id") < col("y.id"))
      .filter(cosine(col("x.emb"), col("y.emb")) >= tau)
      .select(col("y.id").as("id")).distinct()
    assigned.join(dups.withColumn("__dup", lit(true)), Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cluster"),
        col("__dup").isNull.as("kept"))
  }

  // ---- IVF (inverted-file) ANN -----------------------------------------

  /** Lloyd's k-means for the IVF coarse quantizer, as DataFrame ops:
    * assignment is the map-side native [[NearestCentroidExpr]] (cosine),
    * the update step is one groupBy over (cluster, dim) with partial
    * aggregation — per iteration, exactly one shuffle of k·dim cells.
    * Seeding is deterministic and id-space-agnostic: the k vectors with
    * the smallest (md5(id), id) — a uniform hash draw that survives
    * banded/sparse id spaces where stride-based rules collapse (see the
    * body comment). Non-null ids are a precondition (enforced below; a
    * nullable id would order NULLS FIRST in Spark but NULLS LAST in the
    * DuckDB oracle mirror and diverge the seed sets). Empty clusters
    * keep their previous centroid. Returns the flattened k×dim centroid
    * matrix.
    */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, embCol: String,
                        k: Int, iters: Int = 5, dim: Int = Dim): Array[Double] = {
    import org.apache.spark.sql.GraftExpressionBridge.{column => exprCol, expression => colExpr}
    require(k >= 1 && iters >= 0)
    // seeds: the k smallest (md5(id), id) — deterministic, uniform over
    // ANY id space, and still bounded: orderBy+limit compiles to
    // TakeOrdered (per-partition top-k, k-row driver state), never a
    // global sort. The previous rule derived seed POSITIONS from the
    // [min,max] id range (mod-stride); on banded/sparse id spaces
    // (shard-offset allocation, snowflake ids — and every MakeScale
    // fixture, which offsets copy c's ids by c·10⁹) almost no id lands
    // on a stride multiple, the seed set collapses to a handful, and k
    // silently shrinks: the sf10 century sweep found every
    // auto-geometry index trained on such a corpus had TWO coarse
    // lists, serving near-brute-force candidate streams. md5-of-decimal
    // keeps the rule oracle-replayable (DuckDB md5(CAST(id AS VARCHAR))
    // yields the identical hex).
    val seeds = corpus.select(col(idCol), col(embCol))
      .filter(col(idCol).isNotNull) // Spark sorts NULLS FIRST, DuckDB
      // NULLS LAST — a nullable id would silently diverge the seed sets
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(k).collect()
    require(seeds.nonEmpty, "no seed centroids found")
    var cents: Array[Double] = seeds.flatMap(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
      case x => x.asInstanceOf[Number].doubleValue
    }).toArray

    for (_ <- 0 until iters) {
      val assignIdx = exprCol(NearestCentroidExpr(colExpr(col(embCol)),
        cents, dim))
      // update step: quantized-integer sums (floor(x*2^20)) — exact and
      // ASSOCIATIVE, so the partial-aggregate merge order cannot perturb
      // the mean: training is bit-reproducible on any cluster (a plain
      // avg() over doubles merges in shuffle-arrival order)
      val means = corpus
        .select(assignIdx.as("c"), posexplode(col(embCol)).as(Seq("d", "x")))
        .filter(col("d") < dim) // wider embeddings: train only the leading dims
        .groupBy(col("c"), col("d"))
        .agg(sum(floor(col("x").cast("double") * 1048576.0).cast("long")).as("s"),
          count(lit(1)).as("cnt"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          (r.getLong(2).toDouble / r.getLong(3) / 1048576.0)).toMap
      val next = cents.clone()
      means.foreach { case ((c, d), m) => next(c * dim + d) = m }
      cents = next
    }
    cents
  }

  /** IVF-style ANN, the other classic scale path next to LSH: a coarse
    * quantizer ([[trainIvfCentroids]], cluster ids 0..k-1) assigns every
    * corpus vector to its nearest centroid (map-side native expression
    * over a plan-reference centroid matrix — the 100 TB corpus never
    * shuffles to find its list); each query probes only its `nProbe`
    * nearest centroid lists, then exact cosine re-ranks the candidates.
    * Driver state is k·dim doubles regardless of corpus size.
    */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, idCol: String,
                     embCol: String, k: Int, nCentroids: Int, iters: Int = 5,
                     nProbe: Int = 2, dim: Int = Dim): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge.{column => exprCol, expression => colExpr}
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = trainIvfCentroids(corpus, idCol, embCol, nCentroids, iters, dim)
    // sparse id spaces can seed fewer than nCentroids clusters
    val centIds: Seq[Long] = (0L until (cents.length / dim).toLong)
    val centDf = centIds.map(c =>
      (c, cents.slice(c.toInt * dim, (c.toInt + 1) * dim).toSeq))
      .toDF("cent_id", "cent_emb")
    // map-side coarse assignment: the centroid index is its id. A null
    // embedding gets -1, which no centroid has, so its row drops at the
    // probe join as a null id would; a nullable id would instead make
    // Spark infer an isnotnull scan filter that runs the kernel twice
    val nearestIdx = exprCol(NearestCentroidExpr(colExpr(col(embCol)), cents, dim))
    val assigned = corpus.select(col(idCol).as("match_id"), col(embCol).as("c_emb"),
      coalesce(nearestIdx, lit(-1)).cast("long").as("cent_id"))

    // query probes: tiny (queries × centroids), broadcast both ways
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("p_cos").desc, col("cent_id").asc)
    val probes = q.join(broadcast(centDf), lit(true))
      .withColumn("p_cos", cosine(col("q_emb"), col("cent_emb")))
      .withColumn("p_rn", row_number().over(wProbe))
      .filter(col("p_rn") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cent_id"))

    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("match_id").asc)
    assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("query_id") =!= col("match_id"))
      .withColumn("sim", cosine(col("q_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("rank"), round(col("sim"), 6).as("sim"))
  }

  /** LSH-bucketed ANN: candidates share a bucket; exact cosine re-rank
    * inside the bucket, over [[lshBucket]]'s default [[LshPlanes]]
    * planes.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("match_id"), col(embCol).as("c_emb"),
      lshBucket(col(embCol)).as("bucket"))
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"),
      lshBucket(col(embCol)).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("match_id"))
      .withColumn("sim", cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("match_id"), col("rank"), round(col("sim"), 6).as("sim"))
  }
}
