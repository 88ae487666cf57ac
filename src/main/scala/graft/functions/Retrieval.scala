package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse full-text retrieval: an inverted index + BM25 ranking, the
  * classic pre-filter / hard-negative-mining pass of a training-data
  * pipeline (and the lexical half of hybrid search next to the dense
  * ANN family in [[Similarity]]).
  *
  * Terms are adjacent word-bigrams of the normalized text — on real
  * corpora unigrams work too, but bigram terms keep document frequency
  * spreads realistic on small synthetic vocabularies and double as a
  * phrase-ish signal. All scoring is integer: the tf saturation is an
  * exact rational cleared to micro-units and the idf is the portable
  * Q16 log2 ([[Portable.log2q16]]), so ranks and scores replay
  * bit-identically in the DuckDB oracle.
  *
  * Scale shape (see SCALE.md): ONE corpus-scale shuffle builds the
  * postings (groupBy (doc, term), map-side partials). df/idf live on a
  * vocab-scale table (Heaps-law sublinear in the corpus) that joins
  * back by broadcast; the query set broadcasts into the postings scan,
  * so candidate generation is map-side and candidate volume is bounded
  * by n_query_terms x maxDf (the df cap drops stopword-ish terms whose
  * posting lists would dominate — they carry near-zero idf anyway).
  * The only other shuffle carries candidates (groupBy (query, doc)),
  * and the final top-k plans as WindowGroupLimit: each task forwards
  * at most k rows per query.
  */
object Retrieval {

  /** BM25 constants k1=1.2, b=0.75 as exact rationals: with
    * avgdl = T/N the per-term saturation
    *   tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    * multiplied through by 10*T*N/(T*N) clears to
    *   22*tf*T / (10*tf*T + 3*T + 9*dl*N)
    * — integer micro-units via one floor division. Fits 64-bit through
    * ~1e11 corpus tokens; promote to DECIMAL(38,0) beyond.
    */
  private def tfPartMicro(tf: Column, dl: Column, nDocs: Column,
                          nTerms: Column): Column =
    call_function("div",
      lit(22000000L) * tf * nTerms,
      lit(10L) * tf * nTerms + lit(3L) * nTerms + lit(9L) * dl * nDocs)

  /** Robertson-Sparck-Jones idf in Q16: log2((N-df+0.5)/(df+0.5)) =
    * log2(2(N-df)+1) - log2(2df+1), clamped at 0 (Lucene-style) so
    * ubiquitous terms can't vote negatively.
    */
  private def idfQ16(df: Column, nDocs: Column): Column =
    greatest(
      Portable.log2q16(lit(2L) * (nDocs - df) + 1L)
        - Portable.log2q16(lit(2L) * df + 1L),
      lit(0L))

  /** Adjacent-bigram terms of a word array. */
  def bigramsOf(words: Column): Column =
    zip_with(
      slice(words, lit(1), size(words) - 1),
      slice(words, lit(2), size(words) - 1),
      (a, b) => concat(a, lit(" "), b))

  /** Bigram terms of normalized text. */
  def bigramTerms(text: Column): Column =
    bigramsOf(split(TextAnalysis.normalized(text), " "))

  /** A deterministic query workload derived from the corpus itself
    * (docs with id % every == offset; query terms = bigrams of the
    * first 5 words) — the oracle-reproducible stand-in for a real
    * query log.
    */
  def queriesFromDocs(docs: DataFrame, idCol: String, textCol: String,
                      every: Long = 29L, offset: Long = 3L): DataFrame = {
    val words = split(TextAnalysis.normalized(col(textCol)), " ")
    // EvalOnce pins the tokenize chain in THIS projection: the explode
    // downstream infers `size(terms) > 0 AND isnotnull(terms)`, and
    // predicate pushdown substitutes the alias — the normalize regex +
    // zip_with chain then reappears ~16x inside the scan-level filter
    // condition AND again in the projection (plan-audited on
    // t_bm25_search; the pmod conjunct still short-circuits, but every
    // surviving row paid the chain repeatedly)
    docs.filter(pmod(col(idCol), lit(every)) === lit(offset))
      .select(col(idCol).cast("long").as("query_id"),
        EvalOnce(bigramsOf(slice(words, lit(1),
          least(size(words), lit(5))))).as("terms"))
  }

  /** BM25 top-k: for each (query_id, terms) row of `queries`, the k
    * best documents by summed integer BM25 over bigram terms.
    * Returns (query_id, doc_id, rnk, score_micro); queries with no
    * surviving candidate terms yield no rows. `maxDf` drops terms
    * appearing in more than that many documents from the index.
    */
  /** The shared index build: per-doc term arrays + lengths, the
    * postings (ONE corpus-scale shuffle — tf per (doc, term), dl rides
    * the partial agg), the 1-row corpus stats, and the vocab-scale
    * df/idf table (df <= maxDf cap LIVE at sf0.01: drops the handful
    * of boilerplate bigrams with df > 40).
    */
  private[functions] def index(docs: DataFrame, idCol: String,
                               textCol: String, maxDf: Long,
                               relDfDen: Option[Long] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    // spreadScan: the normalize+bigram tokenize below is the operator's
    // heavy map-side work — on a compact scan (1 row group ⇒ 1 task) it
    // would otherwise run on one core; identity at production split
    // counts (guide §1.2 step 2)
    val base = graft.ops.Partitioning.spreadScan(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        bigramTerms(col(textCol)).as("terms"))
      .withColumn("dl", size(col("terms")).cast("long"))
      .filter(col("dl") > 0)
    // CACHED: three consumers (df table, stats, candidate join) would
    // otherwise each re-scan + re-tokenize + re-aggregate the corpus —
    // Catalyst plans no ReusedExchange across these branches (measured:
    // 5 parquet scans, 62x at the century). The cached frame is the
    // POST-aggregation postings (tf folded — far smaller than the token
    // stream), the same lever as dd_ngram_pairs' cached explode.
    val postings = base
      .select(col("doc_id"), col("dl"), explode(col("terms")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .cache()
    // stats derive FROM the cached postings (per-doc dl rollup), not
    // from another corpus pass; same doc set (dl > 0) by construction.
    // stats and dfTab are MATERIALIZED (eager localCheckpoint): both are
    // consumed once per scoring round and once per feedback pass, and
    // each consumer wraps them in a BroadcastExchange whose build
    // re-runs the whole aggregation subtree — plan-audited on t_bm25_prf,
    // where the four ~2 s stages of the 47-stage run were all dfTab/stats
    // re-aggregations over the postings cache. One materialization each
    // (1 row; vocab-scale — Heaps-sublinear in the corpus) ends that.
    val stats = postings.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_terms"))
      .localCheckpoint()
    // df cap: absolute (maxDf) or RELATIVE (df <= n_docs/relDfDen) —
    // an absolute cap silently empties the vocabulary as the corpus
    // grows (t_bm25_prf measured 0 candidates at sf0.1 under df<=40);
    // the relative form scales with the corpus by construction
    val dfTab = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .filter(relDfDen match {
        case Some(den) => col("df") * den <= col("n_docs")
        case None => col("df") <= lit(maxDf)
      })
      .select(col("term"), idfQ16(col("df"), col("n_docs")).as("idf_q16"))
      .localCheckpoint()
    (postings, stats, dfTab)
  }

  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, k: Int = 5, maxDf: Long = 40L,
               excludeSelf: Boolean = false): DataFrame = {
    val (postings, stats, dfTab) = index(docs, idCol, textCol, maxDf)
    scoreAndRank(postings, stats, dfTab, queries, k, excludeSelf)
  }

  /** The serving tail shared by the in-query form and the persisted
    * index: broadcast the query terms and the vocab-scale idf table
    * into the postings, score, rank.
    */
  private def scoreAndRank(postings: DataFrame, stats: DataFrame,
                           dfTab: DataFrame, queries: DataFrame,
                           k: Int, excludeSelf: Boolean): DataFrame = {
    val qTerms = queries
      .select(col("query_id").cast("long").as("query_id"),
        explode(col("terms")).as("term"))
      .distinct()
    // ONE broadcast into the postings scan instead of three: the query
    // terms, their idf and the 1-row corpus stats all live at
    // workload/vocab scale, so pre-joining them into a single
    // (query_id, term, idf, n_docs, n_terms) probe table costs a
    // candidate-terms-sized join inside the broadcast build and removes
    // two BroadcastExchange stages from EVERY scoring round (bm25Prf
    // runs two rounds; measured 47 AQE stage-jobs for t_bm25_prf, the
    // broadcast builds a third of them). Inner-join reassociation +
    // constant attachment — scoring arithmetic unchanged.
    val probe = qTerms.join(dfTab, "term").crossJoin(broadcast(stats))
    val cand0 = postings
      .join(broadcast(probe), "term")
    // self-exclusion (for corpus-derived query workloads) happens on
    // the candidates so ranks are contiguous over the remaining docs
    val cand =
      if (excludeSelf) cand0.filter(col("query_id") =!= col("doc_id"))
      else cand0
    val scored = cand
      .select(col("query_id"), col("doc_id"),
        call_function("div",
          col("idf_q16") * tfPartMicro(col("tf"), col("dl"),
            col("n_docs"), col("n_terms")),
          lit(65536L)).as("contrib"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("rnk"), col("score_micro"))
  }

  /** BM25 with pseudo-relevance feedback (Rocchio's query expansion,
    * blind-feedback form): score once, harvest the strongest new terms
    * from each query's top `nFeedback` documents (in-vocab only — the
    * df cap keeps boilerplate out of the expansion — ranked by summed
    * tf with a deterministic term tie-break, original query terms
    * excluded), add `nExpand` of them to the query, score again. The
    * classic recall lever when queries are short.
    *
    * Scale shape: both rounds share ONE index build (postings cached
    * inside [[index]]); feedback-term harvesting joins the tiny round-1
    * result (queries × nFeedback rows) back to the postings — the only
    * new work is candidate-scale. Expansion sets are (queries ×
    * nExpand) rows — broadcast-sized by construction.
    */
  def bm25Prf(docs: DataFrame, idCol: String, textCol: String,
              queries: DataFrame, k: Int = 5, maxDf: Long = 40L,
              nFeedback: Int = 3, nExpand: Int = 2,
              relDfDen: Option[Long] = None): DataFrame = {
    val (postings, stats, dfTab) = index(docs, idCol, textCol, maxDf, relDfDen)
    val r1 = scoreAndRank(postings, stats, dfTab, queries, nFeedback,
      excludeSelf = true)
    val qTerms = queries
      .select(col("query_id").cast("long").as("query_id"),
        explode(col("terms")).as("term"))
      .distinct()
    val fb = r1.select(col("query_id"), col("doc_id"))
      .join(postings.select(col("doc_id"), col("term"), col("tf")), Seq("doc_id"))
      .join(broadcast(dfTab.select(col("term"))), Seq("term"))
      .join(qTerms, Seq("query_id", "term"), "left_anti")
      .groupBy(col("query_id"), col("term"))
      .agg(sum(col("tf")).as("ft"))
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("ft").desc, col("term").asc)
    val expansion = fb.withColumn("er", row_number().over(wE))
      .filter(col("er") <= nExpand)
      .select(col("query_id"), col("term"))
    val q2 = qTerms.unionByName(expansion).distinct()
      .groupBy(col("query_id"))
      .agg(collect_list(col("term")).as("terms"))
    scoreAndRank(postings, stats, dfTab, q2, k, excludeSelf = true)
  }

  /** Hard-negative mining — the training-triple construction pass of a
    * retriever/embedding training pipeline: for every query document,
    *   pos      — the dense nearest neighbor (brute cosine top-1,
    *              self excluded): the semantic positive;
    *   hard_neg — BM25 top-k minus the positive: lexically similar
    *              but not the semantic match (the negatives that teach
    *              a model the lexical/semantic gap);
    *   rand_neg — k docs drawn from a GLOBAL hash-selected pool (the
    *              in-batch-negatives shape: the pool is a map-side
    *              deterministic sample of ~N/poolMod docs, broadcast to
    *              every query — no Q x N pair enumeration anywhere),
    *              ranked per query by a portable pair hash, query/pos/
    *              hard collisions excluded.
    * All selection is integer/hash deterministic, so the triples replay
    * exactly in the oracle. Returns (query_id, doc_id, role, rnk).
    */
  def hardNegativeMining(docs: DataFrame, idCol: String, textCol: String,
                         emb: DataFrame, embIdCol: String, embCol: String,
                         every: Long = 50L, kHard: Int = 5, kRand: Int = 3,
                         poolMod: Long = 10L, maxDf: Long = 40L): DataFrame = {
    val pos = Similarity.bruteForceTopK(emb,
        emb.filter(pmod(col(embIdCol), lit(every)) === 0), embIdCol, embCol,
        k = 1)
      .select(col("query_id").cast("long").as("query_id"),
        col("match_id").cast("long").as("doc_id"),
        lit("pos").as("role"), lit(1).as("rnk"))
    val lex = bm25TopK(docs, idCol, textCol,
      queriesFromDocs(docs, idCol, textCol, every = every, offset = 0L),
      k = kHard, maxDf = maxDf, excludeSelf = true)
    assembleTriples(docs, idCol, pos, lex, every, kRand, poolMod)
  }

  /** [[hardNegativeMining]] in its production-serving form: the
    * positive comes from the persisted IVF-PQ index (coarse probes +
    * stored codes — at corpus scale the brute top-1 cosine the batch
    * twin uses cannot run) and the lexical negatives from the persisted
    * inverted index. Same triple assembly, same determinism — the
    * oracle replays the IVF-PQ chain for the positive instead of the
    * brute cosine.
    */
  def hardNegativeMiningServed(spark: org.apache.spark.sql.SparkSession,
                               docs: DataFrame, idCol: String,
                               textCol: String, lexIndexPath: String,
                               ivfPqIndexPath: String, emb: DataFrame,
                               embIdCol: String, embCol: String,
                               every: Long = 50L, kHard: Int = 5,
                               kRand: Int = 3, poolMod: Long = 10L,
                               nProbe: Int = 2): DataFrame = {
    val pos = Similarity.searchIvfPqIndex(spark, ivfPqIndexPath,
        emb.filter(pmod(col(embIdCol), lit(every)) === 0),
        embIdCol, embCol, k = 1, nProbe = nProbe)
      .select(col("query_id").cast("long").as("query_id"),
        col("match_id").cast("long").as("doc_id"),
        lit("pos").as("role"), lit(1).as("rnk"))
    val lex = searchIndex(spark, lexIndexPath,
      queriesFromDocs(docs, idCol, textCol, every = every, offset = 0L),
      k = kHard, excludeSelf = true)
    assembleTriples(docs, idCol, pos, lex, every, kRand, poolMod)
  }

  /** How many indexed pool draws each query makes before exclusions and
    * the top-kRand cut. Draws SCALE with kRand — 2·kRand + 2, floored at
    * 8 — so the slack that absorbs self/positive/hard-negative/collision
    * losses grows with the ask: a fixed draw count would silently
    * under-fill rand_neg for kRand ≥ 4 (each exclusion eats a draw and
    * distinct() collapses position collisions). At the default kRand = 3
    * this is the historical 8, which the oracles replay literally.
    */
  def randDrawsPerQuery(kRand: Int): Int = math.max(8, 2 * kRand + 2)

  /** Shared triple assembly: hard negatives = lexical top-k minus the
    * positive (re-ranked), random negatives = kRand of
    * [[randDrawsPerQuery]] INDEXED pool draws per query, positives
    * passed through.
    *
    * The random leg is draw-by-position, not enumerate-and-rank: the
    * original form ranked the per-query hash over the ENTIRE pool —
    * queries × pool = Q·N/poolMod pairs, each paying an md5 — which
    * measured 273× at the 100× point (500M pairs at sf10; the quadratic
    * wall, found by the century bench). Now the pool gets a distributed
    * dense index (bucket counts → bucket-offset prefix over the
    * ~id-range/2²⁰-row bucket frame → per-bucket row_number), each query
    * hashes J slot positions, and an equi-join on the position fetches
    * exactly Q·J candidate rows no matter how large the corpus grows.
    * Exclusions (self, positive, hard negatives, position collisions)
    * eat into the J=8 slack; the final top-kRand by the same 'rng' hash
    * keeps selection deterministic and oracle-replayable.
    */
  private def assembleTriples(docs: DataFrame, idCol: String,
                              pos: DataFrame, lex: DataFrame, every: Long,
                              kRand: Int, poolMod: Long): DataFrame = {
    val wq = Window.partitionBy(col("query_id")).orderBy(col("bm_rnk").asc)
    val hard = lex.withColumnRenamed("rnk", "bm_rnk")
      .join(pos.select(col("query_id"), col("doc_id").as("pos_id")), "query_id")
      .filter(col("doc_id") =!= col("pos_id"))
      .withColumn("rnk", row_number().over(wq))
      .select(col("query_id"), col("doc_id"), lit("hard_neg").as("role"),
        col("rnk"))
    // global negative pool: deterministic doc-hash sample
    val pool = docs
      .select(col(idCol).cast("long").as("doc_id"))
      .filter(pmod(Dedup.baseHash(concat(lit("pool"), col("doc_id"))),
        lit(poolMod)) === 0)
    // distributed dense index 0..P-1 over the pool in doc_id order:
    // per-bucket counts, a prefix-sum window over the BUCKET frame
    // (id-range/2^20 rows — distinct-bucket scale, never the pool), and
    // a per-bucket row_number
    val counts = pool.withColumn("pb", expr("doc_id DIV 1048576"))
      .groupBy(col("pb")).agg(count(lit(1)).as("c"))
    val offs = counts.select(col("pb"),
      (sum(col("c")).over(Window.orderBy(col("pb"))) - col("c")).as("off"))
    val pidx = pool.withColumn("pb", expr("doc_id DIV 1048576"))
      .join(offs, Seq("pb"))
      .select(col("doc_id"), (col("off") + row_number().over(
        Window.partitionBy(col("pb")).orderBy(col("doc_id"))) - 1)
        .as("pidx"))
    val pTotal = pool.agg(count(lit(1)).as("p"))
    val qids = docs.select(col(idCol).cast("long").as("query_id"))
      .filter(pmod(col("query_id"), lit(every)) === 0)
    val taken = pos.select(col("query_id"), col("doc_id"))
      .union(hard.select(col("query_id"), col("doc_id")))
    val draws = qids.crossJoin(broadcast(pTotal))
      .select(col("query_id"),
        explode(expr(s"sequence(0, ${randDrawsPerQuery(kRand) - 1})")).as("j"),
        col("p"))
      .select(col("query_id"),
        pmod(Dedup.baseHash(concat(lit("rsel"), col("query_id"), lit(":"),
          col("j"))), col("p")).as("widx"))
    val wr = Window.partitionBy(col("query_id")).orderBy(col("h").asc,
      col("doc_id").asc)
    val rand = draws.join(pidx, draws("widx") === pidx("pidx"))
      .select(col("query_id"), col("doc_id")).distinct()
      .filter(col("doc_id") =!= col("query_id"))
      .join(taken, Seq("query_id", "doc_id"), "left_anti")
      .withColumn("h", Dedup.baseHash(concat(lit("rng"), col("query_id"),
        lit(":"), col("doc_id"))))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= kRand)
      .select(col("query_id"), col("doc_id"), lit("rand_neg").as("role"),
        col("rnk"))
    pos.unionByName(hard).unionByName(rand)
  }

  /** Reciprocal-rank fusion of a lexical and a dense ranking — hybrid
    * search's standard score-free combiner (Cormack et al. 2009):
    * each system contributes 1/(kRrf + rank), here in integer
    * micro-units (1000000 div (kRrf + rank)) so the fused scores and
    * ranks replay exactly in the oracle. Inputs are the two top-k
    * frames ((query_id, doc_id, rnk) and bruteForceTopK's (query_id,
    * match_id, rank[, sim])); both are candidate-scale — everything
    * here is post-retrieval and tiny next to the corpus.
    */
  /** Persist the inverted index (the ANN-family build-once/serve-many
    * split applied to lexical retrieval): postings + the df/idf term
    * table + the 1-row stats land as parquet. Serving then skips the
    * corpus tokenize/explode/groupBy AND the log evaluations — a query
    * touches the postings scan and two broadcast joins only. BM25
    * serving tolerates slightly stale idf, so production rebuilds the
    * terms table periodically rather than per-document.
    */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 path: String, maxDf: Long = 40L): Unit = {
    val (postings, stats, dfTab) = index(docs, idCol, textCol, maxDf)
    // term-clustered at rest: range-partition + sort by term gives
    // every parquet row group a tight term min/max footprint, so a
    // small query workload's pushed In(term, ...) filter skips the row
    // groups of every other term — the lexical analog of the z-order
    // layout's file skipping
    postings.repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").parquet(s"$path/postings")
    dfTab.write.mode("overwrite").parquet(s"$path/terms")
    stats.write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Most distinct workload terms [[searchIndex]] pushes into the scan. */
  private val PushTermFilterUpTo = 64

  /** Serve BM25 from a persisted index ([[writeIndex]]) — bit-identical
    * to the train-in-query twin by construction (same integer
    * arithmetic over the same stored values).
    *
    * When the workload's distinct term set is small
    * (<= PushTermFilterUpTo, the single-query / small-batch serving
    * shape), it is collected (bounded) and pushed as an In filter into
    * the postings scan — with the term-sorted layout that prunes row
    * groups, so one query reads its own posting lists, not the corpus.
    * Large derived workloads (the bench shape) skip the pushdown and
    * broadcast-join as usual; results are identical either way (the
    * filter set contains every joinable term). Note Spark only pushes
    * In to parquet up to spark.sql.parquet.pushdown.inFilterThreshold
    * values (default 10); above that the filter still prunes post-scan.
    */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  queries: DataFrame, k: Int = 5,
                  excludeSelf: Boolean = false): DataFrame = {
    val postings0 = spark.read.parquet(s"$path/postings")
    val probe = queries.select(explode(col("terms")).as("term")).distinct()
      .limit(PushTermFilterUpTo + 1).collect().map(_.getString(0))
    val postings =
      if (probe.length <= PushTermFilterUpTo)
        postings0.filter(col("term").isin(probe.toSeq: _*))
      else postings0
    scoreAndRank(postings,
      spark.read.parquet(s"$path/stats"),
      spark.read.parquet(s"$path/terms"),
      queries, k, excludeSelf)
  }

  /** Hashed tf-idf document vectors — the classic sparse-to-dense
    * bridge from text to the ANN family ([[Similarity]]): each term's
    * weight (tf x Q16 idf, all integer) lands in dimension
    * baseHash(term) mod dims (the 32-bit portable md5-prefix hash the
    * MinHash family already mirrors in SQL), summed per dimension.
    * Docs with no terms get the zero vector. Entirely derived from the
    * one postings shuffle + a vocab-scale broadcast + one groupBy(doc)
    * with `dims` conditional sums (single pass, codegen'd — no
    * per-dimension shuffle).
    */
  def tfidfVectors(docs: DataFrame, idCol: String, textCol: String,
                   dims: Int = 64, maxDf: Long = 40L): DataFrame = {
    require(dims > 0)
    val (postings, _, dfTab) = index(docs, idCol, textCol, maxDf)
    val weighted = postings
      .join(broadcast(dfTab), "term")
      .select(col("doc_id"),
        pmod(Dedup.baseHash(col("term")), lit(dims.toLong)).as("dim"),
        (col("tf") * col("idf_q16")).as("w"))
    val sums = (0 until dims).map(d =>
      sum(when(col("dim") === d, col("w")).otherwise(lit(0L))).as(s"__v$d"))
    val vecs = weighted.groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        array((0 until dims).map(d => col(s"__v$d")): _*).as("vec"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(vecs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("vec"),
          array(Seq.fill(dims)(lit(0L)): _*)).as("vec"))
  }

  /** Deterministic phrase workload: the first 3 normalized words of
    * docs with id % 41 == 5 — the same oracle-reproducible
    * corpus-derived scheme as [[queriesFromDocs]] — CAPPED at 1024
    * phrases (drawn from the id-range prefix, deterministic). The
    * cap models the real shape of a phrase watch-list: a fixed set of
    * phrases scanned against a growing corpus, NOT a workload that
    * grows with it. Without it the sf10 century measured 157× — the
    * corpus×phrases cross volume a saturated synthetic vocabulary
    * makes quadratic.
    */
  def phrasesFromDocs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = split(TextAnalysis.normalized(col(textCol)), " ")
    docs.filter(pmod(col(idCol), lit(41L)) === lit(5L) &&
        col(idCol).cast("long") < lit(41L * 1024L) &&
        size(words) >= 3)
      .select(col(idCol).cast("long").as("phrase_id"),
        slice(words, 1, 3).as("terms"))
  }

  /** Exact phrase-occurrence search via positional postings: a phrase
    * t_0..t_{k-1} occurs at token offset a iff token a+i equals t_i for
    * every i, so each corpus token that matches SOME phrase term votes
    * for anchor (pos - i), and an anchor with k votes is a hit (a token
    * position pairs with a phrase position at most once, so plain
    * count == k — no distinct needed).
    *
    * Scale shape: the phrase-term table broadcasts into the one
    * corpus-token scan (map-side candidate generation, tokens that
    * match no phrase term never leave the map task); the single shuffle
    * carries only (doc, phrase, anchor) votes — Σ occurrences of the
    * phrases' terms, the classic positional-intersection volume — and
    * the groupBy takes map-side partials. Doc text never shuffles.
    *
    * Returns (phrase_id, doc_id, n_hits, first_pos) with `first_pos`
    * 1-based; overlapping occurrences each count.
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrases: DataFrame): DataFrame = {
    val words = split(TextAnalysis.normalized(col(textCol)), " ")
    // spreadScan: the tokenize+posexplode+broadcast-probe chain is all
    // map-side — parallelize it past a compact scan's split count
    val postings = graft.ops.Partitioning.spreadScan(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(words).as(Seq("pos", "tok")))
    val pterms = phrases.select(col("phrase_id"),
        size(col("terms")).as("k"),
        posexplode(col("terms")).as(Seq("i", "pterm")))
    val votes = postings.join(broadcast(pterms), col("tok") === col("pterm"))
      .select(col("doc_id"), col("phrase_id"), col("k"),
        (col("pos") - col("i")).as("anchor"))
      .filter(col("anchor") >= 0)
    votes.groupBy("doc_id", "phrase_id", "k", "anchor")
      .agg(count(lit(1)).as("m"))
      .filter(col("m") === col("k"))
      .groupBy("phrase_id", "doc_id")
      .agg(count(lit(1)).as("n_hits"),
        (min(col("anchor")) + 1L).cast("long").as("first_pos"))
    // no output sort: the global orderBy was the only range exchange in
    // the operator and the correctness gate's fingerprint is
    // order-independent (same rule as labelPropagation's epilogue)
  }

  def rrfFuse(lexical: DataFrame, dense: DataFrame,
              kRrf: Long = 60L, k: Int = 10): DataFrame = {
    val l = lexical.select(col("query_id"), col("doc_id"),
      call_function("div", lit(1000000L), lit(kRrf) + col("rnk"))
        .as("lex_rrf"))
    val d = dense.select(col("query_id"), col("match_id").as("doc_id"),
      call_function("div", lit(1000000L), lit(kRrf) + col("rank"))
        .as("dense_rrf"))
    val fused = l.join(d, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(col("lex_rrf"), lit(0L))
          + coalesce(col("dense_rrf"), lit(0L))).as("rrf_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_micro").desc, col("doc_id").asc)
    fused.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("rrf_micro"), col("rnk"))
  }
}
