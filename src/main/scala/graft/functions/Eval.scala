package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation statistics over scored corpora — the measurement
  * side of the curation loop (train → score → MEASURE → re-weight).
  */
object Eval {

  /** Exact tie-aware ROC-AUC (the Mann-Whitney U statistic) in pure
    * integer arithmetic: with per-distinct-score positive/negative
    * counts, U₂ = Σ_s pos_s·(2·negBelow(s) + neg_s) counts each
    * (pos, neg) pair twice for a win and once for a tie, so
    * AUC = U₂ / (2·nPos·nNeg) exactly — no trapezoids, no float
    * accumulation. Returns ONE row (n_pos, n_neg, u2, auc_ppm);
    * auc_ppm = U₂·500000 DIV (nPos·nNeg) stays inside int64 up to
    * ~4·10⁶ rows per class (beyond that, widen to per-bucket partial
    * ratios before this single-row step).
    *
    * Scale shape — no global sort, no single-partition window over row
    * counts: (1) one groupBy(s) collapses rows to distinct scores with
    * map-side partials; (2) scores range-bucket by value into
    * 32 coarse ranges; per-bucket negative totals (32 rows) take the ONE intentionally-serial prefix-sum window and
    * broadcast back as each bucket's base offset — the same two-phase
    * scan as [[Packing.packConcatSplit]]; (3) the within-bucket
    * cumulative window partitions BY BUCKET, so it parallelizes and no
    * task ever windows more than ~|distinct scores|/32 rows.
    *
    * `labelCol` must be a boolean Column (true = positive).
    */
  def rocAuc(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val base = df.select(scoreCol.cast("long").as("s"),
      when(labelCol, 1L).otherwise(0L).as("y"))
    val g = base.groupBy(col("s")).agg(sum(col("y")).as("pos"),
      (count(lit(1)) - sum(col("y"))).as("neg"))
    val mm = g.agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
    val gb = g.crossJoin(broadcast(mm))
      .withColumn("bucket",
        expr("(s - lo) DIV ((hi - lo) DIV 32 + 1)"))
      .drop("lo", "hi")
    val wB = Window.orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketBase = gb.groupBy(col("bucket")).agg(sum(col("neg")).as("bneg"))
      .withColumn("base_neg", coalesce(sum(col("bneg")).over(wB), lit(0L)))
      .select(col("bucket"), col("base_neg"))
    val wS = Window.partitionBy(col("bucket")).orderBy(col("s").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = gb.join(broadcast(bucketBase), "bucket")
      .withColumn("cum_neg",
        col("base_neg") + coalesce(sum(col("neg")).over(wS), lit(0L)))
    cum.agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
        sum(col("pos") * (lit(2L) * col("cum_neg") + col("neg"))).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          expr("u2 * 500000 DIV (n_pos * n_neg)")).as("auc_ppm"))
  }

  /** Reliability table (the data behind a calibration / reliability
    * diagram, cf. Niculescu-Mizil & Caruana 2005): equal-width bins over
    * the observed integer score range, per bin the row count, mean score
    * and empirical positive rate — the direct check of whether a
    * classifier's score ORDERS risk (AUC can be high while the score is
    * wildly miscalibrated; this table is where that shows).
    *
    * All integer: bin = (s − lo) DIV width with width = (hi − lo) DIV
    * nBins + 1 (so bin < nBins always), mean = Σs DIV n (truncation
    * identical to DuckDB `//` on any sign), pos_ppm = pos·10⁶ DIV n.
    *
    * Scale shape: one partial-agg'd groupBy(s) collapses the corpus to
    * distinct scores (same first phase as [[rocAuc]]); min/max come off
    * that tiny frame and broadcast back; the bin rollup then runs on
    * distinct-score rows, never raw rows.
    */
  def calibrationBins(df: DataFrame, scoreCol: Column, labelCol: Column,
                      nBins: Int = 10): DataFrame = {
    require(nBins > 0)
    val base = df.select(scoreCol.cast("long").as("s"),
      when(labelCol, 1L).otherwise(0L).as("y"))
    val g = base.groupBy(col("s"))
      .agg(sum(col("y")).as("pos"), count(lit(1)).as("n"))
    val mm = g.agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
    g.crossJoin(broadcast(mm))
      .withColumn("bin", expr(s"(s - lo) DIV ((hi - lo) DIV $nBins + 1)"))
      .groupBy(col("bin"))
      .agg(sum(col("n")).as("n"), sum(col("s") * col("n")).as("ssum"),
        sum(col("pos")).as("pos"))
      .select(col("bin").cast("long").as("bin"), col("n"),
        expr("ssum DIV n").as("mean_score"),
        expr("pos * 1000000 DIV n").as("pos_ppm"))
  }

  /** nDCG@k (Järvelin & Kekäläinen 2002) with binary relevance, in the
    * portable integer space: the position discount 1/log2(i+1) becomes
    * gain(i) = 10⁶·2¹⁶ DIV log2q16(i+1) ([[Portable.log2q16]] — same
    * engine-portable log as the BM25 idf), so DCG, ideal DCG and the
    * ratio replay bit-exactly in the oracle.
    *
    * `results`: (query_id, doc_id, rnk, rel) rankings (rnk 1-based,
    * ≤ k; rel boolean). `nRelTotal`: (query_id, n_rel_total) — the
    * total relevant-document count per query, supplied separately ON
    * PURPOSE: materializing relevance as explicit (query, doc) pairs is
    * O(Q·N) when relevance is an attribute predicate (same source /
    * same label), while the caller can usually derive the TOTAL from a
    * per-attribute count table (a #attributes-row aggregate) and the
    * per-hit flag from candidate-scale joins. Returns per query
    * (query_id, n_rel_total, n_rel_in_k, dcg_micro, idcg_micro,
    * ndcg_ppm) with idcg the cumulative gain at min(n_rel_total, k) —
    * ndcg_ppm null when the query has no relevant documents.
    *
    * Scale shape: gains are computed map-side on the rank column (no
    * join); the ideal-DCG table is k rows built from `spark.range` and
    * broadcast; the only shuffles are one groupBy and one join keyed on
    * query_id over the queries×k result frame — tiny relative to the
    * ranking that produced `results`.
    */
  /** Cohen's kappa (Cohen 1960) for two binary raters — the
    * chance-corrected agreement a labeling pipeline reports when a
    * trained classifier is audited against its teacher heuristic (raw
    * accuracy flatters raters that both say "yes" to everything).
    * One pass builds the 2×2 confusion matrix; then in ppm:
    * po = agreement·10⁶ DIV n, pe = (r1·c1 + r0·c0)·10⁶ DIV n² with
    * row/column marginals of rater A/B, and
    * kappa = (po − pe)·10⁶ DIV (10⁶ − pe) — truncating division at
    * every step, DECIMAL(38,0) for the marginal products, so the
    * statistic replays bit-exactly. Returns ONE row
    * (n, n00, n01, n10, n11, po_ppm, pe_ppm, kappa_ppm); kappa null
    * when pe = 10⁶ (both raters constant — agreement is undefined).
    *
    * Scale shape: a single map-side-partial aggregate; nothing else.
    */
  def cohensKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame =
    df.select(when(raterA, 1L).otherwise(0L).as("a"),
        when(raterB, 1L).otherwise(0L).as("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") === 0L && col("b") === 0L, 1L).otherwise(0L)).as("n00"),
        sum(when(col("a") === 0L && col("b") === 1L, 1L).otherwise(0L)).as("n01"),
        sum(when(col("a") === 1L && col("b") === 0L, 1L).otherwise(0L)).as("n10"),
        sum(when(col("a") === 1L && col("b") === 1L, 1L).otherwise(0L)).as("n11"))
      .withColumn("po_ppm", expr("(n00 + n11) * 1000000 DIV n"))
      .withColumn("pe_ppm", expr(
        """CAST(((CAST(n10 + n11 AS DECIMAL(38,0)) * (n01 + n11)
          |  + CAST(n00 + n01 AS DECIMAL(38,0)) * (n00 + n10)) * 1000000)
          | DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)""".stripMargin))
      .withColumn("kappa_ppm", expr(
        "(po_ppm - pe_ppm) * 1000000 DIV nullif(1000000 - pe_ppm, 0)"))
      .select(col("n"), col("n00"), col("n01"), col("n10"), col("n11"),
        col("po_ppm"), col("pe_ppm"), col("kappa_ppm"))

  /** Reciprocal rank per query (the MRR family's per-query row —
    * average the ppm column for the headline mean): rr_ppm =
    * 10⁶ DIV rank of the FIRST relevant result, 0 when no relevant
    * result ranked. Input shape as [[ndcgAtK]]'s `results`
    * (query_id, doc_id, rnk, rel). One partial-agg'd groupBy over the
    * queries×k result frame.
    */
  def reciprocalRank(results: DataFrame): DataFrame =
    results.groupBy(col("query_id"))
      .agg(min(when(col("rel"), col("rnk").cast("long"))).as("first_rel_rank"))
      .select(col("query_id"), col("first_rel_rank"),
        coalesce(expr("1000000 DIV first_rel_rank"), lit(0L)).as("rr_ppm"))

  def ndcgAtK(results: DataFrame, nRelTotal: DataFrame, k: Int): DataFrame = {
    require(k > 0)
    val spark = results.sparkSession
    val hits = results
      .withColumn("gain", when(col("rel"),
        call_function("div", lit(65536000000L),
          Portable.log2q16(col("rnk").cast("long") + 1L))).otherwise(0L))
      .groupBy(col("query_id"))
      .agg(sum(col("gain")).as("dcg_micro"),
        sum(when(col("rel"), 1L).otherwise(0L)).as("n_rel_in_k"))
    val nRel = nRelTotal
    val wCum = Window.orderBy(col("j").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val ideal = spark.range(1, k + 1).toDF("j")
      .withColumn("g", call_function("div", lit(65536000000L),
        Portable.log2q16(col("j") + 1L)))
      .withColumn("cg", sum(col("g")).over(wCum))
      .select(col("j"), col("cg"))
    hits.join(nRel, Seq("query_id"), "left")
      .withColumn("n_rel_total", coalesce(col("n_rel_total"), lit(0L)))
      .withColumn("j", least(col("n_rel_total"), lit(k.toLong)))
      .join(broadcast(ideal), Seq("j"), "left")
      .select(col("query_id"), col("n_rel_total"), col("n_rel_in_k"),
        col("dcg_micro"), coalesce(col("cg"), lit(0L)).as("idcg_micro"),
        when(col("cg").isNotNull,
          expr("dcg_micro * 1000000 DIV cg")).as("ndcg_ppm"))
  }
}
