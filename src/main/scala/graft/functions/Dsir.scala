package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (DSIR; Xie et al.,
  * NeurIPS 2023): pick the raw-corpus documents whose hashed-n-gram
  * distribution looks most like a small trusted TARGET corpus. Both
  * distributions are bag-of-hashed-n-gram models (unigrams + bigrams
  * hashed into `buckets` bins, add-one smoothed); each raw document is
  * scored by its importance log-ratio
  *
  *   log w(d) = sum over feature occurrences f of
  *              [log p_target(f) - log p_raw(f)]
  *
  * and the top keepNum/keepDen fraction of raw documents is selected.
  * All logs are portable Q16 bits ([[Portable.log2q16]]) so scores and
  * the selection replay bit-identically in the DuckDB oracle; the
  * paper's Gumbel-top-k resampling is replaced by deterministic top-k
  * with (score, doc_id) ordering — same selection pressure, no RNG.
  *
  * Scale shape (SCALE.md): feature counts are ONE corpus-scale shuffle
  * (groupBy(f) with map-side partials, result ≤ `buckets` rows); the
  * per-bucket log-ratio table broadcasts into the scoring pass, which
  * is map-side + one groupBy(doc) reassembly. Selection reuses the
  * bounded-histogram threshold of [[TextAnalysis.qualitySelect]]: the
  * quantized score domain is CLAMPED to ±2^20, so the cumulative
  * window runs over a ≤2^21-row histogram regardless of corpus size —
  * never a corpus-scale single-partition sort.
  */
object Dsir {

  /** Prefix of every hashed feature, shared with the DSIR oracle. */
  val Salt = "dsir"

  /** Score every document and mark the selected raw subset.
    *
    * Returns one row per input doc: (doc_id, is_target, n_feats,
    * logratio_q16, selected). Target docs score too (diagnostics) but
    * are never selected and don't consume budget. Docs with no
    * features (empty text) score 0.
    *
    * @param isTarget   predicate marking the trusted target slice
    * @param buckets    hashed feature space size (paper uses 10^4)
    * @param keepNum/keepDen  fraction of RAW docs to select
    */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
                 isTarget: Column, buckets: Int = 4096,
                 keepNum: Long = 1L, keepDen: Long = 4L): DataFrame = {
    require(buckets > 0 && keepNum >= 0 && keepDen > 0)
    // spreadScan: tokenize + per-occurrence hash is the heavy map work;
    // identity when the scan already has ≥ cores splits
    val base = graft.ops.Partitioning.spreadScan(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        split(TextAnalysis.normalized(col(textCol)), " ").as("words"),
        isTarget.as("is_target"))
    val bigrams = zip_with(
      slice(col("words"), lit(1), size(col("words")) - 1),
      slice(col("words"), lit(2), size(col("words")) - 1),
      (a, b) => concat(a, lit(" "), b))
    // CACHED at (doc, bucket) granularity: bucket counting AND per-doc
    // scoring both fold over per-(doc, f) occurrence counts, so
    // pre-aggregating once means the tokenize + explode + per-occurrence
    // md5 run ONCE instead of once per branch (the round-1 shape cached
    // the tokenized arrays instead, which still re-hashed every token
    // occurrence twice — 2× the md5 work at any corpus scale — and held
    // the full word arrays in cache instead of this far smaller frame).
    // Folding occurrences into (doc, f, n) is exact: Σ_occ lam = Σ_f n·lam
    // and n_feats = Σ_f n, all in integer space.
    val feats = base.select(col("doc_id"), col("is_target"),
      explode(concat(col("words"), bigrams)).as("g"))
      .select(col("doc_id"), col("is_target"),
        pmod(Dedup.baseHash(concat(lit(Salt), col("g"))), lit(buckets.toLong))
          .as("f"))
      .groupBy(col("doc_id"), col("is_target"), col("f"))
      .agg(count(lit(1)).as("n"))
      .cache()
    // the bucket rollup (≤ `buckets` rows) from the cached counts
    val cnt = feats.groupBy(col("f"))
      .agg(sum(when(col("is_target"), col("n")).otherwise(0L)).as("ct"),
        sum(when(col("is_target"), 0L).otherwise(col("n"))).as("cr"))
    // smoothing totals (1 row) and the per-bucket log-ratio (≤ buckets
    // rows) — both broadcast; the doc-independent normalizer
    // log(Nr+B) - log(Nt+B) attaches per feature occurrence
    val tot = cnt.agg((sum(col("ct")) + buckets).as("xt"),
        (sum(col("cr")) + buckets).as("xr"))
      .select((Portable.log2q16(col("xr"))
        - Portable.log2q16(col("xt"))).as("norm_q16"))
    val lam = cnt.select(col("f"),
      (Portable.log2q16(col("ct") + 1L)
        - Portable.log2q16(col("cr") + 1L)).as("lam"))
    val perDoc = feats
      .join(broadcast(lam), Seq("f"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_feats"), sum(col("lam") * col("n")).as("s"))
    // scoring identity re-reads only (doc_id, is_target) — column
    // pruning keeps the tokenize out of this scan
    // MATERIALIZED once (eager localCheckpoint): four consumers — the
    // raw-pool projection feeding budget, histogram AND tie-rank, plus
    // the final output join — otherwise each re-execute the whole
    // score assembly (join + broadcast) per branch; plan-audited as the
    // job-count hot spot of t_dsir_select (45 AQE stage-jobs). The frame
    // is the operator's own output scale (one row per doc), so
    // materializing it is bounded by the result size at every SF.
    val scored = docs.select(col(idCol).cast("long").as("doc_id"),
        isTarget.as("is_target"))
      .join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("is_target"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        (coalesce(col("s"), lit(0L))
          + coalesce(col("n_feats"), lit(0L)) * col("norm_q16"))
          .as("logratio_q16"))
      .localCheckpoint()
    // deterministic top-fraction of the raw pool via the bounded-score
    // histogram (exclusive cumulative count + within-bucket tie rank)
    val m = greatest(least(shiftright(col("logratio_q16"), 6),
      lit(1048576L)), lit(-1048576L))
    val raw = scored.filter(!col("is_target"))
      .select(col("doc_id"), m.as("m"))
    val budget = raw.agg(count(lit(1)).as("n"))
      .select(expr(s"(n * $keepNum + $keepDen - 1) DIV $keepDen")
        .as("budget"))
    val hist = raw.groupBy(col("m")).agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy(col("m").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("higher", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .select(col("m"), col("higher"))
    val wTie = Window.partitionBy(col("m")).orderBy(col("doc_id").asc)
    val sel = raw
      .withColumn("rk", row_number().over(wTie).cast("long"))
      .join(broadcast(cum), Seq("m"))
      .crossJoin(broadcast(budget))
      .select(col("doc_id"),
        (col("higher") + col("rk") <= col("budget")).as("sel"))
    scored.join(sel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_target"), col("n_feats"),
        col("logratio_q16"),
        when(col("is_target"), lit(false))
          .otherwise(coalesce(col("sel"), lit(false))).as("selected"))
  }
}
