package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Statistical language-model scoring for corpus curation — the
  * CCNet-style "perplexity filter": train a small LM on a reference
  * corpus, score every document, keep the ones the model finds
  * plausible. The model here is an add-one-smoothed word-bigram LM and
  * the score is the total negative log-likelihood in portable Q16 bits
  * ([[Portable.log2q16]] — integer-only, so scores and keep decisions
  * replay bit-identically in the DuckDB oracle; a libm log would flip
  * floor()ed units in the last ulp):
  *
  *   nll(doc) = sum over adjacent word pairs of
  *              log2(c1(w1) + V) - log2(c2(w1,w2) + 1)
  *
  * with c2 = corpus bigram counts, c1(w1) = sum_w2 c2 (the context
  * total) and V = unigram vocabulary size. perplexity =
  * 2^(nll/n_bigrams); the keep decision compares milli-bits-per-bigram
  * against a threshold using only integer multiplies (no division, no
  * rounding hazard).
  *
  * Scale shape (SCALE.md): ONE corpus shuffle builds c2 (groupBy
  * (w1,w2), map-side partials — Zipf-hot pairs collapse before the
  * wire); c1 and the per-bigram nll table derive from c2, which is
  * vocab^2-bounded and Heaps-sublinear in the corpus, so it broadcasts
  * into the scoring pass; scoring is then map-side + one groupBy(doc)
  * reassembly. For web-scale vocabularies, cap the vocab upstream
  * (top-V by count + OOV bucket) to keep the table broadcastable —
  * the same lever as [[TextAnalysis.vocabTopK]].
  */
object LangModel {

  /** Per-document bigram NLL under the corpus's own add-one bigram LM.
    * Returns every input row as (doc_id, n_bigrams, nll_q16, keep)
    * where keep <=> nll_q16/65536/n_bigrams <= thresholdMilliBits/1000
    * (documents with fewer than one bigram carry no evidence and are
    * kept). Training corpus = scoring corpus; to score against an
    * external reference LM, substitute its counts frame for `c2`.
    */
  def bigramNllScore(docs: DataFrame, idCol: String, textCol: String,
                     thresholdMilliBits: Long = 4900L): DataFrame = {
    // CACHED: four consumers (bigram pairs for training, pairs again
    // for scoring, the vocab distinct, the all-docs left join) would
    // each re-scan + re-normalize + re-tokenize the corpus — Catalyst
    // plans no ReusedExchange across the branches (the same audit
    // catch as Retrieval.index). One tokenize pass, spilled under
    // MEMORY_AND_DISK at scale.
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      split(TextAnalysis.normalized(col(textCol)), " ").as("words"))
      .cache()
    val pairs = base.select(col("doc_id"),
      explode(zip_with(
        slice(col("words"), lit(1), size(col("words")) - 1),
        slice(col("words"), lit(2), size(col("words")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    // train: the one corpus-scale shuffle (hot pairs partial-agg away)
    val c2 = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = base.select(explode(col("words")).as("word"))
      .agg(countDistinct(col("word")).as("v"))
    // per-bigram nll in Q16 on the vocab^2-scale table
    val nllTab = c2.join(broadcast(c1), "w1").crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        (Portable.log2q16(col("c1") + col("v"))
          - Portable.log2q16(col("c2") + 1L)).as("nll"))
    // score: broadcast the model into the token-pair stream, reassemble
    val perDoc = pairs
      .join(broadcast(nllTab), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("nll_q16"))
    base.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_q16"), lit(0L)).as("nll_q16"),
        (coalesce(col("nll_q16"), lit(0L)) * 1000L
          <= lit(thresholdMilliBits)
             * coalesce(col("n_bigrams"), lit(0L)) * 65536L).as("keep"))
  }

  /** Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; the
    * interpolated form of Chen & Goodman 1999 §3) — the smoothing that
    * actually wins LM evaluations, vs [[bigramNllScore]]'s add-one:
    *
    *   P(w2|w1) = max(c(w1,w2) − D, 0)/c(w1·) + λ(w1)·Pcont(w2)
    *   λ(w1)    = D·N1+(w1,·)/c(w1·)
    *   Pcont(w2)= N1+(·,w2)/T
    *
    * with D = 3/4, N1+(w1,·)/N1+(·,w2) the distinct right/left
    * continuation type counts and T the total distinct bigram types.
    * With D = 3/4 the probability is the exact rational
    *
    *   P = [max(4·c2 − 3, 0)·T + 3·t1·tc] / (4·c1·T)
    *
    * so per-bigram nll = log2q16(den) − log2q16(num) stays pure
    * integer (num ≥ T > 0 because every scored bigram was trained on).
    * Overflow: 4·c1·T needs c1·T < 2^61 — T is Heaps-sublinear and
    * vocab²-bounded, c1 ≤ corpus tokens; at 10^9 tokens × 10^8 types
    * cap the vocab upstream (same lever as the class doc).
    *
    * Same scale shape as [[bigramNllScore]]: one corpus shuffle for c2;
    * t1/tc/T derive from the vocab²-bounded c2 and broadcast into the
    * map-side scoring pass.
    */
  def kneserNeyNllScore(docs: DataFrame, idCol: String, textCol: String,
                        thresholdMilliBits: Long = 4900L): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      split(TextAnalysis.normalized(col(textCol)), " ").as("words"))
      .cache()
    val pairs = base.select(col("doc_id"),
      explode(zip_with(
        slice(col("words"), lit(1), size(col("words")) - 1),
        slice(col("words"), lit(2), size(col("words")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c2 = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("t1"))
    val tc = c2.groupBy(col("w2")).agg(count(lit(1)).as("tc"))
    val tt = c2.agg(count(lit(1)).as("tt"))
    val nllTab = c2.join(broadcast(c1), "w1").join(broadcast(tc), "w2")
      .crossJoin(broadcast(tt))
      .select(col("w1"), col("w2"),
        (Portable.log2q16(lit(4L) * col("c1") * col("tt"))
          - Portable.log2q16(
              greatest(lit(4L) * col("c2") - 3L, lit(0L)) * col("tt")
                + lit(3L) * col("t1") * col("tc"))).as("nll"))
    val perDoc = pairs
      .join(broadcast(nllTab), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("nll_q16"))
    base.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_q16"), lit(0L)).as("nll_q16"),
        (coalesce(col("nll_q16"), lit(0L)) * 1000L
          <= lit(thresholdMilliBits)
             * coalesce(col("n_bigrams"), lit(0L)) * 65536L).as("keep"))
  }
}
