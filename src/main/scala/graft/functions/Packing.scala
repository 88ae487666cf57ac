package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training-data preparation: lay every
  * document's tokens end-to-end in one deterministic global order and
  * split the stream into fixed-length training sequences
  * ("concat-and-split" packing — the standard GPT-style pretraining
  * layout: zero padding waste, documents may straddle sequence
  * boundaries).
  *
  * The interesting part at scale is the GLOBAL PREFIX SUM: each
  * document's start offset is the sum of all token counts before it.
  * A single `Window.orderBy(docId)` cumulative sum would move the
  * whole corpus through ONE partition — the classic scale-killer. This
  * implementation is the textbook two-phase distributed scan instead:
  *
  *   1. bucket documents by a deterministic hash of their id; the
  *      canonical global order is (bucket, doc_id). A per-bucket
  *      cumulative sum is a window PARTITIONED by bucket — all heavy
  *      work stays distributed across buckets.
  *   2. per-bucket totals (one tiny groupBy) get their own exclusive
  *      prefix sum — a window over only `nBuckets` rows, the one
  *      intentionally-serial step — and broadcast back as each
  *      bucket's base offset.
  *
  * Everything is integer arithmetic on BIGINT, so the layout is
  * engine-exact and oracle-reproducible. Deterministic: same
  * (salt, ids, counts) ⇒ same layout, independent of partitioning,
  * row order, or cluster size — a re-run or stage retry cannot move a
  * document to a different sequence.
  */
object Packing {

  /** Pack documents into fixed-length sequences; returns one row per
    * document with its place in the packed token stream:
    * (doc_id, bucket, n_tokens, start_off, seq_first, seq_last,
    * n_seqs) where `seq_first`/`seq_last` are the ids of the first and
    * last training sequences the document lands in and
    * `n_seqs = seq_last - seq_first + 1` (>1 ⇔ the document straddles
    * a boundary). Documents with zero tokens are dropped (they
    * contribute nothing to the stream and have no position in it).
    *
    * Separator overhead (BOS/EOS between documents): the layout is a
    * pure function of the token counts, so pass `nTokens + k` for a
    * k-token per-document separator — every downstream offset,
    * sequence id, and slice accounts for it with no code change.
    *
    * @param seqLen   training sequence length in tokens
    * @param nBuckets width of the distributed scan; at cluster scale
    *                 set ≈ the executor count (the serial phase-2
    *                 window is O(nBuckets) rows)
    */
  def packConcatSplit(df: DataFrame, idCol: Column, nTokens: Column,
                      seqLen: Int, nBuckets: Int = 32,
                      salt: String = "pack"): DataFrame = {
    require(seqLen > 0 && nBuckets > 0)
    val base = df
      .select(idCol.cast("long").as("doc_id"),
        nTokens.cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("bucket",
        pmod(Sampling.hashBucket(col("doc_id"), salt), lit(nBuckets.toLong)))
      // explicit, so the offsets join can't push a one-sided isnotnull
      // below only ITS copy of the bucket Exchange — the two consumers'
      // subtrees must stay canonically identical for stage reuse (one
      // corpus scan, not two). Null bucket ⇔ null doc_id, which has no
      // position in the packed stream anyway.
      .filter(col("bucket").isNotNull)

    // phase 1: inclusive cumulative sum WITHIN each bucket (distributed;
    // doc_id is unique so the order — and therefore the sum — is total)
    val wBucket = Window.partitionBy(col("bucket")).orderBy(col("doc_id").asc)
    val local = base.withColumn("local_end", sum(col("n_tokens")).over(wBucket))

    // phase 2: exclusive prefix sum over the nBuckets-row totals frame —
    // the single-partition window is deliberate and O(nBuckets). Totals
    // are read off phase 1's output (max of the inclusive cumsum ≡ the
    // bucket sum) rather than recomputed from `base`: both consumers then
    // share the ONE bucket Exchange subtree (ReuseExchange), so the
    // upstream — at 100 TB, the full corpus scan plus whatever gates feed
    // this — is scanned once, not once per branch.
    val wTotals = Window.orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("bucket"))
      .agg(max(col("local_end")).as("tot"))
      .withColumn("bucket_off", coalesce(sum(col("tot")).over(wTotals), lit(0L)))
      .select(col("bucket"), col("bucket_off"))

    local.join(broadcast(offsets), Seq("bucket"))
      .withColumn("start_off", col("bucket_off") + col("local_end") - col("n_tokens"))
      .withColumn("seq_first", expr(s"start_off DIV $seqLen"))
      .withColumn("seq_last", expr(s"(start_off + n_tokens - 1) DIV $seqLen"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + lit(1L))
      .select(col("doc_id"), col("bucket"), col("n_tokens"), col("start_off"),
        col("seq_first"), col("seq_last"), col("n_seqs"))
  }

  /** The packed training artifact itself: one row per
    * (sequence, document-slice) — explode each document over the
    * sequences it lands in (`seq_first..seq_last`) and slice at the
    * boundaries. Columns:
    *
    *   - `seq_id`   — training sequence the slice belongs to
    *   - `doc_id`   — source document
    *   - `tok_from` — first within-document token index (0-based, incl.)
    *   - `tok_to`   — end within-document token index (exclusive)
    *   - `seq_off`  — position of the slice inside the sequence
    *
    * The slice table is what a writer joins back to the tokenized corpus
    * (`slice(tokens, tok_from + 1, tok_to - tok_from)` grouped by
    * `seq_id`, ordered by `seq_off`) to emit fixed-length sequences —
    * see [[packSequenceTokens]]. The explode is a narrow transformation
    * (no extra shuffle beyond [[packConcatSplit]]'s two windows) and
    * fans out only `n_tokens/seqLen + 1` rows per document. All-integer
    * arithmetic: engine-exact, oracle-reproducible.
    */
  def packedSequences(df: DataFrame, idCol: Column, nTokens: Column,
                      seqLen: Int, nBuckets: Int = 32,
                      salt: String = "pack"): DataFrame = {
    val L = seqLen.toLong
    packConcatSplit(df, idCol, nTokens, seqLen, nBuckets, salt)
      .select(col("doc_id"), col("n_tokens"), col("start_off"),
        explode(sequence(col("seq_first"), col("seq_last"))).as("seq_id"))
      .withColumn("g_from", greatest(col("start_off"), col("seq_id") * L))
      .withColumn("g_to",
        least(col("start_off") + col("n_tokens"), (col("seq_id") + lit(1L)) * L))
      .select(col("seq_id"), col("doc_id"),
        (col("g_from") - col("start_off")).as("tok_from"),
        (col("g_to") - col("start_off")).as("tok_to"),
        (col("g_from") - col("seq_id") * L).as("seq_off"))
  }

  /** Materialize the packed sequences as token arrays: join the slice
    * table back to the tokenized corpus and assemble each sequence's
    * tokens in `seq_off` order. One shuffle by `seq_id` (the output's
    * natural key); every sequence except the tail is exactly `seqLen`
    * tokens. `tokens` must be the SAME tokenization `nTokens` counted.
    */
  def packSequenceTokens(df: DataFrame, idCol: Column, tokens: Column,
                         seqLen: Int, nBuckets: Int = 32,
                         salt: String = "pack"): DataFrame = {
    val toks = df.select(idCol.cast("long").as("doc_id"), tokens.as("__toks"))
    val slices = packedSequences(df, idCol, size(tokens).cast("long"),
      seqLen, nBuckets, salt)
    slices.join(toks, Seq("doc_id"))
      .select(col("seq_id"), col("seq_off"),
        slice(col("__toks"), col("tok_from") + lit(1),
          (col("tok_to") - col("tok_from")).cast("int")).as("part"))
      .groupBy(col("seq_id"))
      .agg(flatten(array_sort(collect_list(struct(col("seq_off"), col("part")))
        .asInstanceOf[Column]).getField("part")).as("tokens"))
  }

  /** Length-grouped batching — the training-loader trick that cuts
    * padding waste: documents of similar token length train together,
    * so a batch's padding is bounded by the within-bucket length
    * spread instead of the global max. Buckets are exact length
    * quartiles ([[Sketches.quantileBuckets]], value-stable under
    * ties); within a bucket, documents rank by (length, id) and chop
    * into `batchSize` groups.
    *
    * The within-bucket rank does NOT sort the data per bucket (4
    * near-corpus-size partitions would be the classic skewed-window
    * killer): the exclusive cumulative count over the (bucket, length)
    * HISTOGRAM gives every length its global offset, and a row_number
    * only WITHIN each (bucket, length) cell breaks ties — fine-grained
    * partitions, the qualitySelect scheme.
    *
    * Returns (doc_id, n_tokens, bucket, batch_idx).
    */
  def lengthGroupedBatches(df: DataFrame, idCol: Column, nTokens: Column,
                           batchSize: Int): DataFrame = {
    require(batchSize > 0)
    import org.apache.spark.sql.expressions.Window
    val base = df.select(idCol.cast("long").as("doc_id"),
      nTokens.cast("long").as("n_tokens"), lit(0).as("__s"))
    val bucketed = Sketches.quantileBuckets(base, Seq("__s"),
      col("n_tokens"), Seq(25, 50, 75))
    val hist = bucketed.groupBy(col("bucket"), col("n_tokens"))
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(col("bucket"))
      .orderBy(col("n_tokens").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("__before", coalesce(sum(col("__c")).over(wCum), lit(0L)))
      .select(col("bucket"), col("n_tokens"), col("__before"))
    val wTie = Window.partitionBy(col("bucket"), col("n_tokens"))
      .orderBy(col("doc_id").asc)
    bucketed
      .withColumn("__rn", row_number().over(wTie).cast("long"))
      .join(cum, Seq("bucket", "n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("bucket"),
        expr(s"(__before + __rn - 1) DIV $batchSize").as("batch_idx"))
  }
}
