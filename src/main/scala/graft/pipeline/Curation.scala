package graft.pipeline

import graft.functions.{Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation — the text-family analogue of
  * [[QcMain]]'s QC chain: every gate's verdict stays a column (corpus
  * dashboards track which rule kills documents, the same reason the
  * reference keeps a per-check flag history), composed into one final
  * `keep`.
  *
  * Gates, each an existing operator evaluated in ONE pass over the
  * corpus:
  *   1. exact dedup — only each fingerprint group's canonical (lowest
  *      id) survives; one window shuffle ([[Dedup.exact]]);
  *   2. Gopher hard rules — length band, mean word length, stopword
  *      floor, alpha ratio; map-side ([[TextAnalysis.gopherFilterOnto]]);
  *   3. quality floor — micro-quantized score ≥ `minQualityMicro`;
  *      map-side ([[TextAnalysis.qualityScoreOnto]]);
  *   4. PII budget — staged redaction count ≤ `maxPii`; map-side
  *      ([[TextAnalysis.piiScrubOnto]]).
  *
  * Total cost at any scale: the dedup Exchange plus one map-side pass —
  * the composition adds no shuffle beyond its most expensive member.
  */
object Curation {

  def curate(df: DataFrame, idCol: String, textCol: String,
             minQualityMicro: Long = 400000L, maxPii: Long = 0L): DataFrame = {
    val text: Column = col(textCol)
    val deduped = Dedup.exact(df, idCol, textCol)
      .withColumn("dedup_ok", !col("is_duplicate"))
    val gophered = TextAnalysis.gopherFilterOnto(deduped, text)
      .withColumnRenamed("keep", "gopher_ok")
    val scored = TextAnalysis.qualityScoreOnto(gophered, "__q", text)
      .withColumn("quality_micro",
        (col("__q").cast("decimal(25,6)") * lit(1000000)).cast("long"))
      .withColumn("quality_ok", col("quality_micro") >= minQualityMicro)
    val pii = TextAnalysis.piiScrubOnto(scored, text)
      .withColumn("pii_ok", col("n_pii") <= maxPii)
    pii.select(col(idCol).as("doc_id"),
      col("dedup_ok"), col("r_len_ok"), col("r_mwl_ok"), col("r_sw_ok"),
      col("r_alpha_ok"), col("gopher_ok"),
      col("quality_micro"), col("quality_ok"),
      col("n_pii"), col("pii_ok"),
      (col("dedup_ok") && col("gopher_ok") && col("quality_ok") &&
        col("pii_ok")).as("keep"))
  }

  /** The surviving documents themselves (original columns), for feeding
    * the next pipeline stage — same gates as [[curate]], applied as
    * filters instead of verdict columns, so the composition stays the
    * dedup Exchange plus one map-side pass and never joins the verdict
    * frame back onto the corpus. Dedup canonicality is decided over the
    * FULL corpus before any other gate: a canonical doc that later
    * gates kill does NOT promote one of its duplicates (same contract
    * as [[curate]]'s keep column).
    */
  def curatedCorpus(df: DataFrame, idCol: String, textCol: String,
                    minQualityMicro: Long = 400000L,
                    maxPii: Long = 0L): DataFrame = {
    val text: Column = col(textCol)
    val deduped = Dedup.exact(df, idCol, textCol).filter(!col("is_duplicate"))
    val gated = TextAnalysis.gopherFilterOnto(deduped, text).filter(col("keep"))
    val scored = TextAnalysis.qualityScoreOnto(gated, "__q", text)
      .filter((col("__q").cast("decimal(25,6)") * lit(1000000)).cast("long")
        >= minQualityMicro)
    val survivors = TextAnalysis.piiScrubOnto(scored, text)
      .filter(col("n_pii") <= maxPii)
    survivors.select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** The CENTURY CAPSTONE: the full production curation chain composed
    * into one artifact —
    *
    *   quality gates (Gopher + C4 + heuristic score + PII budget)
    *   → exact dedup → fuzzy dedup (MinHash-LSH, Jaccard-verified)
    *   → benchmark decontamination (8-gram passage cut)
    *   → temperature mixture sample (token budget)
    *   → concat-and-split packing → bucketed-at-rest training shards.
    *
    * Returns a per-sequence DIGEST of the shard table READ BACK from
    * disk (shard, seq_id, n_tokens, order-independent and
    * position-weighted token-hash sums), so an oracle comparison proves
    * the bytes a trainer would read, not an in-flight frame.
    *
    * Plan shape (the stage-reuse trap discipline — every multiply-
    * consumed frame is materialized once):
    *   - `base` (gated + exact-deduped survivors) is localCheckpoint'd:
    *     the fuzzy-dedup band build, the Jaccard verify, the anti-join
    *     left side and the passage explode all scan it, and each would
    *     otherwise re-run the gate regex chain (the t_curriculum_order
    *     double-scan trap, caught by plan audit in round 11);
    *   - `clean` (decontaminated corpus) is localCheckpoint'd: mixture
    *     stats, the mixture membership join and both packing branches
    *     scan it;
    *   - the sampled slice is budget-bounded (~budgetTokens), so the
    *     packing + shard write runs over a corpus-independent volume.
    * At 100 TB the localCheckpoints become persist(DISK_ONLY) or an
    * explicit staging table — the lineage-cut contract is identical.
    *
    * Fuzzy-dedup keep rule: a document is dropped iff it is the HIGHER
    * id of any verified near-dup pair (greedy min-id-survives — the
    * pairwise production rule; [[graft.functions.Dedup.nearDupClusters]]
    * is the transitive-closure alternative when cluster-canonical
    * semantics are required). Decontamination benchmark = raw documents
    * with `doc_id % 23 = 0` (the t_contamination/t_decontaminate
    * split); those ids are excluded from the training corpus.
    */
  def capstoneShards(docs: DataFrame, idCol: String, textCol: String,
                     sourceCol: String, outTable: String, outPath: String,
                     minQualityMicro: Long = 800000L, maxPii: Long = 0L,
                     tau: Double = 0.5, passageLen: Int = 8,
                     budgetTokens: Long = 20000L, seqLen: Int = 512,
                     nBuckets: Int = 32, seqsPerShard: Long = 8L,
                     tableBuckets: Int = 8,
                     // plan-audit hook: observes each stage frame AS
                     // BUILT (pre-materialization) so a spec can pin
                     // the source-scan counts — the stage-reuse trap
                     // guard. No-op (and zero-cost) by default.
                     planTap: (String, DataFrame) => Unit =
                       (_, _) => ()): DataFrame = {
    val spark = docs.sparkSession
    val text = col(textCol)

    // ---- stage 1: exact dedup + every map-side gate, one pass --------
    // spreadScan: the whole gate chain (fingerprint, gopher, quality,
    // pii) is map-side — parallelize it past a compact scan's split
    // count; the spread partitioning then carries through the base
    // checkpoint into the stage-3 re-tokenize as well
    val deduped = Dedup.exact(graft.ops.Partitioning.spreadScan(docs),
        idCol, textCol)
      .filter(!col("is_duplicate"))
    val gophered = TextAnalysis.gopherFilterOnto(deduped, text)
      .filter(col("keep"))
    val lower0 = lower(text)
    val c4ok = !text.contains("{") && !text.contains("}") &&
      !lower0.contains("lorem ipsum") && !lower0.contains("javascript") &&
      TextAnalysis.wsTokenCount(text).between(5, 100000)
    val c4ed = gophered.filter(c4ok)
    val scored = TextAnalysis.qualityScoreOnto(c4ed, "__q", text)
      .filter((col("__q").cast("decimal(25,6)") * lit(1000000)).cast("long")
        >= minQualityMicro)
    val piid = TextAnalysis.piiScrubOnto(scored, text)
      .filter(col("n_pii") <= maxPii)
    // benchmark ids never train; the raw benchmark defines the fp set
    val basePre = piid
      .filter(col(idCol) % 23 =!= 0)
      .select(col(idCol).cast("long").as("doc_id"),
        col(sourceCol).as("source"), text.as("text"))
    planTap("base", basePre)
    val base = basePre.localCheckpoint()

    // ---- stage 2: fuzzy dedup over the checkpointed base -------------
    val dupIds = Dedup.minhashNearDupPairs(base, "doc_id", "text", tau)
      .select(col("id_b").as("doc_id")).distinct()
    val fuzzyKept = base.join(dupIds, Seq("doc_id"), "left_anti")

    // ---- stage 3: benchmark decontamination (carrying `source`) ------
    val bench = docs.filter(col(idCol) % 23 === 0)
    val fps = bench
      .select(explode(Dedup.shingles(text, passageLen)).as("g"))
      .select(md5(col("g")).as("__fp")).distinct()
    val pass = fuzzyKept
      .select(col("doc_id"), col("source"),
        split(TextAnalysis.normalized(col("text")), " ").as("words"))
      .withColumn("s",
        explode(sequence(lit(0), size(col("words")) - 1, lit(passageLen))))
      .select(col("doc_id"), col("source"),
        (col("s") / passageLen).cast("long").as("pidx"),
        array_join(slice(col("words"), col("s") + 1, lit(passageLen)), " ")
          .as("passage"))
      .withColumn("fp", md5(col("passage")))
    // docs that lose every passage vanish (an emptied doc has nothing
    // to pack); `source` rides the groupBy key — zero extra shuffles
    val cleanPre = pass
      .join(broadcast(fps), col("fp") === col("__fp"), "left_anti")
      .groupBy(col("doc_id"), col("source"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pidx"), col("passage")))),
        x => x("passage")), " ").as("clean_text"))
      .withColumn("n_tokens",
        TextAnalysis.wsTokenCount(col("clean_text")).cast("long"))
    planTap("clean", cleanPre)
    val clean = cleanPre.localCheckpoint()

    // ---- stage 4: mixture sample to the token budget ------------------
    val sampledIds = graft.functions.Sampling.mixtureSample(
        clean, col("doc_id"), col("source"), col("n_tokens"),
        budgetTokens, salt = "cap")
      .select(col("key").as("doc_id"))
    // budget-bounded (tiny) but consumed by BOTH packing branches
    // (token join + layout) — pin it so the mixture-rate chain runs once
    val sampled = clean.join(sampledIds, Seq("doc_id")).localCheckpoint()

    // ---- stage 5: pack + write the bucketed shard table ---------------
    val seqs = graft.functions.Packing.packSequenceTokens(
        sampled, col("doc_id"), TextAnalysis.wsTokens(col("clean_text")),
        seqLen, nBuckets, salt = "cap")
      .withColumn("shard", (col("seq_id") / lit(seqsPerShard)).cast("long"))
    planTap("seqs", seqs)
    spark.sql(s"DROP TABLE IF EXISTS `$outTable`")
    graft.core.Tables.writeBucketed(seqs, outTable, outPath,
      keys = Seq("shard"), buckets = tableBuckets,
      sortCols = Seq("shard", "seq_id"))

    // ---- stage 6: digest of the artifact READ BACK from the table -----
    spark.table(outTable).select(col("shard"), col("seq_id"),
      size(col("tokens")).cast("long").as("n_tokens"),
      aggregate(col("tokens"), lit(0L),
        (a, x) => a + Dedup.baseHash(x)).as("hash_sum"),
      aggregate(col("tokens"), struct(lit(0L).as("s"), lit(0L).as("i")),
        (acc, x) => struct(
          (acc.getField("s") + (acc.getField("i") + lit(1L)) * Dedup.baseHash(x)).as("s"),
          (acc.getField("i") + lit(1L)).as("i")),
        acc => acc.getField("s")).as("hash_possum"))
  }
}
