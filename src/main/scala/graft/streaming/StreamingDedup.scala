package graft.streaming

import graft.functions.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming exact deduplication for continuous ingestion: the
  * first-seen document per normalized-text fingerprint passes through,
  * later copies — in the same or any later micro-batch — are dropped.
  * This is the streaming face of [[graft.functions.Dedup.exact]]: the
  * batch operator marks duplicates after the fact; the stream never
  * lets them in.
  *
  * State shape: one state-store entry per DISTINCT fingerprint, hash-
  * partitioned across executors by Structured Streaming's dedup
  * operator — at ingest scale the state is the dedup index itself.
  * Unbounded retention in [[apply]]; when ingestion has event time,
  * [[withinWatermark]] bounds state to the watermark horizon — exactly
  * the retention window a production ingest pipeline negotiates
  * ("duplicates only ever arrive within N hours of the original").
  */
object StreamingDedup {

  /** Global dedup: state grows with distinct documents. */
  def apply(ds: DataFrame, textCol: String): DataFrame =
    ds.withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
      .dropDuplicates("fingerprint")

  /** Watermark-bounded dedup: duplicates are suppressed as long as they
    * arrive within `delay` of the watermark; state older than the
    * horizon is evicted, keeping the store size ∝ ingest-rate × delay
    * instead of corpus size.
    */
  def withinWatermark(ds: DataFrame, textCol: String, timeCol: String,
                      delay: String): DataFrame =
    ds.withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(timeCol, delay)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Trigger sizing for commit-bound stateful streams (this dedup, or
    * any one-stateful-stage twin): with per-row processing rate `R`
    * (rows/s, the batch-mode throughput of the same plan) and fixed
    * per-micro-batch commit cost `C` (seconds — state-store commit +
    * offset/commit-log write + planning, measured at the deployed state
    * partition count), a micro-batch of `n` rows sustains
    *
    *   throughput(n) = n / (n/R + C)
    *
    * which is monotone in `n` and approaches `R` from below — the
    * stream can never beat its own batch plan; it can only amortize the
    * commit. Inverting for a target rate `tau` < R gives the MINIMUM
    * batch size, and dividing by the ingest rate gives the trigger
    * interval to configure. The reference point for C and R at sf10
    * lives in BASELINE.md's streaming rows (re-measured by
    * [[graft.StreamBench]]'s `dedup_tuned` row).
    */
  def minBatchRows(coreRowsPerSec: Double, commitSec: Double,
                   targetRowsPerSec: Double): Long = {
    require(targetRowsPerSec < coreRowsPerSec,
      s"target $targetRowsPerSec rows/s unreachable: batch-mode ceiling " +
        s"is $coreRowsPerSec rows/s — no trigger size closes a gap the " +
        "plan itself can't sustain")
    math.ceil(commitSec * targetRowsPerSec * coreRowsPerSec /
      (coreRowsPerSec - targetRowsPerSec)).toLong
  }

  /** Trigger interval (seconds) that yields [[minBatchRows]] at the
    * given ingest rate — the number a production pipeline actually
    * configures (`Trigger.ProcessingTime`). Also the stability check:
    * the interval must exceed the batch's own processing time
    * (n/R + C), which holds by construction whenever
    * `ingestRowsPerSec <= targetRowsPerSec`.
    */
  def triggerIntervalSec(ingestRowsPerSec: Double, coreRowsPerSec: Double,
                         commitSec: Double, targetRowsPerSec: Double): Double =
    minBatchRows(coreRowsPerSec, commitSec, targetRowsPerSec) /
      ingestRowsPerSec

  /** Streaming exact-substring dedup — the streaming face of
    * [[graft.functions.Dedup.exactSubstringDedup]]'s window core:
    * documents explode into STRIDE-1 `windowLen`-token window
    * fingerprints map-side; the first arrival of each exact window text
    * passes, every later copy — same or later micro-batch, any offset,
    * any document — is dropped. Emits surviving
    * (doc_id, s, fp) occurrences in append mode; the batch-side
    * interval merge + cut (`cutCoveredSpans`) consumes the COMPLEMENT
    * downstream. State: one store entry per distinct window
    * fingerprint (the spillable RocksDB provider is the at-scale
    * configuration — [[graft.core.Sessions.useRocksDbStateStore]]).
    */
  def substringWindows(ds: DataFrame, idCol: String, textCol: String,
                       windowLen: Int = 16): DataFrame =
    graft.functions.Dedup.slidingWindows(ds, idCol, textCol, windowLen)
      .dropDuplicates("fp")

  /** Streaming passage-level dedup — the streaming face of
    * [[graft.functions.Dedup.passageDedup]]: documents explode into
    * fixed-word passages map-side, the first arrival of each exact
    * passage passes, every later copy (same or later micro-batch, same
    * or other document) is dropped. Emits the surviving
    * (doc_id, pidx, passage, fp) rows in append mode; reassembly
    * ([[TextAnalysis.reassemblePassages]]) is left to the sink or a
    * downstream batch read — a streaming per-document collect would
    * chain a second stateful stage for no ingest-side benefit. State:
    * one store entry per distinct passage fingerprint.
    */
  def passages(ds: DataFrame, idCol: String, textCol: String,
               passageLen: Int = 8): DataFrame =
    TextAnalysis.passages(ds, idCol, textCol, passageLen)
      .withColumn("fp", md5(col("passage")))
      .dropDuplicates("fp")
}
