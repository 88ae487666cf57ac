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
  * [[withinWatermark]] bounds it to the watermark horizon — exactly the
  * retention window a production ingest pipeline negotiates
  * ("duplicates only ever arrive within N hours of the original").
  */
object StreamingDedup {

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
}
