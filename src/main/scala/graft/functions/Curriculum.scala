package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic curriculum ordering — the global training-emission
  * order "easiest band first, hash-shuffled within a band" (curriculum
  * learning's standard data-side contract: coarse difficulty ordering
  * with within-band decorrelation, cf. Bengio et al. 2009). Returns a
  * DENSE global position 0..n−1 per document under the total order
  * (band asc, h asc, doc_id asc) with h a salted integer hash — so the
  * schedule is a pure function of (salt, ids, bands): re-runs, stage
  * retries, and cluster-size changes cannot move a document.
  *
  * The global position is the [[Packing]] two-phase distributed scan,
  * not a single-partition `Window.orderBy` (the classic scale-killer):
  * h-RANGE buckets keep (band, bucket, h) order-compatible with
  * (band, h), a per-(band, bucket) row_number stays distributed, the
  * per-pair counts frame (nBands·nBuckets rows) takes the one tiny
  * serial prefix window, and the base offsets broadcast back.
  */
object Curriculum {

  /** Width of the distributed scan (≈ executor count at cluster scale;
    * the serial phase is O(bands·nBuckets) rows).
    */
  private val nBuckets = 32

  def order(df: DataFrame, idCol: Column, bandCol: Column): DataFrame = {
    // baseHash ∈ [0, 2^32): equal-width h ranges make bucket id a
    // MONOTONE function of h, so (band, hb, h) sorts like (band, h)
    val width = (4294967296L + nBuckets - 1) / nBuckets
    // localCheckpoint the NARROW (4-column) projection: both consumers
    // below — the rank window and the per-pair counts — read the
    // materialized frame, so the source (and whatever band computation
    // feeds it: at corpus scale a regex quality chain) is scanned ONCE.
    // Without the barrier, column pruning differentiates the two
    // branches' subtrees and the plan re-scans the source per branch
    // (measured: two full scans + the quality chain twice).
    val base = df
      .select(idCol.cast("long").as("doc_id"), bandCol.cast("int").as("band"))
      .withColumn("h", Dedup.baseHash(concat(lit("curr"), col("doc_id"))))
      .withColumn("hb", expr(s"h DIV $width"))
      .localCheckpoint()
    val wIn = Window.partitionBy(col("band"), col("hb"))
      .orderBy(col("h").asc, col("doc_id").asc)
    val local = base.withColumn("rn", row_number().over(wIn))
    // per-pair counts from a plain partial-agg'd groupBy (== max rank,
    // without forcing the window subtree a second time), then the tiny
    // serial step: an exclusive prefix over the bands·nBuckets rows
    val wPairs = Window.orderBy(col("band").asc, col("hb").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = base.groupBy(col("band"), col("hb"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("base_off", coalesce(sum(col("cnt")).over(wPairs), lit(0L)))
      .select(col("band"), col("hb"), col("base_off"))
    local.join(broadcast(offs), Seq("band", "hb"))
      .select(col("doc_id"), col("band"),
        (col("base_off") + col("rn") - 1).as("pos"))
  }
}
