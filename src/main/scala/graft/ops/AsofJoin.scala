package graft.ops

import graft.core.{Flags, Frames}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** J2/J3 — tolerance-bounded nearest-neighbor as-of join (reference
  * `qc_dependent_quantity_base` / `_secondary`, call sites
  * `src/main.py:784-801`, semantics `README.adoc:257-268`, pinned
  * `tests/test_qc.py:604-971`): match each *left* (dependent) row to the
  * *right* (independent) row with the smallest |Δt|, provided
  * |Δt| ≤ tolerance; unmatched left rows keep null right columns.
  *
  * Spark-first implementation: time-bucketed equi-join. Bucket both sides
  * by `floor(t / tolerance)`; a nearest partner within tolerance is
  * always in bucket b−1, b, or b+1, so the left side is exploded to those
  * three candidate buckets and joined *equi* on (keys…, bucket) — a plain
  * shuffle-hash/sort-merge join Catalyst can plan and AQE can re-balance,
  * no O(n·m) theta join. Ties on |Δt| break toward the earlier right row,
  * then smaller right id (deterministic).
  *
  * At 100 TB this is shuffle-bound on (key, bucket) — the 3× left-side
  * explosion is the price of turning a range predicate into an equi key,
  * and beats both a broadcast theta join (right side too big) and a
  * union+window merge (which serializes both streams through one sort).
  */
object AsofJoin {

  private val RightPrefix = "r_"

  /** @param left       dependent side
    * @param right      independent side
    * @param keys       equi keys (e.g. nothing, or a vessel/thing id)
    * @param leftTimeUs  left event-time column (epoch µs)
    * @param rightTimeUs right event-time column name on `right` (epoch µs)
    * @param toleranceUs max |Δt| in µs
    * @param rightCols  right columns to carry (renamed with the `r_` prefix)
    * @param leftIdCol  a UNIQUE left row-id column, used as the candidate
    *   dedup key. When absent, a deterministic tag is derived from all
    *   left columns (an extra all-columns window pass — pass the id when
    *   you have one). monotonically_increasing_id is NOT used: it changes
    *   across stage retries, which can duplicate or drop rows mid-failure.
    */
  def nearest(left: DataFrame, right: DataFrame, keys: Seq[String],
              leftTimeUs: String, rightTimeUs: String, toleranceUs: Long,
              rightCols: Seq[String],
              rightIdCol: Option[String] = None,
              leftIdCol: Option[String] = None): DataFrame = {
    require(toleranceUs > 0, "tolerance must be positive")

    // unique, DETERMINISTIC row tag so duplicate left rows survive the
    // candidate dedup (and stage retries reproduce identical tags); each
    // left row explodes to its three candidate buckets in the same
    // projection
    val bucket = floor(col(leftTimeUs) / toleranceUs).cast("long")
    val lCandidates = explode(array(Seq(-1L, 0L, 1L).map(lit(_) + bucket): _*))
    val lBucketed = leftIdCol match {
      case Some(id) =>
        Frames.withColumns(left, Seq("__lid" -> col(id), "__bucket" -> lCandidates))
      case None =>
        // no natural id: tag = all columns + an index among exact
        // duplicates (identical rows are interchangeable, so the
        // duplicate numbering being permutation-unstable is harmless)
        val allCols = left.columns.map(col)
        val numbered = left.withColumn("__dup_rn",
          row_number().over(Window.partitionBy(allCols: _*).orderBy(lit(1))))
        Frames.withColumns(numbered, Seq(
            "__lid" -> struct(allCols :+ col("__dup_rn"): _*),
            "__bucket" -> lCandidates),
          drop = Seq("__dup_rn"))
    }
    // the right time column is always carried (bucketing + tiebreak need
    // it), even when the caller doesn't ask for it in rightCols
    val carried = (rightCols :+ rightTimeUs).distinct
    val rTime = col(s"$RightPrefix$rightTimeUs")
    val rRenamed = right
      .withColumnsRenamed(carried.map(c => c -> s"$RightPrefix$c").toMap)
      .withColumn("__bucket", floor(rTime / toleranceUs).cast("long"))

    val dt = abs(col(leftTimeUs) - rTime)
    val joined = Frames.withColumns(lBucketed.join(rRenamed, keys :+ "__bucket", "left"),
      Seq("__dt" -> dt, "__ok" -> (dt <= toleranceUs)))

    // keep, per left row, the best in-tolerance candidate (or none)
    val tieBreak: Seq[Column] =
      Seq(when(coalesce(col("__ok"), lit(false)), lit(0)).otherwise(lit(1)), // in-tolerance first
        col("__dt"), rTime) ++
        rightIdCol.map(c => col(s"$RightPrefix$c")).toSeq
    val w = Window.partitionBy(col("__lid"))
      .orderBy(tieBreak.map(_.asc_nulls_last): _*)
    val matched = col("__ok") === true
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      // null out right columns of out-of-tolerance best candidates
      .select(left.columns.map(col) ++
        rightCols.map(c => when(matched, col(s"$RightPrefix$c")).as(s"$RightPrefix$c")) :+
        coalesce(matched, lit(false)).as("asof_matched"): _*)
  }

  /** J2 — dependent-quantity flag propagation: copy the independent's flag
    * onto the dependent when the independent flag is "bad-ish"
    * (∉ {GOOD, NO_QUALITY_CONTROL}); dependent rows with no in-tolerance
    * partner get `flagWhenMissing` (default BAD; None = leave untouched).
    * Pinned: `tests/test_qc.py:683-702` (1-day shift ⇒ no match ⇒ BAD),
    * `732-779`, `838-879`.
    */
  def propagateFlag(depFlag: Column, indepFlag: Column,
                    flagWhenMissing: Option[Byte] = Some(Flags.Bad)): Column = {
    val propagated = when(col("asof_matched") &&
        indepFlag > lit(Flags.Good), // rank order: NQC(0) < GOOD(1) < ...
      Flags.worstWins(depFlag, indepFlag))
    val missing = flagWhenMissing match {
      case Some(f) => when(!col("asof_matched"), Flags.worstWins(depFlag, lit(f).cast("tinyint")))
      case None    => when(!col("asof_matched"), depFlag)
    }
    coalesce(propagated, missing, depFlag).cast("tinyint")
  }

  /** J3 — secondary value check: if the matched independent *value* is
    * outside [lo, hi], the dependent observation goes BAD (independent
    * itself untouched). Pinned `tests/test_qc.py:882-971`.
    */
  def secondaryValueCheck(depFlag: Column, indepValue: Column,
                          lo: Double, hi: Double): Column =
    when(col("asof_matched") && (indepValue < lo || indepValue > hi),
      Flags.worstWins(depFlag, lit(Flags.Bad).cast("tinyint")))
      .otherwise(depFlag).cast("tinyint")

  /** Interval (range-containment) join: every (row, interval) pair of
    * the same key with `startUs ≤ t < endUs` — point-in-window
    * enrichment (maintenance windows, campaign spans, outage periods).
    *
    * Spark plans a raw range predicate as a per-key nested loop
    * (BroadcastNestedLoopJoin, or worse a CartesianProduct) — O(n·m)
    * per key and a straggler on any hot key. Same cure as [[nearest]]:
    * time-chunk both sides and join EQUI on (keys…, chunk) with the
    * range predicate demoted to a post-join filter. Each interval
    * explodes only to the chunks it overlaps (≤ len/chunk + 1 — pick
    * `chunkUs` ≈ the typical interval length), rows map to exactly one
    * chunk, and the join is a plain shuffle/broadcast hash join that
    * AQE can re-balance.
    *
    * `startUs`/`endUs` must be column NAMES on `intervals` (they survive
    * to the output); `tUs` a column name on `rows`.
    */
  def intervalJoin(rows: DataFrame, intervals: DataFrame, keys: Seq[String],
                   tUs: String, startUs: String, endUs: String,
                   chunkUs: Long): DataFrame = {
    require(chunkUs > 0, "chunk must be positive")
    val iv = intervals.withColumn("__chunk",
      explode(sequence(floor(col(startUs) / chunkUs).cast("long"),
        floor((col(endUs) - 1) / chunkUs).cast("long"))))
    val rw = rows.withColumn("__chunk", floor(col(tUs) / chunkUs).cast("long"))
    rw.join(iv, keys :+ "__chunk")
      .filter(col(tUs) >= col(startUs) && col(tUs) < col(endUs))
      .drop("__chunk")
  }
}
