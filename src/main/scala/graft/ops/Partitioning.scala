package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Partitioning / skew utilities for the 100 TB deployment shape.
  *
  * The observation table's natural keys are (datastream_id, time). At
  * production scale (~60 streams ÷ 1000 executors) a plain
  * `partitionBy(datastream_id)` leaves most executors idle and any hot
  * stream unsplittable. The standard fix is **range co-partitioning**
  * on (stream, time): window kernels only need *time-local* order per
  * stream, so time-range chunks with an overlap margin parallelize a
  * single stream arbitrarily.
  *
  * AQE (`spark.sql.adaptive.enabled`, on in [[graft.core.Sessions]])
  * already splits skewed *join* partitions at runtime; these helpers
  * cover window skew, which AQE does not re-balance.
  */
object Partitioning {

  /** Spread a narrow-scan frame across the session's cores BEFORE heavy
    * map-side compute (tokenize/hash/explode chains), adaptively: a
    * parquet scan can never have more non-empty tasks than the file's
    * row groups, so a compact input (one file, one row group — the
    * bench testdata shape, or any freshly-compacted small table) runs
    * an entire normalize+shingle+fingerprint pipeline on ONE core while
    * the rest idle. When the scan already has at least as many splits
    * as cores (the 100 TB shape: thousands of 128 MB splits), this is
    * the IDENTITY — no round-robin exchange of payload bytes is ever
    * paid at scale (guide §8: never shuffle heavy payloads without
    * need). The probe reads the partition count of the frame's RDD: on
    * an exchange-free input (a scan plus narrow operators) that comes
    * from the physical plan and no job is submitted; an input that holds
    * an exchange runs its upstream stages under AQE to learn the count.
    */
  def spreadScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val parts = df.rdd.getNumPartitions
    if (parts < target) df.repartition(target) else df
  }

  /** Chunked time-windows for parallelizing per-stream *window* kernels
    * over a hot stream: assign each row to a time chunk, and replicate
    * rows within `overlapUs` of a chunk boundary into the neighbor chunk
    * as context (marked `is_context = true`, to be dropped from results
    * after the kernel runs). Exactly the reference's overlapping-window
    * backfill trick (`qc_historical.sh`), applied inside one job.
    */
  def chunkWithOverlap(df: DataFrame, timeUs: Column, chunkUs: Long,
                       overlapUs: Long): DataFrame = {
    require(overlapUs >= 0 && overlapUs < chunkUs, "overlap must be < chunk")
    val chunk = floor(timeUs / chunkUs).cast("long")
    val posInChunk = timeUs - chunk * chunkUs
    // ONE scan + a map-side explode of 1-3 chunk assignments per row
    // (the 3-way union form scanned and decoded the source three times):
    // rows near the start of a chunk also serve as context for the
    // previous chunk's tail; rows near the end for the next chunk's head
    val assignments = filter(
      array(
        struct(chunk.as("c"), lit(false).as("ctx"), lit(true).as("keep")),
        struct((chunk - 1).as("c"), lit(true).as("ctx"),
          (posInChunk < overlapUs).as("keep")),
        struct((chunk + 1).as("c"), lit(true).as("ctx"),
          (posInChunk >= chunkUs - overlapUs).as("keep"))),
      e => e.getField("keep"))
    df.withColumn("__assign", explode(assignments))
      .withColumn("__chunk", col("__assign.c"))
      .withColumn("is_context", col("__assign.ctx"))
      .drop("__assign")
  }

  /** Z-order (Morton) interleave of two `bits`-bit cell coordinates —
    * the multi-dimensional data-layout key (Delta/Iceberg Z-ORDER,
    * Morton 1966): sorting or range-partitioning 100 TB of spatial rows
    * by this key gives every file/row-group a TIGHT bounding box on
    * BOTH dimensions at once, so min/max zone maps prune scans for
    * either-axis predicates — a time- or single-axis sort can only ever
    * prune one. Pure integer bit algebra (2·bits codegen'd terms), so
    * keys — and the layout they imply — replay exactly in any engine.
    */
  def zOrderKey(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** [[zOrderKey]] as oracle SQL text — identical interleave. */
  def zOrderKeySql(x: String, y: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((($x >> $i) & 1) * ${1L << (2 * i)} + " +
        s"(($y >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString("(", " + ", ")")

  /** Small-file compaction plan — the lakehouse OPTIMIZE manifest: items
    * of group `groupCol` are laid out in `orderCol` order and cut into
    * output files of ~`targetBytes` by START offset (an item landing on
    * a boundary belongs to the file its first byte falls in — the
    * standard split-by-offset rule, which keeps every file ≤ target +
    * one item and never splits an item). Returns one row per planned
    * output file: (group, bin, n_items, bytes, first/last item) — the
    * manifest a rewrite job executes.
    *
    * Scale shape: ONE window exchange on the group key (running size
    * prefix) + a partial-agg'd groupBy riding the same partitioning.
    * Pure integer, replays exactly in the oracle.
    */
  def compactionPlan(df: DataFrame, groupCol: String, orderCol: String,
                     sizeCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes >= 1)
    val w = Window.partitionBy(col("grp")).orderBy(col("item"))
    df.select(col(groupCol).as("grp"), col(orderCol).as("item"),
        col(sizeCol).cast("long").as("sz"))
      .withColumn("start", sum(col("sz")).over(w) - col("sz"))
      .withColumn("bin", expr(s"start DIV $targetBytes"))
      .groupBy(col("grp"), col("bin"))
      .agg(count(lit(1)).as("n_items"), sum(col("sz")).as("bytes"),
        min(col("item")).as("first_item"), max(col("item")).as("last_item"))
  }
}
