package graft.ops

import graft.core.{Flags, Obs}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** R1/R2/A4 — the pivot/align/export path (reference
  * `src/aums_data_request.py:97-162`, golden-pinned by
  * `tests/resources/df_agg.csv` via `tests/test_other.py:144-198`):
  * round timestamps, pick the best observation per (bucket, stream) by
  * (flag severity, nearness to the bucket), pivot streams to columns.
  *
  * The reference's 6-level column MultiIndex becomes flat
  * `"{ds_id}_result"` / `"{ds_id}_qc"` column names; stream metadata
  * rejoins at export time. `groupBy().pivot(values = explicit list)`
  * keeps the plan static (no collect-distinct pre-pass) — at scale pass
  * the known stream catalog.
  */
object PivotExport {

  /** A4 — best row per group: rank by (flag rank asc = best first,
    * dt-to-rounded asc, id asc for determinism) and keep row 1.
    * Also the 10-min downsample-transfer op (reference
    * `crontab/sta_raw_to_sta_prod_transfer 1.sh:37-44`).
    */
  def bestRowPerGroup(df: DataFrame, groupCols: Seq[String],
                      orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** R1 — long→wide pivot: one row per rounded timestamp, one
    * (result, qc) column pair per datastream. `streams` should be the
    * known catalog (keeps Catalyst from an extra distinct job).
    */
  def pivotWide(df: DataFrame, streams: Seq[Long],
                timeRound: Column): DataFrame = {
    val agged = df
      .withColumn("time_round", timeRound)
      .groupBy(col("time_round"))
      .pivot(Obs.DatastreamId, streams)
      .agg(first(col(Obs.Result), ignoreNulls = true).as("result"),
        first(col(Obs.QcFlag), ignoreNulls = true).as("qc"))
    // missing observations get flag MISSING (reference QualityFlags(9) fill,
    // src/aums_data_request.py:121)
    streams.foldLeft(agged) { (d, s) =>
      d.withColumn(s"${s}_qc",
        coalesce(col(s"${s}_qc"), lit(Flags.Missing).cast("tinyint")))
    }
  }

  /** R2 — full aligned export: per (bucket, stream) keep the best row
    * by (qc severity, |t − bucket|, id), then pivot. Coordinates: first
    * by (bucket, dt) across all streams (reference
    * `src/aums_data_request.py:126-152`).
    */
  def alignedExport(obs: DataFrame, streams: Seq[Long], stepSec: Long): DataFrame = {
    val rounded = obs
      .withColumn("time_round", WindowKernels.timeRound(col(Obs.Time), stepSec))
      .withColumn("dt", WindowKernels.dtToRound(col(Obs.Time), col("time_round")))
    val best = bestRowPerGroup(rounded, Seq("time_round", Obs.DatastreamId),
      Seq(col(Obs.QcFlag).asc, col("dt").asc, col(Obs.IotId).asc))
    val coords = bestRowPerGroup(rounded, Seq("time_round"),
      Seq(col("dt").asc, col(Obs.IotId).asc))
      .select(col("time_round"), col(Obs.Lat).as("lat"), col(Obs.Long_).as("long"))
    pivotWide(best, streams, col("time_round")).join(coords, Seq("time_round"), "left")
  }
}
