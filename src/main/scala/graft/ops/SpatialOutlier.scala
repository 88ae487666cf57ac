package graft.ops

import graft.core.{Flags, Frames}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W4 — spatial outlier vs. rolling median position (reference
  * `get_bool_spacial_outlier_compared_to_median`, call
  * `src/main.py:612-630`, `README.adoc:231-239`, pinned exhaustively by
  * the perturbation tests `tests/test_qc.py:263-392`): take the rolling
  * *median* of lat and long over a centered time window; flag the point
  * BAD when its distance to the median position exceeds
  * `max_dx_dt × window_seconds`. The median (vs. mean) is what makes it
  * robust to single/double spikes, zeros, and lat/long swaps.
  *
  * Scale note: exact `median` over a time-range window is an imperative
  * aggregate (no codegen) but stays one-pass per stream, and window
  * sizes are bounded (minutes of seconds-cadence data), so the O(window)
  * per-row memory is capped.
  */
object SpatialOutlier {

  def apply(df: DataFrame, lat: Column, lon: Column, epochUs: Column,
            windowSec: Long, maxDxDt: Double,
            partCols: Seq[String] = Seq.empty): DataFrame = {
    val half = windowSec * 1000000L / 2
    val base = if (partCols.isEmpty) Window.orderBy(epochUs)
    else Window.partitionBy(partCols.map(col): _*).orderBy(epochUs)
    val w = base.rangeBetween(-half, half)
    // Exact rolling median: Spark's `median`/`percentile` aggregates refuse
    // explicit window frames, so collect the frame and take the middle —
    // interpolating even counts exactly like pandas / DuckDB `median`.
    // Frame sizes are bounded (minutes of data), so the per-row list is
    // small.
    def med(c: Column): Column = {
      val sorted = array_sort(collect_list(c).over(w))
      val n = size(sorted)
      val lo = element_at(sorted, ((n + 1) / 2).cast("int"))
      val hi = element_at(sorted, (n / 2 + 1).cast("int"))
      (lo + hi) / 2.0
    }
    val maxDistM = maxDxDt * windowSec
    val medians = Frames.withColumns(df, Seq("median_lat" -> med(lat), "median_lon" -> med(lon)))
    // the verdict repeats the distance expression rather than reading its
    // column: one projection instead of two, the same value
    val dist = Geo.haversineM(lat, lon, col("median_lat"), col("median_lon"))
    Frames.withColumns(medians, Seq(
      "dist_to_median_m" -> dist,
      "is_spatial_outlier" -> (dist > maxDistM)))
  }

  def asCheck(): QcCheck =
    QcCheck("spatial_outlier", col("is_spatial_outlier"), Flags.Bad)
}
