package graft

import graft.ops.SpatialOutlier
import org.apache.spark.sql.functions._

/** W4 — spatial outlier vs rolling median position. The reference pins
  * this with perturbation tests (`tests/test_qc.py:263-392`): inject
  * spikes into a track and exactly the perturbed indices must flag; the
  * median makes it robust to single/double spikes, zeros, and lat/long
  * swaps.
  */
class SpatialOutlierSpec extends SparkSpec {
  import spark.implicits._

  /** Slow track: 0.0001° per 10 s (~1.1 m/s), 60 points. */
  private def track(perturb: Map[Int, (Double, Double)]) =
    (0 until 60).map { i =>
      val (dlat, dlon) = perturb.getOrElse(i, (0.0, 0.0))
      (i.toLong, i * 10000000L, 51.0 + i * 0.0001 + dlat, 3.0 + i * 0.0001 + dlon)
    }.toDF("id", "t_us", "lat", "lon")

  private def outliers(perturb: Map[Int, (Double, Double)]): Seq[Long] =
    SpatialOutlier(track(perturb), $"lat", $"lon", $"t_us",
      windowSec = 300L, maxDxDt = 2000.0 / 300.0) // threshold 2 km
      .filter($"is_spatial_outlier").select($"id").collect().map(_.getLong(0)).toSeq.sorted

  test("clean track: no outliers") {
    assert(outliers(Map.empty).isEmpty)
  }

  test("single spike (+0.1 deg ~ 11 km): exactly that index flags (test_qc.py:263-392)") {
    assert(outliers(Map(30 -> (0.1, 0.0))) == Seq(30L))
  }

  test("double spike: both flag, neighbors don't") {
    assert(outliers(Map(30 -> (0.1, 0.0), 31 -> (0.1, 0.0))) == Seq(30L, 31L))
  }

  test("zeroed coordinates (sensor glitch to 0,0) flag") {
    assert(outliers(Map(10 -> (-51.001, -3.001))) == Seq(10L))
  }

  test("lat/long swap flags") {
    // swapping 51.003/3.003 -> 3.003/51.003 is a huge jump
    val df = track(Map.empty).withColumn("lat2",
        when($"id" === 20L, $"lon").otherwise($"lat"))
      .withColumn("lon2", when($"id" === 20L, $"lat").otherwise($"lon"))
    val got = SpatialOutlier(df, $"lat2", $"lon2", $"t_us",
      windowSec = 300L, maxDxDt = 2000.0 / 300.0)
      .filter($"is_spatial_outlier").select($"id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(20L))
  }

  test("small perturbation below threshold does not flag") {
    assert(outliers(Map(30 -> (0.001, 0.0))).isEmpty) // ~111 m < 2 km
  }
}
