package graft

import graft.ops.WindowKernels
import org.scalatest.matchers.should.Matchers

/** Rolling cross-stream correlation: exact ±10⁶ on affine pairs (the
  * integer arithmetic cancels exactly), the min-window gate, and the
  * (t, tie)-deterministic per-bucket representative.
  */
class RollingCorrSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val B = 1000000L

  private def row(d: Long, bucket: Long, vCenti: Long, off: Long = 0L) =
    (d, bucket * B + off, vCenti * 10000L, d * 1000 + bucket)

  test("affine pairs score exactly +1e6 / -1e6; windows under minPairs drop") {
    val rows = (0 to 5).flatMap { k =>
      Seq(row(0, k, k + 1),          // x = 1..6
        row(1, k, 2 * (k + 1) + 3),  // y = 2x+3  -> r = +1
        row(2, k, k + 1),
        row(3, k, 6L - k))           // y = -x+7  -> r = -1
    }
    val df = rows.toDF("datastream_id", "t_us", "v_micro", "iot_id")
    val out = WindowKernels.rollingPairCorr(df, "datastream_id", "t_us",
        "v_micro", "iot_id", bucketUs = B, windowRows = 8, minPairs = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // only buckets 3..5 reach the 4-aligned-bucket floor
    out.keySet shouldBe (3L to 5L).flatMap(b => Seq((0L, b), (1L, b))).toSet
    for (b <- 3L to 5L) {
      out((0L, b)) shouldBe ((b + 1, 1000000L))  // n_w grows with the run
      out((1L, b)) shouldBe ((b + 1, -1000000L))
    }
  }

  test("per-bucket representative is first by (t, tie): later rows ignored") {
    def run(extra: Seq[(Long, Long, Long, Long)]) = {
      val base = (0 to 5).flatMap { k =>
        Seq(row(0, k, k + 1), row(1, k, 2 * (k + 1) + 3))
      }
      WindowKernels.rollingPairCorr(
        (base ++ extra).toDF("datastream_id", "t_us", "v_micro", "iot_id"),
        "datastream_id", "t_us", "v_micro", "iot_id",
        bucketUs = B, windowRows = 8, minPairs = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    }
    // a poison observation LATER in the same bucket must not change the
    // representative (first by t wins)
    run(Seq(row(0, 2, 999, off = 77))) shouldBe run(Nil)
  }

  test("batch reference: affine prefix scores exactly +1e6; the skipped " +
    "bucket never aligns") {
    // pair 0 = streams (0, 1) with y = 2x + 3 for 6 buckets then two
    // anti-phase buckets; pair 1 = streams (2, 3) where y SKIPS bucket 2
    // (never aligns) and lags x's arrival
    val p0 = (0L until 8L).flatMap { b =>
      val x = b + 1
      val y = if (b < 6) 2 * x + 3 else 30 - 3 * x
      Seq((0L, b * B + 10, x * 10000L, 100 + b),
        (1L, b * B + 20, y * 10000L, 200 + b))
    }
    val p1x = (0L until 6L).map(b => (2L, b * B + 30, (b * b + 1) * 10000L,
      300 + b))
    val p1y = Seq(0L, 1L, 3L, 4L, 5L).map(b => (3L, b * B + 40,
      (7 - b) * 10000L, 400 + b))
    val b = WindowKernels.rollingPairCorr(
        (p0 ++ p1x ++ p1y).toDF("datastream_id", "t_us", "v_micro", "iot_id"),
        "datastream_id", "t_us", "v_micro", "iot_id",
        bucketUs = B, windowRows = 8, minPairs = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    // pair 0, bucket 3: four aligned affine buckets -> +1e6
    assert(b.contains((0L, 3L, 4L, Some(1000000L))))
    // pair 1's bucket 2 never aligns: windows count only aligned buckets
    val p1 = b.filter(_._1 == 1L)
    p1.map(_._2) shouldBe Set(4L, 5L)  // 4th aligned bucket is b=4
    assert(b.size > 4)
  }

  test("wide magnitudes: 64-bit cross terms would overflow, widened " +
    "decimal moments stay exact (batch) and BigInt agrees (stream)") {
    // centi mean 5e8 with unit spread: n·Σxy ≈ 3.2e19 overflows BIGINT
    // — the pre-widening 64-bit form ERRORED the query here under ANSI.
    // The variance is tiny, so the widened decimal chain is exact and
    // the affine pair still scores +1e6 exactly.
    val M = 500000000L
    val rows = (0 to 7).flatMap { k =>
      Seq(row(0, k, M + k), row(1, k, 2 * (M + k) + 3))
    }
    val df = rows.toDF("datastream_id", "t_us", "v_micro", "iot_id")
    val out = WindowKernels.rollingPairCorr(df, "datastream_id", "t_us",
        "v_micro", "iot_id", bucketUs = B, windowRows = 8, minPairs = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    for (b <- 3L to 7L) out((0L, b)) shouldBe 1000000L
  }
}
