package graft

import graft.ops.WindowKernels
import graft.streaming.StreamingCorr
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.matchers.should.Matchers

/** Streaming rolling pair-correlation == batch rollingPairCorr at every
  * micro-batch split: bucket alignment, the emit-when-both-sides-passed
  * rule and the window arithmetic must chain across batches exactly.
  */
class StreamingCorrSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val B = 1000000L

  // (d, t_us, v_micro, iot_id): pair 0 = streams (0, 1) with y = 2x + 3
  // for 6 buckets then two anti-phase buckets; pair 1 = streams (2, 3)
  // where y SKIPS bucket 2 (never aligns — pruned) and lags x's arrival.
  // In-order per stream; interleaved across streams.
  private val rows: Seq[(Long, Long, Long, Long)] = {
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
    p0 ++ p1x ++ p1y
  }

  private def batch: Set[(Long, Long, Long, Option[Long])] =
    WindowKernels.rollingPairCorr(
        rows.toDF("datastream_id", "t_us", "v_micro", "iot_id"),
        "datastream_id", "t_us", "v_micro", "iot_id",
        bucketUs = B, windowRows = 8, minPairs = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet

  /** The monitor over `mem`, run by `steps`: its sink's rows. */
  private def streamed(steps: MemoryStream[(Long, Long, Long, Long)] => Seq[() => Any])
      : Array[Row] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long)]
    val out = StreamingCorr.monitor(
      mem.toDS().toDF("datastream_id", "t_us", "v_micro", "iot_id"),
      "datastream_id", "t_us", "v_micro", "iot_id",
      bucketUs = B, windowRows = 8, minPairs = 4)
    runMemorySink(out)(steps(mem): _*)
  }

  test("batch reference: affine prefix scores exactly +1e6; the skipped " +
    "bucket never aligns") {
    val b = batch
    // pair 0, bucket 3: four aligned affine buckets -> +1e6
    assert(b.contains((0L, 3L, 4L, Some(1000000L))))
    // pair 1's bucket 2 never aligns: windows count only aligned buckets
    val p1 = b.filter(_._1 == 1L)
    p1.map(_._2) shouldBe Set(4L, 5L)  // 4th aligned bucket is b=4
    assert(b.size > 4)
  }

  test("stream == batch at every micro-batch split point") {
    val expect = batch
    (0 to rows.length).foreach { at =>
      val got = streamed(twoBatches(_, rows, at)).map(r => (r.getLong(0),
        r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
      withClue(s"split at $at: ") { got shouldBe expect }
    }
  }

  test("replayed and out-of-order rows are dropped by the side high-water") {
    val got = streamed(mem => Seq(
      () => mem.addData(rows),
      // replay the whole feed plus a stale poison row: all at-or-before
      // the per-side high-waters -> no new emissions
      () => mem.addData(rows ++ Seq((0L, 2L * B + 10, 999999999L, 99L)))))
    got.map(r => (r.getLong(0), r.getLong(1))).groupBy(identity)
      .foreach { case (_, v) => v.length shouldBe 1 }
    got.length shouldBe batch.size
  }

  test("a one-sided pair's pending state is hard-capped at maxSkewBuckets") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val cap = 64
    val st = TestGroupState.create[graft.streaming.CorrState](
      org.apache.spark.api.java.Optional.empty(), GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty(), false)
    // x side alone: 500 buckets with a silent partner — before the cap
    // this map grew one entry per bucket forever
    val xs = (0L until 500L).map(b =>
      graft.streaming.CorrIn(0L, b * B + 1, b, (b + 1) * 10000L))
    val out = StreamingCorr.step(B, 8, 4, maxSkewBuckets = cap)(
      0L, xs.iterator, st).toList
    out shouldBe empty
    val s = st.get
    s.px.size shouldBe cap
    s.px.keySet.min shouldBe (500L - cap) // the NEWEST buckets survive
    s.py shouldBe Map.empty
    // a partner that catches up INSIDE the kept window still aligns
    val ys = (460L until 500L).map(b =>
      graft.streaming.CorrIn(1L, b * B + 2, b, (2 * (b + 1) + 3) * 10000L))
    val out2 = StreamingCorr.step(B, 8, 4, maxSkewBuckets = cap)(
      0L, ys.iterator, st).toList
    out2.nonEmpty shouldBe true
    // affine y = 2x + 3 across the aligned tail -> exact +1e6
    out2.drop(3).foreach { case (_, _, _, r2) => r2 shouldBe Some(1000000L) }
  }
}
