package graft

import graft.ops.WindowKernels
import graft.streaming.StreamingGaps
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.matchers.should.Matchers

/** Streaming gap monitor: closed gaps == batch gapEvents at every
  * micro-batch split; the open-gap alert fires exactly once when the
  * event-time watermark (advanced by OTHER streams' data) proves a
  * silence — the one behavior no data-triggered monitor can express.
  */
class StreamingGapsSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val thr = 100L * 1000000L // 100 s in µs
  private def us(sec: Long) = sec * 1000000L

  // (iot_id, t_us, ds): stream 5 has gaps 200s (10->210) and 150s
  // (240->390); stream 9 is steady then goes quiet 240s (160->400)
  private val rows = Seq(
    (1L, us(10), 5L), (2L, us(210), 5L), (3L, us(240), 5L),
    (4L, us(390), 5L),
    (5L, us(10), 9L), (6L, us(60), 9L), (7L, us(110), 9L),
    (8L, us(160), 9L), (9L, us(400), 9L)
  )

  private def batch: Set[(Long, Long, Long, Long)] =
    WindowKernels.gapEvents(rows.toDF("iot_id", "t_us", "ds"),
        "ds", "t_us", "iot_id", thr)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def streamed(splitAt: Int): (Set[(Long, Long, Long, Long)],
      Seq[(Long, Long)]) = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)]
    // generous watermark delay: the split points feed streams out of
    // chronological order, and a tight watermark would (correctly)
    // drop them as late — this test isolates the state logic
    val out = StreamingGaps.monitor(
      mem.toDS().toDF("iot_id", "t_us", "ds"),
      "ds", "t_us", "iot_id", thr, watermarkDelay = "600 seconds")
    val all = runMemorySink(out)(twoBatches(mem, rows, splitAt): _*)
    val closed = all.filter(!_.getBoolean(4))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val open = all.filter(_.getBoolean(4))
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    (closed, open)
  }

  test("batch reference: exactly the two planted gaps") {
    batch shouldBe Set(
      (5L, us(10), us(210), us(200)), (5L, us(240), us(390), us(150)),
      (9L, us(160), us(400), us(240)))
  }

  test("closed gaps: stream == batch at every split; no spurious alerts") {
    val expect = batch
    (0 to rows.length).foreach { at =>
      val (closed, open) = streamed(at)
      withClue(s"split at $at: ") {
        closed shouldBe expect
        // every open alert must belong to a silence that data later
        // closed or that extends past the final watermark
        open.foreach { case (ds, startUs) =>
          assert(Seq(5L, 9L).contains(ds) &&
            rows.exists(r => r._3 == ds && r._2 == startUs),
            s"alert from nowhere: ($ds, $startUs)")
        }
      }
    }
  }

  test("open-gap alert: watermark from other streams proves the silence") {
    // the sink after the first n feeds, each feed its own micro-batch
    def sinkAfter(n: Int): Array[Row] = {
      implicit val sq = spark.sqlContext
      val mem = MemoryStream[(Long, Long, Long)]
      val out = StreamingGaps.monitor(
        mem.toDS().toDF("iot_id", "t_us", "ds"),
        "ds", "t_us", "iot_id", thr)
      runMemorySink(out)(Seq(
        // stream 5 reports once at t=10s; stream 9 keeps reporting
        Seq((1L, us(10), 5L), (2L, us(10), 9L)),
        // watermark moves to 50s: below 10s+100s threshold, no alert
        Seq((3L, us(50), 9L)),
        // watermark moves to 300s: silence of stream 5 proven -> ONE alert
        Seq((4L, us(300), 9L)),
        // and it does not repeat on further watermark advance
        Seq((5L, us(500), 9L)),
        // when data returns, the gap closes with exact bounds
        Seq((6L, us(600), 5L))
      ).take(n).map(feed => () => mem.addData(feed)): _*)
    }
    assert(!sinkAfter(2).exists(_.getBoolean(4)))
    // (stream 9's own sparse heartbeats produce genuine closed gaps
    // and possibly its own alert — assertions below isolate stream 5)
    def openFor5(sink: Array[Row]) = sink
      .filter(r => r.getBoolean(4) && r.getLong(0) == 5L)
      .map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2), r.isNullAt(3)))
    openFor5(sinkAfter(4)).toSeq shouldBe Seq((5L, us(10), true, true))
    val all = sinkAfter(5)
    openFor5(all).toSeq shouldBe Seq((5L, us(10), true, true)) // no repeat
    val closed = all.filter(r => !r.getBoolean(4) && r.getLong(0) == 5L)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    closed.toSeq shouldBe Seq((5L, us(10), us(600), us(590)))
  }
}
