package graft

import graft.ops.WindowKernels
import graft.streaming.StreamingCusum
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.matchers.should.Matchers

/** Streaming CUSUM == batch cusumFixed at every micro-batch split:
  * the two-long recursion state must chain across batches exactly as
  * the batch window algebra computes it in one pass.
  */
class StreamingCusumSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val (mu, slack, h) = (100L, 10L, 300L)

  // (iot_id, t_us, v_micro, ds): stream 5 drifts high then recovers;
  // stream 9 stays centered (never alarms)
  private val rows = Seq(
    (1L, 10L, 100L, 5L), (2L, 20L, 250L, 5L), (3L, 30L, 260L, 5L),
    (4L, 40L, 270L, 5L), (5L, 50L, 100L, 5L), (6L, 60L, 90L, 5L),
    (7L, 10L, 95L, 9L), (8L, 20L, 105L, 9L), (9L, 30L, 100L, 9L)
  )

  private def batch: Map[Long, (Long, Long, Boolean)] =
    WindowKernels.cusumFixed(
        rows.toDF("iot_id", "t_us", "v_micro", "ds"),
        "ds", "t_us", "v_micro", "iot_id", mu, slack, h)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toMap

  /** The monitor over `mem`, run by `steps`: iot_id -> (s_pos, s_neg, alarm). */
  private def streamed(steps: MemoryStream[(Long, Long, Long, Long)] => Seq[() => Any])
      : Map[Long, (Long, Long, Boolean)] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long)]
    val out = StreamingCusum.monitor(
      mem.toDS().toDF("iot_id", "t_us", "v_micro", "ds"),
      "ds", "t_us", "v_micro", "iot_id", mu, slack, h)
    runMemorySink(out)(steps(mem): _*)
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
  }

  test("batch reference: drift alarms, centered stream never does") {
    val b = batch
    // stream 5: sp after rows 2-4 = 140, 290, 450 -> alarm on row 4
    b(2L) shouldBe ((140L, 0L, false))
    b(4L) shouldBe ((450L, 0L, true))
    // recovery: 450 + (100-110) = 440, still above h
    b(5L) shouldBe ((440L, 0L, true))
    Seq(7L, 8L, 9L).foreach(i => b(i)._3 shouldBe false)
  }

  test("stream == batch at every micro-batch split point") {
    val expect = batch
    (0 to rows.length).foreach { at =>
      withClue(s"split at $at: ") { streamed(twoBatches(_, rows, at)) shouldBe expect }
    }
  }

  test("late duplicate and out-of-order rows are dropped, state intact") {
    val stream5 = rows.filter(_._4 == 5L)
    val got = streamed(mem => Seq(
      () => mem.addData(stream5.take(4)),
      // replayed row 4 and an older-timestamp row: both must be ignored
      () => mem.addData(Seq((4L, 40L, 270L, 5L), (99L, 15L, 999L, 5L))),
      () => mem.addData(stream5.drop(4))))
    got.keySet shouldBe Set(1L, 2L, 3L, 4L, 5L, 6L)
    got(5L) shouldBe ((440L, 0L, true))
    got(6L) shouldBe ((420L, 0L, true))
  }
}
