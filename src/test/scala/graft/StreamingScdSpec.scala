package graft

import graft.ops.WindowKernels
import graft.streaming.StreamingScd
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Streaming SCD2 closed intervals == the batch kernel's non-null-to
  * rows over the same data, pinned across micro-batch splits.
  */
class StreamingScdSpec extends SparkSpec with Matchers {
  import spark.implicits._

  // (iot_id, t_us, v, ds)
  private val rows = Seq(
    (1L, 10L, "a", 5L), (2L, 20L, "a", 5L), // [10, 30) a x2
    (3L, 30L, "b", 5L),                     // [30, 45) b x1
    (4L, 45L, "a", 5L), (5L, 50L, "a", 5L), // open: a
    (6L, 10L, "x", 9L), (7L, 12L, "y", 9L)  // ds 9: [10, 12) x, open y
  )

  private def batchClosed: Set[(Long, String, Long, Long, Long)] =
    WindowKernels.scd2Intervals(
        rows.toDF("iot_id", "t_us", "v", "datastream_id"),
        Seq("datastream_id"), col("t_us"), col("iot_id"), col("v"))
      .filter(col("valid_to_us").isNotNull)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet

  /** The SCD2 monitor over `mem`, run by `steps`: its closed intervals. */
  private def streamed(steps: MemoryStream[(Long, Long, String, Long)] => Seq[() => Any])
      : Array[(Long, String, Long, Long, Long)] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Long)]
    val out = StreamingScd.scdMonitor(
      mem.toDS().toDF("iot_id", "t_us", "v", "datastream_id"),
      "datastream_id", "t_us", "iot_id", "v")
    runMemorySink(out)(steps(mem): _*).map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getLong(3), r.getLong(4)))
  }

  test("closed intervals == batch kernel, every split point") {
    val expect = batchClosed
    expect should contain((5L, "a", 10L, 30L, 2L)) // sanity
    (1 to 6).foreach { at =>
      withClue(s"split at $at: ") { streamed(twoBatches(_, rows, at)).toSet shouldBe expect }
    }
  }

  test("same-value re-arrival bumps the open interval, no flicker") {
    val feeds = Seq(
      Seq((1L, 10L, "a", 1L)),
      Seq((2L, 20L, "a", 1L)),  // same value: no emission
      Seq((3L, 30L, "b", 1L)))  // change: closes [10, 30) n=2
    def after(n: Int) = streamed(mem => feeds.take(n).map(f => () => mem.addData(f)))
    after(2) shouldBe empty
    val got = after(3)
    got.length shouldBe 1
    (got(0)._3, got(0)._4, got(0)._5) shouldBe ((10L, 30L, 2L))
  }
}
