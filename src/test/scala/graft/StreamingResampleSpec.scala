package graft

import graft.ops.WindowKernels
import graft.streaming.StreamingResample
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Streaming LOCF grid == the batch resampleFfill over the same rows
  * restricted to buckets strictly below each stream's open bucket —
  * pinned across micro-batch split points.
  */
class StreamingResampleSpec extends SparkSpec with Matchers {
  import spark.implicits._

  // (iot_id, t_us, result, datastream_id); step 10 => buckets t/10
  private val rows = Seq(
    (1L, 5L, 10.0, 100L),  // ds 100 b0
    (2L, 7L, 11.0, 100L),  // ds 100 b0 later => wins
    (3L, 35L, 44.0, 100L), // ds 100 b3 (fills b1, b2 on arrival)
    (4L, 61L, 50.0, 100L), // ds 100 b6 (finalizes b3, fills b4, b5)
    (5L, 12L, 9.0, 200L),  // ds 200 b1
    (6L, 33L, 8.0, 200L)   // ds 200 b3 (finalizes b1, fills b2)
  )

  private def batchPrefix: Map[(Long, Long), (Double, Boolean)] = {
    val df = rows.toDF("iot_id", "t_us", "result", "datastream_id")
    val full = WindowKernels.resampleFfill(df, "datastream_id", "t_us",
      "result", "iot_id", stepUs = 10L)
    val open = df.groupBy($"datastream_id")
      .agg(max(expr("t_us DIV 10")).as("openb"))
    full.join(open, "datastream_id")
      .filter($"bucket_us" < $"openb" * 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getBoolean(3))).toMap
  }

  /** The LOCF monitor over `mem`, run by `steps`: its sink's rows. */
  private def streamed(steps: MemoryStream[(Long, Long, Double, Long)] => Seq[() => Any])
      : Array[Row] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double, Long)]
    val out = StreamingResample.locfMonitor(
      mem.toDS().toDF("iot_id", "t_us", "result", "datastream_id"),
      "datastream_id", "t_us", "iot_id", "result", stepUs = 10L)
    runMemorySink(out)(steps(mem): _*)
  }

  private def grid(splitAt: Int): Map[(Long, Long), (Double, Boolean)] =
    streamed(twoBatches(_, rows, splitAt)).map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getDouble(2), r.getBoolean(3))).toMap

  test("finalized grid == batch kernel below the open bucket") {
    val expect = batchPrefix
    expect((100L, 0L)) shouldBe ((11.0, false)) // sanity: later obs won b0
    expect((100L, 40L)) shouldBe ((44.0, true))
    grid(splitAt = 6) shouldBe expect // single batch
  }

  test("split point cannot matter (every prefix split)") {
    val expect = batchPrefix
    Seq(1, 2, 3, 4, 5).foreach { at =>
      withClue(s"split at $at: ") { grid(at) shouldBe expect }
    }
  }

  test("late row below the final horizon is dropped, not re-emitted") {
    val got = streamed(mem => Seq(
      () => mem.addData(Seq((1L, 5L, 1.0, 9L), (2L, 25L, 2.0, 9L))),
      () => mem.addData(Seq((3L, 7L, 99.0, 9L))))) // bucket 0: already finalized
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    got shouldBe Map(0L -> 1.0, 10L -> 1.0) // b0 obs + b1 fill, no rewrite
  }
}
