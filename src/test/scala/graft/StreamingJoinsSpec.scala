package graft

import java.sql.Timestamp

import graft.streaming.StreamingJoins
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.matchers.should.Matchers

/** Watermarked stream-stream attribution join: inner-join emissions
  * equal the batch join over the same rows at every split point.
  */
class StreamingJoinsSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  // (user_id, id, ts-seconds)
  private val views = Seq((1L, 10L, 100L), (1L, 11L, 500L), (2L, 20L, 100L))
  private val clicks = Seq(
    (1L, 90L, 150L),  // within 300 s of view 10
    (1L, 91L, 550L),  // within 300 s of view 11 (not 10)
    (2L, 92L, 450L),  // 350 s after view 20: outside the window
    (3L, 93L, 100L))  // no view at all

  private def timed(rows: Seq[(Long, Long, Long)]) =
    rows.map { case (u, i, t) => (u, i, ts(t)) }

  private def toDf(rows: Seq[(Long, Long, Long)]) = timed(rows).toDF("user_id", "id", "ts")

  private def batchExpected: Set[(Long, Long, Long, Long)] =
    StreamingJoins.attributionJoin(toDf(views), toDf(clicks), windowSec = 300L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

  test("batch sanity: in-window pairs only, per user") {
    batchExpected shouldBe Set(
      (1L, 10L, 90L, 50000000L),
      (1L, 11L, 91L, 50000000L))
  }

  test("streaming inner join == batch at every split point") {
    val expect = batchExpected
    Seq(0, 1, 2, 3).foreach { at =>
      implicit val sq = spark.sqlContext
      val vMem = MemoryStream[(Long, Long, Timestamp)]
      val cMem = MemoryStream[(Long, Long, Timestamp)]
      val out = StreamingJoins.attributionJoin(
        vMem.toDS().toDF("user_id", "id", "ts"),
        cMem.toDS().toDF("user_id", "id", "ts"), windowSec = 300L)
      val got = runMemorySink(out)(
        Seq(() => vMem.addData(timed(views))) ++ twoBatches(cMem, timed(clicks), at): _*)
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      withClue(s"split at $at: ") { got shouldBe expect }
    }
  }
}
