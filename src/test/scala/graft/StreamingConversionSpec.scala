package graft

import graft.ops.WindowKernels
import graft.streaming.StreamingConversion
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Streaming conversion monitor: resolved verdicts equal the batch
  * kernel's (converted, dt) for every attempt the stream has decided,
  * at every micro-batch split point.
  */
class StreamingConversionSpec extends SparkSpec with Matchers {
  import spark.implicits._

  // (iot_id, t_us, typ, ds); window 10
  private val rows = Seq(
    (1L, 10L, "view", 5L),   // click at 15: converted dt 5
    (2L, 15L, "click", 5L),
    (3L, 20L, "view", 5L),   // next click at 40 (> 30): timeout at t>30
    (4L, 32L, "other", 5L),  // the witness that passes 20+10
    (5L, 40L, "click", 5L),
    (6L, 50L, "view", 5L),   // unresolved: nothing after 50+10
    (7L, 8L, "view", 9L),    // other stream: click at 8+2=10, dt 2
    (8L, 10L, "click", 9L)
  )

  private def expected: Set[(Long, Long, Boolean, Option[Long])] = {
    // batch kernel verdicts for the RESOLVED attempts:
    // resolved = converted in window, or any event after t+window
    val batch = WindowKernels.conversionTimeout(
        rows.toDF("iot_id", "t_us", "typ", "ds"), Seq("ds"),
        col("t_us"), col("iot_id"), $"typ" === "view", $"typ" === "click",
        windowUs = 10L, idCol = "iot_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
    batch.flatMap { case (ds, id, t, dt, conv) =>
      val witness = rows.exists { case (_, rt, _, rds) =>
        rds == ds && rt > t + 10L
      }
      if (conv) Some((ds, id, true, dt))
      else if (witness) Some((ds, id, false, None))
      else None // unresolved: the stream must stay silent
    }.toSet
  }

  private def streamed(splitAt: Int): Set[(Long, Long, Boolean, Option[Long])] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Long)]
    val out = StreamingConversion.monitor(
      mem.toDS().toDF("iot_id", "t_us", "typ", "ds"),
      "ds", "t_us", "iot_id", $"typ" === "view", $"typ" === "click",
      "iot_id", windowUs = 10L)
    runMemorySink(out)(twoBatches(mem, rows, splitAt): _*)
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet
  }

  test("batch-derived expectation sanity") {
    expected shouldBe Set(
      (5L, 1L, true, Some(5L)),
      (5L, 3L, false, None),
      (9L, 7L, true, Some(2L)))
  }

  test("resolved verdicts == batch kernel at every split point") {
    val expect = expected
    (0 to rows.length).foreach { at =>
      withClue(s"split at $at: ") { streamed(at) shouldBe expect }
    }
  }
}
