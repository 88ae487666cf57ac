package graft

import graft.streaming.StreamingTransitions
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Streaming transition counts: latest emission per (stream, pair),
  * summed across streams, equals the batch matrix over the CLOSED
  * transitions — at every micro-batch split point.
  */
class StreamingTransitionsSpec extends SparkSpec with Matchers {
  import spark.implicits._

  // (iot_id, t_us, typ, ds)
  private val rows = Seq(
    (1L, 10L, "view", 5L), (2L, 20L, "click", 5L),
    (3L, 30L, "view", 5L), (4L, 40L, "click", 5L),
    (5L, 50L, "buy", 5L),
    (6L, 10L, "view", 9L), (7L, 20L, "view", 9L)
  )

  // batch reference: closed transitions only (no END rows)
  private def batchClosed: Map[(String, String), Long] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"ds").orderBy($"t_us", $"iot_id")
    rows.toDF("iot_id", "t_us", "typ", "ds")
      .withColumn("nxt", lead($"typ", 1).over(w))
      .filter($"nxt".isNotNull)
      .groupBy($"typ", $"nxt").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
  }

  private def streamed(splitAt: Int): Map[(String, String), Long] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Long)]
    val out = StreamingTransitions.monitor(
      mem.toDS().toDF("iot_id", "t_us", "typ", "ds"),
      "ds", "t_us", "iot_id", "typ")
    // latest emission per (stream, pair), then sum across streams
    runMemorySink(out, "update")(twoBatches(mem, rows, splitAt): _*)
      .map(r => (r.getAs[Long]("datastream_id"), r.getAs[String]("from_type"),
        r.getAs[String]("to_type")) -> r.getAs[Long]("n")).toMap
      .groupMapReduce { case ((_, from, to), _) => (from, to) }(_._2)(_ + _)
  }

  test("batch reference sanity") {
    batchClosed shouldBe Map(
      ("view", "click") -> 2L, ("click", "view") -> 1L,
      ("click", "buy") -> 1L, ("view", "view") -> 1L)
  }

  test("summed latest emissions == batch closed matrix, every split") {
    val expect = batchClosed
    (0 to rows.length).foreach { at =>
      withClue(s"split at $at: ") { streamed(at) shouldBe expect }
    }
  }
}
