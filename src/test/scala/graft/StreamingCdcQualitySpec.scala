package graft

import graft.streaming.{Change, StreamingCdc, StreamingQuality}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Streaming CDC apply == batch last-writer-wins, across micro-batch
  * splits, out-of-order delivery and duplicate replays; streaming
  * quality counters == the batch audit over the same rows.
  */
class StreamingCdcQualitySpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val log: Seq[Change] = Seq(
    Change(1L, 1L, "upsert", 10.0), Change(1L, 3L, "upsert", 30.0),
    Change(2L, 1L, "upsert", 20.0), Change(2L, 2L, "delete", 0.0),
    Change(3L, 5L, "upsert", 50.0), Change(3L, 4L, "delete", 0.0), // out of order
    Change(4L, 1L, "upsert", 40.0), Change(4L, 2L, "delete", 0.0),
    Change(4L, 3L, "upsert", 44.0),
    Change(1L, 3L, "upsert", 30.0) // duplicate replay
  )

  private def batchTruth: Map[Long, (Boolean, Double)] = {
    val w = Window.partitionBy($"key").orderBy($"seq".desc)
    log.toDF().withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .collect().map(r => r.getAs[Long]("key") ->
        (r.getAs[String]("op") == "upsert", r.getAs[Double]("value"))).toMap
  }

  test("streaming apply == batch last-writer-wins across splits and replays") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Change]
    val out = StreamingCdc.applyChanges(mem.toDS())
    // last emission per key: the sink's latest row for it
    val got = runMemorySink(out, "update")(twoBatches(mem, log, 4): _*)
      .map(r => r.getAs[Long]("key") ->
        (r.getAs[Boolean]("present"), r.getAs[Double]("value"))).toMap
    val truth = batchTruth
    got.keySet shouldBe truth.keySet
    truth.foreach { case (k, (present, v)) =>
      got(k)._1 shouldBe present
      if (present) got(k)._2 shouldBe v
    }
    // key 2 must be a tombstone, key 3 survives its stale delete
    got(2L)._1 shouldBe false
    got(3L) shouldBe ((true, 50.0))
  }

  test("streaming violation counters == batch audit over the same rows") {
    implicit val sq = spark.sqlContext
    val rows = (1 to 200).map(i => (i.toLong, if (i % 7 == 0) -1.0 else i * 1.0))
    val rules = Seq(
      ("non_negative", col("v") < 0.0),
      ("under_1000", col("v") > 1000.0))
    val mem = MemoryStream[(Long, Double)]
    val out = StreamingQuality.violationMonitor(
      mem.toDS().toDF("k", "v"), rules)
    val got = runMemorySink(out, "complete")(twoBatches(mem, rows, 97): _*)
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    got("non_negative") shouldBe ((200L, rows.count(_._2 < 0).toLong))
    got("under_1000") shouldBe ((200L, 0L))
  }
}
