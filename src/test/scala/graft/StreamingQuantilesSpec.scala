package graft

import graft.functions.Sketches
import graft.streaming.StreamingQuantiles
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.matchers.should.Matchers

/** Streaming exact percentiles == the batch operator over the rows
  * seen, at every micro-batch split (the histogram state is additive).
  */
class StreamingQuantilesSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val rnd = new scala.util.Random(77)
  private val rows: Seq[(String, Long)] =
    Seq.fill(400)(("g", rnd.nextInt(50).toLong)) ++
      Seq.fill(60)(("h", (rnd.nextInt(1000) - 500).toLong))

  private def batchRef: Map[String, (Long, Long, Long)] =
    Sketches.exactQuantiles(rows.toDF("g", "v"), Seq("g"), $"v", Seq(50, 90))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  test("last snapshot per stratum == batch exactQuantiles, any split") {
    val expect = batchRef
    Seq(1, 137, 300, 459).foreach { at =>
      implicit val sq = spark.sqlContext
      val mem = MemoryStream[(String, Long)]
      val out = StreamingQuantiles.monitor(
        mem.toDS().toDF("g", "v"), "g", $"v")
      // last snapshot per stratum: the sink's latest row for it
      val got = runMemorySink(out, "update")(twoBatches(mem, rows, at): _*)
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      withClue(s"split at $at: ") { got shouldBe expect }
    }
  }
}
