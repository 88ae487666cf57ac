package graft

import graft.functions.Sketches
import graft.streaming.StreamingSketch
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.matchers.should.Matchers

/** Streaming HLL register state == the batch sketch over the same rows,
  * across a micro-batch split — the merge is max-per-register, so the
  * split point cannot matter.
  */
class StreamingSketchSpec extends SparkSpec with Matchers {
  import spark.implicits._

  test("streaming register state == batch hllProfile, split across micro-batches") {
    val rows = (1 to 3000).map(i => ("g", s"tok_${i % 1100}")) ++
      (1 to 400).map(i => ("h", s"u_$i"))
    val batch = Sketches.hllProfile(rows.toDF("stratum", "v"),
        Seq("stratum"), $"v").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("hll_zeros"), r.getAs[Long]("hll_denom_q49"),
          r.getAs[Double]("hll_estimate"))).toMap

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val out = StreamingSketch.hllMonitor(mem.toDS().toDF("stratum", "v"),
      "stratum", $"v")
    // last snapshot per stratum = the converged registers
    val got = runMemorySink(out, "update")(twoBatches(mem, rows, 1500): _*)
      .map(r => r.getAs[String]("stratum") ->
        (r.getAs[Long]("hllZeros"), r.getAs[Long]("hllDenomQ49"),
          r.getAs[Double]("hllEstimate"))).toMap
    batch.foreach { case (k, (z, d, e)) =>
      val (gz, gd, ge) = got(k)
      gz shouldBe z
      gd shouldBe d
      // batch rounds to 6 decimals; the stream emits the raw division
      math.abs(ge - e) should be < 1e-5
    }
  }

  test("streaming CMS cells == batch cmsSketch, split across micro-batches") {
    val rows = (1 to 50).flatMap(i => Seq.fill(i)(s"tok_${i % 17}"))
    val batch = Sketches.cmsSketch(rows.map(Tuple1(_)).toDF("t"), $"t")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val out = graft.streaming.StreamingSketch.cmsMonitor(
      mem.toDS().toDF("t"), $"t")
    // last snapshot per cell
    val got = runMemorySink(out, "update")(twoBatches(mem, rows, 600): _*)
      .map(r => (r.getAs[Int]("cmsRow"), r.getAs[Int]("cmsCol").toLong)
        -> r.getAs[Long]("cmsCnt")).toMap
    got.size shouldBe batch.size
    batch.foreach { case (k, v) => got(k) shouldBe v }
  }
}
