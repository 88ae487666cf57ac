package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.matchers.should.Matchers

/** The cleanup contract of [[SparkSpec.runMemorySink]], which every
  * memory-sink stream == batch spec relies on.
  */
class MemorySinkRunnerSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private def sinkViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("a step that throws still stops the query; the next call's sink name is fresh") {
    implicit val sq = spark.sqlContext
    val before = sinkViews
    val failing = MemoryStream[Int]
    val e = intercept[IllegalStateException] {
      runMemorySink(failing.toDS())(
        () => failing.addData(1, 2),
        () => throw new IllegalStateException("step failed"))
    }
    e.getMessage shouldBe "step failed"
    spark.streams.active shouldBe empty
    val failedSink = sinkViews -- before
    failedSink.size shouldBe 1
    // the first step's batch reached the failed run's own sink
    spark.table(failedSink.head).as[Int].collect().sorted shouldBe Array(1, 2)

    val next = MemoryStream[Int]
    val rows = runMemorySink(next.toDS())(() => next.addData(7))
    rows.map(_.getInt(0)) shouldBe Array(7)
    spark.streams.active shouldBe empty
    (sinkViews -- before -- failedSink).size shouldBe 1
  }
}
