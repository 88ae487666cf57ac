package graft

import graft.functions.Retrieval
import graft.streaming.StreamingRetrieval
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Streaming term-stat state == the batch inverted index over the same
  * docs, across a micro-batch split — folds are additive, so the split
  * point cannot matter.
  */
class StreamingRetrievalSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private def docs: Seq[(Long, String)] = Seq(
    (0L, "red fox jumps over the lazy dog"),
    (1L, "red fox jumps again and again red fox jumps"),
    (2L, "the lazy dog sleeps"),
    (3L, "red fox"),
    (4L, "red fox jumps red fox jumps red fox jumps"),
    (5L, "one more lazy dog here")
  )

  /** The term-stat monitor over `mem` in update mode, run by `steps`. */
  private def streamed(steps: MemoryStream[(Long, String)] => Seq[() => Any]): Array[Row] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = StreamingRetrieval.termStatsMonitor(
      mem.toDS().toDF("doc_id", "text"), "doc_id", "text")
    runMemorySink(out, "update")(steps(mem): _*)
  }

  test("streaming df/cf == batch postings, split across micro-batches") {
    // batch truth: df = docs containing term, cf = total occurrences
    val batch = docs.toDF("doc_id", "text")
      .select(col("doc_id"), explode(Retrieval.bigramTerms(col("text"))).as("term"))
      .groupBy("term")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("cf"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    // last snapshot per term: the sink's latest row for it
    val got = streamed(twoBatches(_, docs, 3))
      .map(r => r.getAs[String]("term") -> (r.getAs[Long]("df"), r.getAs[Long]("cf"))).toMap
    got.keySet shouldBe batch.keySet
    batch.foreach { case (t, dc) => got(t) shouldBe dc }
  }

  test("a term seen in both batches accumulates, not resets") {
    val rows = streamed(mem => Seq(
      () => mem.addData(Seq((0L, "a b a b"))),
      () => mem.addData(Seq((1L, "a b")))))
      .filter(_.getAs[String]("term") == "a b").sortBy(_.getLong(1))
    // snapshot after batch 1: df=1 cf=2; after batch 2: df=2 cf=3
    rows.map(r => (r.getLong(1), r.getLong(2))).toSeq shouldBe
      Seq((1L, 2L), (2L, 3L))
  }
}
