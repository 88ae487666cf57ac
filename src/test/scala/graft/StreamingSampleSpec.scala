package graft

import graft.functions.Sampling
import graft.streaming.StreamingSample
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** The 20th streaming twin: fixed-k-per-stratum sampling under
  * continuous arrival — latest emitted version per stratum ==
  * batch fixedKPerStratum over exactly the rows ingested, at every
  * micro-batch split; state bounded by k entries per stratum.
  */
class StreamingSampleSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val rows: Seq[(String, Long)] =
    (0L until 60L).map(i => (if (i % 3 == 0) "en" else "de", i)) ++
      Seq(("en", 0L), ("de", 1L)) // re-ingested duplicates must collapse

  private def batchSel(upTo: Int): Set[(String, Long, Int)] = {
    val df = rows.take(upTo).toDF("lang", "doc_id")
    Sampling.fixedKPerStratum(df.dropDuplicates("lang", "doc_id"),
        col("doc_id"), col("lang"), k = 5)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
          .orderBy(Sampling.hashBucket(col("doc_id"), "graft").asc,
            col("doc_id").asc)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
  }

  test("hashBucketLocal == the Column hashBucket, bit for bit") {
    val df = (0L until 500L).toDF("k")
      .select(col("k"), Sampling.hashBucket(col("k"), "graft").as("hb"))
      .collect()
    df.foreach { r =>
      r.getLong(1) shouldBe Sampling.hashBucketLocal(r.getLong(0).toString,
        "graft")
    }
  }

  /** The sampler over `mem` in update mode, fed `batches` one
    * micro-batch each.
    */
  private def streamed(batches: Seq[(String, Long)]*): Array[Row] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val out = StreamingSample.monitor(
      mem.toDS().toDF("lang", "doc_id"), "lang", "doc_id", k = 5)
    runMemorySink(out, "update")(batches.map(b => () => mem.addData(b)): _*)
  }

  test("latest version per stratum == batch fixedKPerStratum at every " +
    "micro-batch split; state bounded by k") {
    (0 to rows.length by 7).foreach { at =>
      val emitted = (if (at > 0) streamed(rows.take(at), rows.drop(at)) else streamed(rows))
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getLong(4)))
      // latest version per stratum is the selection
      val latest = emitted.groupBy(_._1).toSeq.flatMap { case (_, v) =>
        val mx = v.map(_._5).max
        v.filter(_._5 == mx).toSeq
      }.map(t => (t._1, t._2, t._4)).toSet
      withClue(s"split at $at: ") {
        latest shouldBe batchSel(rows.length)
      }
      // every emission is a full, dense, ≤k selection
      emitted.groupBy(r => (r._1, r._5)).values.foreach { sel =>
        sel.map(_._4).sorted.toSeq shouldBe (1 to sel.size)
        sel.size should be <= 5
      }
    }
  }

  test("an arrival OUTSIDE the current top-k changes nothing and emits " +
    "nothing (version stays put)") {
    // the worst (highest-hash) de key not in the selection, replayed
    val sel = batchSel(rows.length).map(_._2)
    val outside = rows.map(_._2).filterNot(sel.contains)
      .maxBy(k => Sampling.hashBucketLocal(k.toString, "graft"))
    val before = streamed(rows).length
    streamed(rows, Seq(("de", outside), ("en", 0L))).length shouldBe before
  }
}
