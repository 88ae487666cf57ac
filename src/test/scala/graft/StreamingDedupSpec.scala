package graft

import graft.streaming.StreamingDedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.matchers.should.Matchers

case class DocEvent(docId: Long, text: String, ts: java.sql.Timestamp)

/** Streaming ingest dedup: first occurrence passes, later copies are
  * dropped — across micro-batch boundaries (state carries the seen set).
  */
class StreamingDedupSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private def t(minutes: Int) = new java.sql.Timestamp(1700000000000L + minutes * 60000L)

  test("duplicates dropped across micro-batches; first occurrence wins") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocEvent]
    val out = StreamingDedup.withinWatermark(mem.toDF(), "text", "ts", "24 hours")
    val got = runMemorySink(out)(
      () => mem.addData(
        DocEvent(1L, "the quick brown fox", t(0)),
        DocEvent(2L, "The quick  BROWN fox", t(1)), // dup of 1 after normalize
        DocEvent(3L, "something else entirely", t(2))),
      // batch 2: a dup of batch-1 content plus a fresh doc — the state
      // store must remember batch 1's fingerprints
      () => mem.addData(
        DocEvent(4L, "the quick brown fox", t(3)), // dup of 1, later batch
        DocEvent(5L, "genuinely new content here", t(4))))
      .map(_.getAs[Long]("docId")).toSet
    assert(got == Set(1L, 3L, 5L))
  }

  test("watermark-bounded variant dedups within the horizon") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocEvent]
    val out = StreamingDedup.withinWatermark(mem.toDF(), "text", "ts", "2 hours")
    val got = runMemorySink(out)(
      () => mem.addData(DocEvent(1L, "alpha beta gamma", t(0))),
      () => mem.addData(
        DocEvent(2L, "alpha beta  GAMMA", t(30)), // dup, 30 min later
        DocEvent(3L, "fresh document body", t(31))))
      .map(_.getAs[Long]("docId")).toSet
    assert(got == Set(1L, 3L))
  }

  test("stream dedup keeps exactly the batch operator's canonical rows") {
    implicit val sq = spark.sqlContext
    val docs = Seq(
      (1L, "one two three four"), (2L, "one  two THREE four"),
      (3L, "five six seven"), (4L, "five six seven"),
      (5L, "unique tail document")).map { case (i, s) => DocEvent(i, s, t(i.toInt)) }
    val batchCanonical = graft.functions.Dedup.exact(
      docs.toDF(), "docId", "text")
      .filter(!$"is_duplicate").select($"docId")
      .collect().map(_.getLong(0)).toSet
    val mem = MemoryStream[DocEvent]
    val got = runMemorySink(
        StreamingDedup.withinWatermark(mem.toDF(), "text", "ts", "24 hours"))(
      docs.grouped(2).map(g => () => mem.addData(g)).toSeq: _*)
      .map(_.getAs[Long]("docId")).toSet
    assert(got == batchCanonical) // min-id == first-arrival here (ordered feed)
  }

  test("tuneStatefulIngest: commit-cost confs land; dedup parity survives the tuned session") {
    implicit val sq = spark.sqlContext
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      graft.core.Sessions.tuneStatefulIngest(spark, stateParts = 4)
      spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
      spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") shouldBe "false"
      spark.conf.get("spark.sql.streaming.stateStore.rocksdb." +
        "trackTotalNumberOfRows") shouldBe "false"
      // the tuned session must not change WHAT survives — same
      // first-seen-wins result, only cheaper commits
      val mem = MemoryStream[DocEvent]
      val out = StreamingDedup.withinWatermark(mem.toDF(), "text", "ts", "2 hours")
      val got = runMemorySink(out)(
        () => mem.addData(DocEvent(1L, "alpha beta", t(0)), DocEvent(2L, "alpha  BETA", t(1))),
        () => mem.addData(DocEvent(3L, "alpha beta", t(2)), DocEvent(4L, "gamma", t(3))))
        .map(_.getAs[Long]("docId")).toSet
      got shouldBe Set(1L, 4L)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
      spark.conf.set("spark.sql.streaming.stateStore.rocksdb." +
        "trackTotalNumberOfRows", "true")
    }
  }

  // ---- trigger sizing (the commit-cost knob as an operational rule) ----

  test("minBatchRows: the sized batch sustains exactly the target rate") {
    // throughput(n) = n / (n/R + C); at n = minBatchRows the modeled
    // rate must be >= tau (and < tau just below it)
    val R = 144700.0; val C = 3.0 // sf10-shaped constants
    for (tau <- Seq(10000.0, 50000.0, 100000.0, 140000.0)) {
      val n = StreamingDedup.minBatchRows(R, C, tau)
      def thr(m: Double) = m / (m / R + C)
      assert(thr(n.toDouble) >= tau * (1 - 1e-9),
        s"tau=$tau n=$n thr=${thr(n.toDouble)}")
      assert(thr((n - 1).toDouble) < tau * (1 + 1e-6))
    }
  }

  test("minBatchRows: monotone in target, commit cost, and 1/headroom") {
    val R = 100000.0
    val base = StreamingDedup.minBatchRows(R, 2.0, 50000.0)
    assert(StreamingDedup.minBatchRows(R, 2.0, 80000.0) > base)  // higher tau
    assert(StreamingDedup.minBatchRows(R, 4.0, 50000.0) > base)  // pricier commit
    assert(StreamingDedup.minBatchRows(R * 2, 2.0, 50000.0) < base) // more headroom
  }

  test("minBatchRows: target at/above the batch ceiling is refused") {
    intercept[IllegalArgumentException] {
      StreamingDedup.minBatchRows(100000.0, 2.0, 100000.0)
    }
    intercept[IllegalArgumentException] {
      StreamingDedup.minBatchRows(100000.0, 2.0, 120000.0)
    }
  }
}
