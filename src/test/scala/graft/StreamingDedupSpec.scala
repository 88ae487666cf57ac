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
    val out = StreamingDedup(mem.toDF(), "text")
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
    val got = runMemorySink(StreamingDedup(mem.toDF(), "text"))(
      docs.grouped(2).map(g => () => mem.addData(g)).toSeq: _*)
      .map(_.getAs[Long]("docId")).toSet
    assert(got == batchCanonical) // min-id == first-arrival here (ordered feed)
  }

  test("stream substring windows: cross-batch window fps deduped; survivors = distinct fps") {
    implicit val sq = spark.sqlContext
    val docs = Seq(
      (1L, "a b p q r s c d"),            // canonical holder of "p q r s"
      (2L, "e f g h i p q r s j"),        // straddling dup, later batch
      (3L, "fresh words only in here now")
    )
    val mem = MemoryStream[DocEvent]
    val out = StreamingDedup.substringWindows(
        mem.toDF().withColumnRenamed("docId", "doc_id"),
        "doc_id", "text", windowLen = 4)
    val kept = runMemorySink(out)(docs.map { case (i, s) =>
      () => mem.addData(DocEvent(i, s, t(i.toInt)))
    }: _*).map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("s"), r.getAs[String]("fp")))
    // one survivor per distinct window text, corpus-wide
    val batchWins = docs.toDF("doc_id", "text")
    val allFps = graft.functions.Dedup.slidingWindows(
        batchWins, "doc_id", "text", 4)
      .select($"fp").distinct().collect().map(_.getString(0)).toSet
    kept.map(_._3).toSet shouldBe allFps
    kept.length shouldBe allFps.size
    // doc 2's copy of the straddling span lost every window to doc 1
    // (id-ordered arrival: doc 1's batch ran first)
    val doc2Survivors = kept.filter(_._1 == 2L).map(_._2).toSet
    doc2Survivors.intersect(Set(5)) shouldBe Set.empty // offset of "p q r s"
  }

  test("stream passage dedup == batch passageDedup under id-ordered arrival") {
    implicit val sq = spark.sqlContext
    // same dup matrix as PassageOpsSpec: cross-doc dup, emptied doc,
    // within-doc repeat
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d x y z w"),
      (3L, "e f g h e f g h"), (4L, "q r s t q r s t"))
    val batchDf = docs.toDF("doc_id", "text")
    val mem = MemoryStream[DocEvent]
    val out = StreamingDedup.passages(mem.toDF().withColumnRenamed("docId", "doc_id"),
        "doc_id", "text", passageLen = 4)
    // one doc per batch: cross-batch state does the dedup work
    val kept = runMemorySink(out)(docs.map { case (i, s) =>
      () => mem.addData(DocEvent(i, s, t(i.toInt)))
    }: _*)
    val streamKept = spark.createDataFrame(java.util.Arrays.asList(kept: _*), out.schema)
      .select($"doc_id", $"pidx", $"passage")
    val rebuilt = graft.functions.TextAnalysis.reassemblePassages(
      graft.functions.TextAnalysis.passages(batchDf, "doc_id", "text", 4),
      streamKept)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val batch = graft.functions.Dedup.passageDedup(batchDf, "doc_id", "text", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(rebuilt == batch)
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

  test("triggerIntervalSec: the interval keeps up with ingest") {
    // stability: processing time of the sized batch fits in the interval
    // whenever ingest <= target
    val R = 144700.0; val C = 3.0; val tau = 50000.0
    for (ingest <- Seq(10000.0, 30000.0, 50000.0)) {
      val interval = StreamingDedup.triggerIntervalSec(ingest, R, C, tau)
      val n = StreamingDedup.minBatchRows(R, C, tau).toDouble
      val procSec = n / R + C
      assert(interval >= procSec * (1 - 1e-9),
        s"ingest=$ingest interval=$interval proc=$procSec")
    }
  }
}
