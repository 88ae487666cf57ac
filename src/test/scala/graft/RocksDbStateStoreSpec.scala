package graft

import graft.core.Sessions
import graft.streaming.{StabEvent, StatefulStabilization, StreamingDedup}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.matchers.should.Matchers

/** The production state store lifecycle: all streaming suites already run
  * under the RocksDB provider (TestSession), so this suite pins the two
  * things the shared runs don't — that the provider is REALLY RocksDB
  * (via its per-operator custom metrics), and that a stopped query
  * restarted from its checkpoint resumes with its state intact (a
  * duplicate first seen BEFORE the restart is still suppressed after).
  */
class RocksDbStateStoreSpec extends SparkSpec with Matchers {
  import spark.implicits._

  test("streaming queries run on the RocksDB provider (custom metrics present)") {
    spark.conf.get("spark.sql.streaming.stateStore.providerClass") shouldBe
      Sessions.RocksDbProvider
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = StreamingDedup(mem.toDS().toDF("doc_id", "text"), "text")
    var ops = Array.empty[org.apache.spark.sql.streaming.StateOperatorProgress]
    val rows = runMemorySink(out)(
      () => mem.addData((1L, "alpha"), (2L, "alpha"), (3L, "beta")),
      // the batch's progress, read from the runner's (the one active) query
      () => ops = spark.streams.active.head.lastProgress.stateOperators)
    ops should not be empty
    // RocksDB-only metrics prove which provider served the batch
    val metricNames = ops.flatMap(_.customMetrics.keySet.toArray).map(_.toString)
    metricNames.exists(_.toLowerCase.contains("rocksdb")) shouldBe true
    rows.length shouldBe 2
  }

  test("restart from checkpoint: dedup state survives, pre-restart dup still dropped") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("rocks_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val out = StreamingDedup(mem.toDS().toDF("doc_id", "text"), "text")

    // memory sink can't recover from a checkpoint — use the file sink
    val outDir = java.nio.file.Files.createTempDirectory("rocks_out").toString
    def start() = out.writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", dir).outputMode("append").start()
    def seen(): Set[Long] =
      spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet

    val q1 = start()
    try {
      mem.addData((1L, "doc one"), (2L, "doc two"))
      q1.processAllAvailable()
    } finally q1.stop()
    seen() shouldBe Set(1L, 2L)

    // new data while the query is down: a dup of doc one + a fresh doc
    mem.addData((3L, "doc one"), (4L, "doc three"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // only the fresh doc joined: the restarted store remembered "doc one"
    seen() shouldBe Set(1L, 2L, 4L)
  }

  test("restart from checkpoint: flatMapGroupsWithState custom state survives") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("rocks_ckpt_fmgs").toString
    val conf = Map(7L -> graft.core.StabilizationConf(7L, 0.0, 20.0,
      dtStabilizationSec = 7200L, maxAllowedDowntimeSec = 3600L))
    def hours(h: Double): Long = (h * 3600 * 1e6).toLong
    val mem = MemoryStream[StabEvent]
    val out = StatefulStabilization(mem.toDS(), conf)

    val outDir = java.nio.file.Files.createTempDirectory("rocks_fmgs_out").toString
    def start() = out.writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", dir).outputMode("append").start()
    def seen(): Set[Long] =
      spark.read.parquet(outDir).select("iotId").as[Long].collect().toSet

    val q1 = start()
    try {
      mem.addData(StabEvent(7L, 10L, hours(0.0), 1.0),
        StabEvent(7L, 20L, hours(1.0), 1.0))
      q1.processAllAvailable()
    } finally q1.stop()
    seen() shouldBe Set(10L, 20L)

    // post-restart rows only classify if the recovered group state
    // still carries the last-event anchor from before the restart
    mem.addData(StabEvent(7L, 30L, hours(1.5), 1.0),
      StabEvent(7L, 40L, hours(2.0), 1.0))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    seen() shouldBe Set(10L, 20L, 30L, 40L)
  }

  test("restart from checkpoint: pair-correlation alignment state survives") {
    implicit val sq = spark.sqlContext
    val B = 1000000L
    val ckpt = java.nio.file.Files.createTempDirectory("rocks_ckpt_corr").toString
    val outDir = java.nio.file.Files.createTempDirectory("rocks_corr_out").toString
    val mem = MemoryStream[(Long, Long, Long, Long)]
    val out = graft.streaming.StreamingCorr.monitor(
      mem.toDS().toDF("d", "t_us", "v_micro", "iot_id"),
      "d", "t_us", "v_micro", "iot_id",
      bucketUs = B, windowRows = 3, minPairs = 2)
    def start() = out.writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    def rows() = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Long.MinValue else r.getLong(3))).toSet
    def x(b: Long) = (0L, b * B + 1, (b + 1) * 10000L, b)
    def y(b: Long) = (1L, b * B + 2, (2 * (b + 1) + 3) * 10000L, 100 + b)

    // before restart: x at buckets 0-2, y at 0-1 -> aligned 0 (n=1,
    // below minPairs) and 1 (n=2, emits +1e6); x's bucket-2 rep PENDS
    val q1 = start()
    try {
      mem.addData(x(0), x(1), x(2), y(0), y(1))
      q1.processAllAvailable()
    } finally q1.stop()
    rows() shouldBe Set((1L, 2L, 1000000L))

    // after restart: y's bucket 2 + both sides' bucket 3 arrive. The
    // bucket-2 emission needs BOTH the recovered pending x-rep AND the
    // recovered aligned tail (buckets 0-1) for its 3-bucket window
    mem.addData(y(2), x(3), y(3))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    rows() shouldBe Set((1L, 2L, 1000000L), (2L, 3L, 1000000L),
      (3L, 3L, 1000000L))
  }

  test("restart from checkpoint: event-time TIMER fires after recovery") {
    implicit val sq = spark.sqlContext
    def us(sec: Long) = sec * 1000000L
    val ckpt = java.nio.file.Files.createTempDirectory("rocks_ckpt_timer").toString
    val outDir = java.nio.file.Files.createTempDirectory("rocks_timer_out").toString
    val mem = MemoryStream[(Long, Long, Long)]
    val out = graft.streaming.StreamingGaps.monitor(
      mem.toDS().toDF("iot_id", "t_us", "ds"),
      "ds", "t_us", "iot_id", thresholdUs = us(100))
    def start() = out.writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    def rows() = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(4))).toSet

    // before restart: both streams report once; no watermark progress yet
    val q1 = start()
    try {
      mem.addData((1L, us(10), 5L), (2L, us(10), 9L))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(rows().isEmpty, s"nothing should emit yet: ${rows()}")

    // after restart: only stream 9 speaks — the open alert for stream 5
    // can only fire if BOTH its lastT state and its registered timer
    // were recovered from the checkpoint
    mem.addData((3L, us(300), 9L))
    val q2 = start()
    try {
      q2.processAllAvailable()
      // a second no-op advance so the timer batch definitely ran
      mem.addData((4L, us(310), 9L))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(rows().contains((5L, us(10), -1L, true)),
      s"recovered timer must fire the open alert: ${rows()}")

    // and the recovered lastT closes the gap exactly when data returns
    mem.addData((5L, us(600), 5L))
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(rows().contains((5L, us(10), us(600), false)), s"${rows()}")
  }
}
