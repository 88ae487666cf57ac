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

  private def t(minutes: Int) = new java.sql.Timestamp(1700000000000L + minutes * 60000L)

  /** The dedup StreamBench runs: first-seen-wins within a 1-hour horizon. */
  private def dedup(mem: MemoryStream[(Long, String, java.sql.Timestamp)]) =
    StreamingDedup.withinWatermark(mem.toDS().toDF("doc_id", "text", "ts"),
      "text", "ts", "1 hour")

  test("streaming queries run on the RocksDB provider (custom metrics present)") {
    spark.conf.get("spark.sql.streaming.stateStore.providerClass") shouldBe
      Sessions.RocksDbProvider
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = dedup(mem)
    var ops = Array.empty[org.apache.spark.sql.streaming.StateOperatorProgress]
    val rows = runMemorySink(out)(
      () => mem.addData((1L, "alpha", t(0)), (2L, "alpha", t(1)), (3L, "beta", t(2))),
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
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = dedup(mem)

    // memory sink can't recover from a checkpoint — use the file sink
    val outDir = java.nio.file.Files.createTempDirectory("rocks_out").toString
    def start() = out.writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", dir).outputMode("append").start()
    def seen(): Set[Long] =
      spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet

    val q1 = start()
    try {
      mem.addData((1L, "doc one", t(0)), (2L, "doc two", t(1)))
      q1.processAllAvailable()
    } finally q1.stop()
    seen() shouldBe Set(1L, 2L)

    // new data while the query is down: a dup of doc one + a fresh doc
    mem.addData((3L, "doc one", t(2)), (4L, "doc three", t(3)))
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
}
