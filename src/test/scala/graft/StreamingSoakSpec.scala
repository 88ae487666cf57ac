package graft

import graft.streaming.StreamingDedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Long-run streaming soak — the one axis the split-invariance and
  * restart specs don't exercise: many micro-batches of WALL-CLOCK
  * feeding on the RocksDB provider with aggressive snapshot/compaction
  * intervals, asserting the state-size telemetry PLATEAUS at the
  * watermark bound instead of growing with history, and
  * that a mid-soak restart recovers both state and telemetry.
  *
  * Duration scales with GRAFT_SOAK_SECONDS (default 45 s — dozens of
  * micro-batches and several forced snapshot compactions at test
  * cadence; set 1800+ for the full soak whose numbers BASELINE.md
  * records). The assertions are cadence-independent: they compare the
  * LAST-third state plateau against the feed volume, not absolute
  * times.
  */
class StreamingSoakSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val soakSeconds =
    sys.env.getOrElse("GRAFT_SOAK_SECONDS", "45").toInt

  /** Aggressive state-store maintenance for the duration of `body`:
    * snapshot every 2 deltas (vs default 10) so the soak exercises the
    * changelog→snapshot compaction path many times, not zero times.
    */
  private def withAggressiveMaintenance[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.minDeltasForSnapshot"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("watermarked dedup soak: state plateaus at the horizon, a " +
    "mid-soak restart recovers, history never accumulates") {
    withAggressiveMaintenance {
      implicit val sq = spark.sqlContext
      val mem = MemoryStream[(Long, String, Long)]
      val src = mem.toDS().toDF("doc_id", "text", "ts_s")
        .withColumn("event_time", timestamp_seconds(col("ts_s")))
      // horizon 60 event-seconds; the feed advances 10 event-seconds
      // per micro-batch, so state must hold ~6 batches of fingerprints
      // regardless of how many hundreds of batches have passed
      val out = StreamingDedup.withinWatermark(
        src, "text", "event_time", "60 seconds")
      val ckpt = java.nio.file.Files.createTempDirectory("soak_ckpt").toString
      val sink = java.nio.file.Files.createTempDirectory("soak_out").toString
      def start() = out.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").start()

      val perBatch = 200 // 140 fresh + 60 dups of the previous batch
      val stateSamples = scala.collection.mutable.ArrayBuffer.empty[Long]
      var fed = 0L
      var batch = 0
      var id = 0L
      val deadline = System.nanoTime() + soakSeconds * 1000000000L
      var q = start()
      var restarted = false
      try {
        while (System.nanoTime() < deadline) {
          val t0 = batch.toLong * 10L
          val fresh = (0 until perBatch - 60).map { i =>
            val d = (id + i, s"doc ${id + i} payload ${(id + i) * 31 % 997}",
              t0 + i % 10)
            d
          }
          // duplicates of LAST batch's docs: inside the horizon, must
          // be suppressed by state that survived since then
          val dups = (0 until 60).map { i =>
            val old = math.max(0L, id - perBatch + i)
            (id + perBatch + i, s"doc $old payload ${old * 31 % 997}",
              t0 + i % 10)
          }
          mem.addData(fresh ++ dups)
          q.processAllAvailable()
          fed += perBatch
          id += perBatch
          batch += 1
          val p = q.lastProgress
          if (p != null)
            p.stateOperators.headOption.foreach(o =>
              stateSamples += o.numRowsTotal)
          // one mid-soak restart: stop cold, resume from the checkpoint
          if (!restarted && System.nanoTime() >
              deadline - soakSeconds * 500000000L) {
            q.stop()
            q = start()
            restarted = true
          }
        }
      } finally q.stop()

      restarted shouldBe true
      batch should be >= 8 // the soak actually ran many micro-batches
      // dedup DID suppress: emitted rows < fed rows by at least the
      // planted dup share of every post-first batch
      val emitted = spark.read.parquet(sink).count()
      emitted should be < fed
      emitted.toDouble should be < fed * 0.85
      // PLATEAU: the last-third samples stay within the horizon bound
      // (~6 batches of fingerprints + slack) and far under fed history;
      // an unbounded store would track ~fed (0.7 * fed fresh fps)
      val lastThird = stateSamples.takeRight(stateSamples.size / 3)
      lastThird should not be empty
      val horizonBound = 10L * perBatch
      lastThird.max should be < horizonBound
      lastThird.max should be < (fed * 7 / 10)
      // and the plateau is FLAT, not climbing: the last-third mean is
      // within 2x of the middle-third mean
      val midThird = stateSamples.slice(
        stateSamples.size / 3, 2 * stateSamples.size / 3)
      val midMean = midThird.sum.toDouble / midThird.size
      val lastMean = lastThird.sum.toDouble / lastThird.size
      lastMean should be <= midMean * 2.0
      // the headline numbers BASELINE.md records for the full soak
      info(s"soak: ${soakSeconds}s budget, $batch micro-batches, " +
        s"$fed rows fed, $emitted emitted, state plateau " +
        s"mid=${midMean.round} last=${lastMean.round} max=${lastThird.max} " +
        s"(horizon bound $horizonBound), restarted=$restarted")
    }
  }
}
