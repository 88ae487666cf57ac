package graft

import graft.core.{ExecMetrics, Obs, Sessions}
import graft.pipeline.QcMain
import graft.streaming.{IncrementalQc, StreamingDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming-tier throughput bench (round-14 verdict #5): drive the two
  * production streaming shapes at a real ingest volume and record
  * rows/s + state size next to their batch equivalents, so the decade
  * table has a streaming row instead of only correctness pins.
  *
  *   - [[IncrementalQc]]: the reference's cron-cadence incremental QC
  *     (AvailableNow, [[QcMain.runFrom]] per micro-batch with
  *     [[QcLifecycle]]'s config, stateless), over events staged as
  *     contiguous time slices; the `qc` row carries the stream's
  *     execution metrics (`exec`)
  *   - [[StreamingDedup.withinWatermark]]: watermark-bounded exact
  *     dedup (RocksDB state store, state ∝ rate × horizon)
  *
  * Usage: `SPARK_GRAFT_CPUS=32 sbt 'runMain graft.StreamBench
  * /tmp/graft_sf1b 20 out.json'` — stages the sf dir's events/documents
  * as N-file directories, streams the events as N AvailableNow passes of
  * one file each and the documents as ~N micro-batches via
  * maxFilesPerTrigger=1, and prints ONE compact JSON line (same stdout
  * contract as [[Bench]]).
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/tmp/graft_sf1b"
    val nBatches = if (args.length > 1) args(1).toInt else 20
    val outFile = if (args.length > 2) args(2) else "stream_bench.json"
    val spark = Sessions.local()
    Sessions.useRocksDbStateStore(spark)
    val metrics = ExecMetrics.install(spark.sparkContext)

    val stage = java.nio.file.Files.createTempDirectory("graft_streambench_").toString

    // ---- incremental QC over events -----------------------------------
    // staged by time: each file is a contiguous time slice of every
    // stream, as a cron window is
    val obs = Obs.eventsAsObservations(spark, sfDir)
    val sliceDir = s"$stage/obs_slices"
    obs.repartitionByRange(nBatches, col(Obs.Time)).write.parquet(sliceDir)
    val slices = new java.io.File(sliceDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val cfg = QcLifecycle.configFor(obs)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // batch equivalent first (also warms the JVM the same way Bench does)
    val (_, qcBatchSec) = timed {
      val (flagged, _) = QcMain.runFrom(spark, spark.read.parquet(sliceDir), cfg)
      try flagged.write.format("noop").mode("overwrite").save()
      finally flagged.unpersist()
    }

    // one AvailableNow pass per slice, as one cron run per window that
    // lands: each pass QCs only the slice moved in before it
    val obsDir = s"$stage/obs"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(obsDir))
    var qcRows = 0L
    val e0 = metrics.snapshot()
    val (_, qcStreamSec) = timed {
      slices.foreach { f =>
        java.nio.file.Files.move(f.toPath, java.nio.file.Paths.get(obsDir, f.getName))
        IncrementalQc.stream(spark, obsDir, cfg) { (batch, _) =>
          qcRows += batch.count()
          batch.write.format("noop").mode("overwrite").save()
        }.option("checkpointLocation", s"$stage/qc_ckpt")
          .start().awaitTermination()
      }
    }
    // jobs, stages, tasks, shuffle, spill and executor time of the stream
    val qcExec = metrics.snapshot() - e0

    // ---- watermark-bounded streaming dedup over documents --------------
    // synthetic event time with spread (30 min) INSIDE the 1 h dedup
    // horizon: staged files replay in arbitrary order, and any row older
    // than watermark-minus-horizon would be dropped as late — a harness
    // artifact that would undercount survivors, not a dedup measurement
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("ts", timestamp_micros(lit(1700000000000000L) +
        col("doc_id") % 1800L * 1000000L))
    val docDir = s"$stage/docs"
    docs.repartition(nBatches).write.parquet(docDir)

    val (ddBatchRows, ddBatchSec) = {
      val t0 = System.nanoTime()
      val n = graft.functions.TextAnalysis.fingerprint(col("text"))
      val out = spark.read.parquet(docDir)
        .withColumn("fingerprint", n).dropDuplicates("fingerprint")
      val cnt = out.count()
      (cnt, (System.nanoTime() - t0) / 1e9)
    }

    var ddStateRows = 0L
    var ddStateBytes = 0L
    var ddRows = 0L
    val (_, ddStreamSec) = timed {
      val src = spark.readStream.schema(spark.read.parquet(docDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(docDir)
      val q = StreamingDedup.withinWatermark(src, "text", "ts", "1 hour")
        .writeStream
        .option("checkpointLocation", s"$stage/dd_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          ddRows += batch.count()
        }
        .start()
      q.awaitTermination()
      q.recentProgress.flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .lastOption.foreach { so =>
          ddStateRows = so.numRowsTotal
          ddStateBytes = so.memoryUsedBytes
        }
    }

    // ---- TUNED dedup: the sizing rule applied with self-measured ----
    // constants. C (fixed per-batch cost) from the baseline run's own
    // wall: C = (stream_sec - batch-equivalent work) / batches; R from
    // the batch run. Trigger size = minBatchRows(R, C', tau) at the
    // tuned state-partition count (commit cost scales with partition
    // count, so C' ~ C * parts/32), converted to files-per-trigger.
    val docNpre = spark.read.parquet(docDir).count()
    val rBatch = docNpre / ddBatchSec
    val cBaseline = math.max(0.05,
      (ddStreamSec - ddBatchSec) / math.max(1, nBatches))
    val tunedParts = math.max(4, spark.sparkContext.defaultParallelism / 4)
    // C measured at the BASELINE partition count is kept unscaled: the
    // sf10 sweep shows commit cost is sublinear in partition count
    // (parts 32→8 cut per-batch cost ~1.9×, not 4×) — the unscaled
    // value is a safe upper bound, and oversizing the batch only moves
    // throughput CLOSER to the batch ceiling
    val tau = math.min(50000.0, rBatch * 0.8)
    val nStar = StreamingDedup.minBatchRows(rBatch, cBaseline, tau)
    val rowsPerFile = math.max(1L, docNpre / nBatches)
    val filesPerTrigger = math.max(1L, math.min(nBatches.toLong,
      (nStar + rowsPerFile - 1) / rowsPerFile)).toInt
    graft.core.Sessions.tuneStatefulIngest(spark, tunedParts)
    var ddTunedRows = 0L
    val (_, ddTunedSec) = timed {
      val src = spark.readStream.schema(spark.read.parquet(docDir).schema)
        .option("maxFilesPerTrigger", filesPerTrigger).parquet(docDir)
      val q = StreamingDedup.withinWatermark(src, "text", "ts", "1 hour")
        .writeStream
        .option("checkpointLocation", s"$stage/ddt_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          ddTunedRows += batch.count()
        }
        .start()
      q.awaitTermination()
    }
    spark.conf.set("spark.sql.shuffle.partitions", 32)

    val obsN = spark.read.parquet(obsDir).count()
    val docN = spark.read.parquet(docDir).count()
    spark.stop()

    def f1(v: Double) = "%.1f".format(v)
    val json =
      s"""{"metric":"stream_bench","sf":"$sfDir","batches":$nBatches,""" +
      s""""qc":{"rows":$obsN,"stream_sec":${f1(qcStreamSec)},"stream_rows_per_s":${f1(obsN / qcStreamSec)},"batch_sec":${f1(qcBatchSec)},"batch_rows_per_s":${f1(obsN / qcBatchSec)},"sink_rows":$qcRows,"exec":${qcExec.json}},""" +
      s""""dedup":{"rows":$docN,"stream_sec":${f1(ddStreamSec)},"stream_rows_per_s":${f1(docN / ddStreamSec)},"batch_sec":${f1(ddBatchSec)},"batch_rows_per_s":${f1(docN / ddBatchSec)},"survivors_stream":$ddRows,"survivors_batch":$ddBatchRows,"state_rows":$ddStateRows,"state_bytes":$ddStateBytes},""" +
      s""""dedup_tuned":{"state_parts":$tunedParts,"files_per_trigger":$filesPerTrigger,"min_batch_rows":$nStar,"stream_sec":${f1(ddTunedSec)},"stream_rows_per_s":${f1(docN / ddTunedSec)},"survivors_stream":$ddTunedRows,"survivors_batch":$ddBatchRows}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json)
    println(json)
  }
}
