package graft.tools

import graft.core.{Flags, Obs}
import graft.pipeline.ConfigLoader
import graft.sources.PatchSink
import graft.streaming.IncrementalQc
import org.apache.spark.sql.functions._

/** §3.3 entry point — incremental QC over a growing parquet directory of
  * observations ([[Obs.schema]]): the reference's cron/backfill loop as
  * one Structured Streaming job. Each run is one AvailableNow pass with
  * no checkpoint: [[QcMain.runFrom]] over the directory's files as one
  * micro-batch, appending its patch JSON (idempotent last-writer-wins on
  * iot_id). The QC runs under a config document (`conf/qc_example.json`);
  * one that does not validate prints each error as `path: message` on
  * stderr and exits 2, before Spark starts.
  *
  * Usage: runMain graft.tools.RunStreamingQc <config.json> <obsParquetDir> <patchOutDir>
  */
object RunStreamingQc {
  def main(args: Array[String]): Unit = {
    val cfg = ConfigLoader.loadFileOrExit(args(0)).qc
    val Array(srcDir, outDir) = args.slice(1, 3)
    val spark = graft.core.Sessions.local()

    val q = IncrementalQc.stream(spark, srcDir, cfg) { (batch, id) =>
      PatchSink.patchBodies(batch).write.mode("append").json(outDir)
      println(s"STREAM batch=$id rows=${batch.count()} " +
        s"bad=${batch.filter(col(Obs.QcFlag) === Flags.Bad).count()}")
    }.start()
    // an AvailableNow query ends by itself; a failed one throws here
    q.awaitTermination()
    spark.stop()
  }
}
