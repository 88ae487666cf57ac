package graft.streaming

import graft.core.Obs
import graft.pipeline.QcMain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The reference's "streaming" runtime is cron-driven re-runs of its
  * whole `main.py` over sliding, overlapping time windows
  * (`qc_historical/qc_historical.sh:70-100`, `crontab/qc.sh:50-80`) —
  * at-least-once, idempotent because flag writes are last-writer-wins
  * PATCHes keyed on observation id.
  *
  * Spark-native shape: Structured Streaming over a parquet directory of
  * observations ([[Obs.schema]]) with `Trigger.AvailableNow`, and
  * `foreachBatch` running [[QcMain.runFrom]] — the one QC chain:
  * stabilization, geo, kinematics, range/gradient/z-score and
  * dependents — on each micro-batch. One pass is one cron run: it QCs
  * the files that landed since the previous pass (the checkpoint
  * records which) as one micro-batch, then terminates.
  *
  * A micro-batch sees only its own files. Window context across batches
  * (the reference widens its fetch window backwards by
  * `dt_stabilization`, `src/main.py:224-241`) is the producer's job: it
  * re-delivers the overlap rows in the next file, and the re-QC'd flags
  * overwrite the earlier ones. No row is dropped for being old, and no
  * state lives in the stream, so restarts are trivially safe.
  */
object IncrementalQc {

  /** Wire a parquet-directory stream of observations through
    * [[QcMain.runFrom]] into `sink` (an idempotent upsert in production;
    * a memory/file sink in tests). The sink receives the flagged batch
    * with `qc_rank` set to the QC flag — the hand-off the cron PATCH
    * uses — and the batch's cache is released when the sink returns.
    */
  def stream(spark: SparkSession, srcDir: String, cfg: QcMain.Config)(
             sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    spark.readStream.schema(Obs.schema).parquet(srcDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val (flagged, _) = QcMain.runFrom(spark, batch, cfg)
        try sink(flagged.withColumn(Obs.QcFlag, col("flag")), id)
        finally flagged.unpersist()
      }
}
