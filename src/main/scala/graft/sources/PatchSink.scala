package graft.sources

import graft.core.{Flags, Obs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S4/S5 — the write-back sink: per-observation flag PATCHes (reference
  * `patch_qc_flags` `src/main.py:854-859`, `create_patch_json` +
  * `write_patch_to_file` `src/main.py:822-841`).
  *
  * v0 writes the patch dataset as JSON files (one body per line, exactly
  * the reference's file shape). The HTTP variant batches per partition —
  * idempotent last-writer-wins upserts keyed on observation id, which is
  * what makes the overlapping-window backfill (§3.3) safe to re-run.
  */
object PatchSink {

  /** (id, flag) pairs as OData PATCH bodies; flags leave as L20 wire codes. */
  def patchBodies(flagged: DataFrame, idCol: String = Obs.IotId,
                  flagCol: String = Obs.QcFlag): DataFrame =
    flagged.select(col(idCol).as("id"),
      Flags.rankToWireCol(col(flagCol)).as("resultQuality"))

  /** S5 — file sink (mirrors `write_patch_to_file`). */
  def writePatchFile(flagged: DataFrame, outDir: String): Unit =
    patchBodies(flagged).write.mode("overwrite").json(outDir)

  /** S4 — transport-pluggable batch sink: `send` is called once per batch
    * per partition (the HTTP POST to `$batch` in production; a collector
    * in tests). Returns nothing — counts come from the driver-side
    * flag histogram, not the sink.
    */
  def foreachBatchSink(flagged: DataFrame, batchSize: Int)(send: Seq[(Long, Int)] => Unit): Unit =
    patchBodies(flagged).foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      rows.map(r => (r.getLong(0), r.getInt(1))).grouped(batchSize).foreach(g => send(g.toSeq))
    }

  /** One OData JSON-batch body (FROST `$batch` shape): `batchSize` PATCH
    * sub-requests keyed Observations(id).
    */
  def batchBody(batch: Seq[(Long, Int)]): String =
    batch.zipWithIndex.map { case ((id, wire), i) =>
      // resultQuality is a NUMERIC wire code, matching the file sink's
      // JSON shape — both transports must serialize identically for the
      // last-writer-wins idempotence story to hold across them
      s"""{"id":"$i","method":"patch","url":"Observations($id)","body":{"resultQuality":$wire}}"""
    }.mkString("""{"requests":[""", ",", "]}")

  /** S4 — live HTTP write-back (reference `patch_qc_flags`
    * `src/main.py:854-859`): per partition, flag upserts are grouped into
    * `$batch` POSTs — idempotent last-writer-wins keyed on observation id,
    * which is what makes the overlapping-window backfill (§3.3) safe to
    * re-run. Runs on executors; retry/backoff via [[graft.sources.sta.StaHttp]].
    */
  def httpBatchSink(flagged: DataFrame, batchUrl: String, batchSize: Int = 100): Unit =
    foreachBatchSink(flagged, batchSize) { batch =>
      graft.sources.sta.StaHttp.postJson(batchUrl, batchBody(batch))
      ()
    }
}
