package graft.sources

import graft.core.{Flags, Obs}
import graft.sources.sta.StaHttp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** S4/S5 — the write-back sink: per-observation flag PATCHes (reference
  * `patch_qc_flags` `src/main.py:854-859`, `create_patch_json` +
  * `write_patch_to_file` `src/main.py:822-841`).
  *
  * v0 writes the patch dataset as JSON files (one body per line, exactly
  * the reference's file shape). The HTTP variant batches per partition —
  * idempotent last-writer-wins upserts keyed on observation id, which is
  * what makes the overlapping-window backfill (§3.3) safe to re-run — and
  * keeps up to 8 of a partition's `$batch` POSTs in flight at once.
  */
object PatchSink {

  /** (id, flag) pairs as OData PATCH bodies; flags leave as L20 wire codes. */
  def patchBodies(flagged: DataFrame): DataFrame =
    flagged.select(col(Obs.IotId).as("id"),
      Flags.rankToWireCol(col(Obs.QcFlag)).as("resultQuality"))

  /** S5 — file sink (mirrors `write_patch_to_file`). */
  def writePatchFile(flagged: DataFrame, outDir: String): Unit =
    patchBodies(flagged).write.mode("overwrite").json(outDir)

  /** A partition's (id, wire code) pairs in groups of 100. */
  private def batches(rows: Iterator[Row]): Iterator[Seq[(Long, Int)]] =
    rows.map(r => (r.getLong(0), r.getInt(1))).grouped(100)

  /** One OData JSON-batch body (FROST `$batch` shape): one PATCH
    * sub-request per pair, keyed Observations(id).
    */
  def batchBody(batch: Seq[(Long, Int)]): String =
    batch.zipWithIndex.map { case ((id, wire), i) =>
      // resultQuality is a NUMERIC wire code, matching the file sink's
      // JSON shape — both transports must serialize identically for the
      // last-writer-wins idempotence story to hold across them
      s"""{"id":"$i","method":"patch","url":"Observations($id)","body":{"resultQuality":$wire}}"""
    }.mkString("""{"requests":[""", ",", "]}")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The observation ids of `batch` whose sub-request the `$batch` reply
    * answers with a status of 400 or more (OData JSON batch: a rejected
    * PATCH is a sub-response inside the 200 reply, matched to its request
    * by `id`). An empty `responses` list rejects nothing.
    */
  private def rejectedIds(reply: String, batch: Seq[(Long, Int)]): Seq[String] =
    mapper.readTree(reply).path("responses").elements.asScala
      .filter(_.path("status").asInt(0) >= 400)
      .map { r =>
        val id = r.path("id").asText
        id.toIntOption.flatMap(batch.lift).fold(s"sub-request '$id'")(_._1.toString)
      }.toSeq

  /** S4 — live HTTP write-back (reference `patch_qc_flags`
    * `src/main.py:854-859`): per partition, flag upserts are grouped 100
    * to a `$batch` POST — idempotent last-writer-wins keyed on observation id,
    * which is what makes the overlapping-window backfill (§3.3) safe to
    * re-run. Runs on executors: up to 8 of a partition's POSTs are in
    * flight at once ([[StaHttp.inFlight]]), holding at most 8 batches,
    * with retry/backoff via [[StaHttp]]. A sub-request the service
    * rejects fails the task with [[StaHttp.HttpFailure]].
    */
  def httpBatchSink(flagged: DataFrame, batchUrl: String): Unit =
    patchBodies(flagged).foreachPartition { (rows: Iterator[Row]) =>
      StaHttp.inFlight(batches(rows).map { batch => () =>
        val rejected = rejectedIds(StaHttp.postJson(batchUrl, batchBody(batch)), batch)
        if (rejected.nonEmpty)
          throw new StaHttp.HttpFailure(
            s"$batchUrl rejected the PATCH of observations ${rejected.mkString(", ")}")
      }).foreach(_ => ())
    }
}
