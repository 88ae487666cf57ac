package graft.perfbench

import graft.core.{Flags, Obs}
import graft.pipeline.QcMain
import graft.sources.PatchSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `cron_15min`: the production traffic. Consecutive 15-min windows of a
  * generated track are served by a loopback SensorThings server, read
  * through the `sta` source over HTTP (one partition per datastream,
  * pushed-down `$filter`, `@iot.nextLink` paging), run through
  * `QcMain.runFrom` and PATCHed back through `PatchSink.httpBatchSink`.
  * The independent stream's read reaches back `dt_stabilization` before
  * the window, as the reference's independent-window fetch does.
  *
  * Streams sample every 20/40/60 s, twenty times sparser than the ship's
  * 1/2/3 s, so that a window fits the run budget; its cost is then mostly
  * fixed per window (planning, jobs, tasks), plus HTTP.
  */
final class CronWorkload(spark: SparkSession, seed: Long, cores: Int,
                         streams: Int, rates: Seq[Int], windows: Int,
                         pageSize: Int, workDir: String) extends Workload {
  val name = "cron_15min"
  private val WindowSec = ShipTrack.BlockSec
  private val LookbackSec = ShipTrack.DtStabilizationSec.toInt

  private var track: ShipTrack.Track = _
  private var server: StaFixture = _
  private var cfg: QcMain.Config = _
  private var rowsPerWindow: Seq[Long] = Nil
  private val problems = mutable.ArrayBuffer.empty[String]
  /** Server counter deltas of each timed window. */
  private val serverDeltas = mutable.ArrayBuffer.empty[Map[String, Long]]
  /** PATCH sub-requests per returned row, per checked window. */
  private val subRequestsPerRow = mutable.ArrayBuffer.empty[Double]
  /** Traced windows: peak RDD storage `runFrom` adds (bytes), persisted
    * RDDs left once the window's frames are unpersisted, and the
    * `PatchSink.writePatchFile` time (s) and bytes of the window's flags.
    */
  private val cachePeaks, leakedRdds, patchFileS, patchFileBytes =
    mutable.ArrayBuffer.empty[Double]

  def describe: String =
    s"$streams streams sampled every ${rates.mkString("/")} s, $windows distinct 15-min windows " +
      s"(~${rowsPerWindow.sum / math.max(1, rowsPerWindow.size)} rows each incl. " +
      s"${LookbackSec / 60}-min lookback), $pageSize obs per page"

  def prepare(): Unit = {
    if (server != null) server.stop()
    track = ShipTrack.generate(seed, streams, LookbackSec + windows * WindowSec, rates)
    cfg = track.config
    server = new StaFixture(track, pageSize, cores)
    rowsPerWindow = (0 until windows).map(w => windowRows(w).map { case (a, b) => b - a }.sum.toLong)
  }

  /** Window `w` starts `LookbackSec + w * WindowSec` into the track. */
  private def windowStartSec(w: Int): Int = LookbackSec + (w % windows) * WindowSec

  /** Track rows `[from, until)` per stream that window `w` must fetch. */
  private def windowRows(w: Int): Seq[(Int, Int)] = {
    val s0 = windowStartSec(w)
    track.streams.indices.map { k =>
      val from = if (k == 0) s0 - LookbackSec else s0
      def firstAtOrAfter(sec: Int): Int = {
        var lo = track.streamStart(k); var hi = track.streamStart(k + 1)
        while (lo < hi) { val m = (lo + hi) >>> 1; if (track.tSec(m) < sec) lo = m + 1 else hi = m }
        lo
      }
      (firstAtOrAfter(from), firstAtOrAfter(s0 + WindowSec))
    }
  }

  private def ts(sec: Int, deltaUs: Long = 0L): java.sql.Timestamp = {
    val us = track.t0Us + sec * 1000000L + deltaUs
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(0, us * 1000L))
  }

  /** The window's source frame: `[start, end)` per stream, as a user would filter. */
  def source(w: Int, nStreams: Int = streams): DataFrame = {
    val s0 = windowStartSec(w)
    def read(ids: Seq[Long], fromSec: Int): DataFrame =
      spark.read.format("graft.sources.sta")
        .option("path", server.datastreamsUrl).option("transport", "http")
        .option("datastreams", ids.mkString(",")).load()
        .filter(col(Obs.Time) > lit(ts(fromSec, -1L)) && col(Obs.Time) < lit(ts(s0 + WindowSec)))
    val ids = track.streams.map(_.id).take(nStreams)
    read(ids.take(1), s0 - LookbackSec).unionByName(read(ids.drop(1), s0))
  }

  private def runWindow(w: Int, tracer: Tracer, nStreams: Int = streams): DataFrame =
    tracer.span("window") {
    val src = if (!tracer.enabled) source(w, nStreams) else tracer.span("sta.fetch") {
      val c = source(w, nStreams).cache()
      c.count()
      c
    }
    val ((flagged, _), cachePeak) =
      tracer.storagePeak(tracer.span("qc.runFrom")(QcMain.runFrom(spark, src, cfg)))
    if (tracer.enabled) cachePeaks += cachePeak.toDouble
    tracer.span("patch.http") {
      PatchSink.httpBatchSink(flagged.withColumn(Obs.QcFlag, col("flag")), server.batchUrl)
    }
    if (tracer.enabled) src.unpersist()
    flagged
  }

  /** Warms the JVM up on a window of 3 streams: the plan has the same shape
    * as a full window's, at a fraction of its HTTP and task count.
    */
  def warmUp(): Unit = {
    val f = runWindow(windows - 1, new Tracer(false), nStreams = 3)
    f.unpersist()
    server.takeServed(); server.takeBatches()
  }

  def op(i: Int, tracer: Tracer): OpSample = {
    val before = server.counters
    val persistedBefore = Harness.persistedRdds(spark)
    val ((flagged, wall, cpu), sched) = tracer.counted(
      Harness.timed(tracer.inTrace(s"window-$i")(runWindow(i, tracer))))
    val after = server.counters
    serverDeltas += after.map { case (k, v) => k -> (v - before(k)) }
    check(i, flagged)
    if (tracer.enabled) tracer.inTrace(s"window-$i")(writePatchFile(i, flagged, tracer))
    flagged.unpersist(blocking = true)
    if (tracer.enabled) leakedRdds += (Harness.persistedRdds(spark) - persistedBefore).toDouble
    System.gc() // as Bench does between queries: each window starts from the same heap
    OpSample(wall, cpu, rowsPerWindow(i % windows), sched)
  }

  /** The `PatchSink.writePatchFile` layer: the window's flags to a file,
    * as a `qc_historical` backfill writes them.
    */
  private def writePatchFile(i: Int, flagged: DataFrame, tracer: Tracer): Unit = {
    val dir = new java.io.File(workDir, s"patch-file/window-$i")
    val (_, s, _) = Harness.timed(tracer.span("patch.file") {
      PatchSink.writePatchFile(flagged.withColumn(Obs.QcFlag, col("flag")), dir.getPath)
    })
    patchFileS += s
    patchFileBytes += Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.isFile).map(_.length).sum.toDouble
  }


  /** Patched ids equal the fetched ids, each once; wire codes equal the
    * returned frame's flags; injected faults carry their severity.
    */
  private def check(i: Int, flagged: DataFrame): Unit = {
    val flags = flagged.select(col(Obs.IotId), col("flag")).collect()
      .map(r => r.getLong(0) -> r.getByte(1)).toMap
    val served = server.takeServed().flatMap { case (a, b) => a until b }
    val fetched = served.toSet
    val expected = windowRows(i).flatMap { case (a, b) => a until b }.toSet
    val patches = StaFixture.patches(server.takeBatches())
    val patchedIds = patches.map(_._1)
    def fail(msg: String): Unit = if (problems.size < 20) problems += s"window $i: $msg"
    subRequestsPerRow += patches.size.toDouble / math.max(1, flags.size)
    if (fetched != expected)
      fail(s"server served ${fetched.size} rows, the window holds ${expected.size}")
    val fetchedIds = fetched.map(track.iotId)
    if (patchedIds.size != patchedIds.distinct.size)
      fail(s"${patchedIds.size - patchedIds.distinct.size} ids patched more than once")
    if (patchedIds.toSet != fetchedIds)
      fail(s"patched ${patchedIds.toSet.size} ids, fetched ${fetchedIds.size}")
    if (flags.keySet != fetchedIds)
      fail(s"returned frame has ${flags.size} ids, fetched ${fetchedIds.size}")
    val wrongWire = patches.count { case (id, wire) => flags.get(id).map(Flags.rankToWire).contains(wire) == false }
    if (wrongWire > 0) fail(s"$wrongWire wire codes differ from the returned flags")
    val s0 = windowStartSec(i)
    val missed = track.faults.filter(f => f.tSec >= s0 && f.tSec < s0 + WindowSec)
      .filter(f => flags.get(f.iotId).forall(_ < f.expected))
    if (missed.nonEmpty)
      fail(s"${missed.size} faults under-flagged, e.g. ${missed.take(3).mkString(", ")}")
  }

  def verify(): Seq[String] = problems.toSeq

  def layers(ctx: TraceContext): Map[String, Double] = {
    import Harness.median
    val tracer = ctx.tracer
    val sched = Harness.schedLayers(ctx)
    val deltas = serverDeltas.toSeq
    def perWindow(k: String, scale: Double = 1.0) = median(deltas.map(_(k) / scale))
    val sta = Map(
      "sta.fetch_s" -> median(tracer.durationPerTrace("sta.fetch")),
      "sta.http_gets" -> perWindow("gets"),
      "sta.pages" -> perWindow("pages"),
      "sta.bytes_in_mb" -> perWindow("bytes_out", 1e6),
      "sta.retries" -> perWindow("repeats"),
      "patch.http_s" -> median(tracer.durationPerTrace("patch.http")),
      "patch.http_posts" -> perWindow("posts"),
      "patch.bytes_out_mb" -> perWindow("bytes_in", 1e6))
    val qc = tracer.inTrace("qc-profile")(Harness.qcLayers(spark, tracer, source(0), cfg)) ++
      Map("qc.cache_mb" -> median(cachePeaks.toSeq) / 1e6,
        "qc.leaked_rdds" -> median(leakedRdds.toSeq),
        "patch.file_s" -> median(patchFileS.toSeq),
        "patch.file_mb" -> median(patchFileBytes.toSeq) / 1e6)
    sched ++ sta ++ qc ++ Map("patch.sub_requests_per_row" -> median(subRequestsPerRow.toSeq))
  }

  def close(): Unit = if (server != null) server.stop()
}
