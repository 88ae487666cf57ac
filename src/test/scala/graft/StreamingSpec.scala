package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.core.{Flags, Obs}
import graft.ops.Geo
import graft.pipeline.{ConfigLoader, QcMain}
import graft.sources.PatchSink
import graft.streaming.IncrementalQc
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import java.net.InetSocketAddress

/** O2/O3 — incremental QC as Structured Streaming (reference cron
  * windows, `qc_historical.sh` / `crontab/qc.sh`): AvailableNow trigger,
  * [[QcMain.runFrom]] per micro-batch, idempotent flag upserts.
  */
class StreamingSpec extends SparkSpec {

  /** The box the QC fixtures' observations sit in. */
  private val northSea = Geo.BoxRegion("NORTH SEA", "SOUTHERN BIGHT", 51.0, 52.0, 2.5, 3.5)

  /** Observations in [[Obs.schema]] from (iot_id, result, epoch ms,
    * datastream_id): every row at one point inside `northSea` and below
    * sea level (so no geo, outlier or kinematic flag), on its own
    * feature, not yet QC'd.
    */
  private def observations(rows: Seq[(Long, Double, Long, Long)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (id, v, ms, ds) =>
      Row(id, v, new java.sql.Timestamp(ms), Flags.NoQc, ds, "p", "u", 2.91, 51.21, id)
    }), Obs.schema)

  /** (iot_id, flag) pairs of a frame, sorted. */
  private def flagsOf(df: DataFrame, flag: String): Seq[(Long, Byte)] =
    df.select(col(Obs.IotId), col(flag)).collect()
      .map(r => (r.getLong(0), r.getByte(1))).toSeq.sorted

  /** What the cron chain flags over the same rows: [[QcMain.runFrom]]
    * over every file in `dir`.
    */
  private def runFromFlags(dir: String, cfg: QcMain.Config): Seq[(Long, Byte)] = {
    val (flagged, _) = QcMain.runFrom(spark, spark.read.schema(Obs.schema).parquet(dir), cfg)
    try flagsOf(flagged, "flag") finally flagged.unpersist()
  }

  test("availableNow stream runs the QC chain per batch and terminates") {
    val dir = java.nio.file.Files.createTempDirectory("stream_src").toString
    // a small observations batch: 2 streams, some values out of bounds
    val obs = observations((0 until 40).map { i =>
      (i.toLong, if (i % 7 == 0) 99.0 else 10.0 + i % 3,
        1700000000000L + i * 60000L, (i % 2 + 1).toLong)
    })
    obs.write.mode("overwrite").parquet(dir)

    val cfg = QcMain.Config(rangeBounds = Map(1L -> (5.0, 50.0), 2L -> (5.0, 50.0)),
      regions = Seq(northSea))
    // the same config as a deployment writes it, in a config document
    val doc =
      """{"QC": {"1": {"range": {"min": 5, "max": 50}}, "2": {"range": {"min": 5, "max": 50}}},
        | "location": {"regions": [{"region": "NORTH SEA", "sub_region": "SOUTHERN BIGHT",
        |   "lat": {"min": 51.0, "max": 52.0}, "lon": {"min": 2.5, "max": 3.5}}]}}""".stripMargin
    assert(ConfigLoader.load(doc).map(_.qc) == Right(cfg))

    var rows = 0L
    var bad = 0L
    var sunk = Seq.empty[(Long, Byte)]
    val q = IncrementalQc.stream(spark, dir, cfg) {
      (batch, _) =>
        rows += batch.count()
        bad += batch.filter(col(Obs.QcFlag) === Flags.Bad).count()
        sunk ++= flagsOf(batch, Obs.QcFlag)
    }.start()
    q.awaitTermination(60000)
    assert(rows == 40)
    assert(bad == 6) // 99.0 out of (5,50) at i % 7 == 0 => i in {0,7,...,35}
    // i=0: also true => 6 values: 0,7,14,21,28,35
    assert(sunk.sorted == runFromFlags(dir, cfg))
  }

  /** Two AvailableNow passes over one directory with one checkpoint, as
    * two cron runs: the first over a file of ids 0-4 at a one-minute
    * cadence; the second over a file, written after the first pass, of
    * ids 5-9 whose rows are 2 h older than the first file's newest row.
    */
  private def twoPassesSecondOlder(cfg: QcMain.Config)(sink: (DataFrame, Long) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("stream_two_passes").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream_two_passes_ckpt").toString
    val t0 = 1700000000000L
    Seq((0L until 5L, t0), (5L until 10L, t0 - 7200000L)).foreach { case (ids, from) =>
      observations(ids.map(i => (i, 10.0, from + (i - ids.head) * 60000L, 1L)))
        .coalesce(1).write.mode("append").parquet(dir)
      IncrementalQc.stream(spark, dir, cfg)(sink)
        .option("checkpointLocation", ckpt).start().awaitTermination(60000)
    }
  }

  test("rows 2 h older than the last batch still reach the sink, every row flagged") {
    val cfg = QcMain.Config(rangeBounds = Map(1L -> (5.0, 50.0)), regions = Seq(northSea))
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Byte)]]
    twoPassesSecondOlder(cfg) { (batch, _) => batches += flagsOf(batch, Obs.QcFlag) }
    // the older file is its own, later micro-batch, and nothing drops it
    assert(batches.map(_.map(_._1)) == Seq(0L until 5L, 5L until 10L))
    assert(batches.flatten.forall(_._2 == Flags.Good))
  }

  test("a terminated stream leaves no persisted RDD behind") {
    val cfg = QcMain.Config(rangeBounds = Map(1L -> (5.0, 50.0)), regions = Seq(northSea))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var batches = 0
    twoPassesSecondOlder(cfg) { (batch, _) =>
      batch.write.format("noop").mode("overwrite").save()
      batches += 1
    }
    assert(batches == 2)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("re-running the stream over the same data is idempotent (last-writer-wins)") {
    val dir = java.nio.file.Files.createTempDirectory("stream_src2").toString
    val obs = observations((0 until 10).map { i =>
      (i.toLong, 10.0, 1700000000000L + i * 1000L, 1L)
    })
    obs.write.mode("overwrite").parquet(dir)
    val cfg = QcMain.Config(rangeBounds = Map(1L -> (5.0, 50.0)), regions = Seq(northSea))

    val state = scala.collection.mutable.Map.empty[Long, Byte] // upsert sink
    def run(): Unit = {
      val q = IncrementalQc.stream(spark, dir, cfg) { (batch, _) =>
        flagsOf(batch, Obs.QcFlag)
          .foreach { case (id, flag) => state(id) = flag } // last writer wins
      }.start()
      q.awaitTermination(60000)
    }
    run()
    val after1 = state.toMap
    run() // second pass over identical data
    assert(state.toMap == after1 && state.size == 10)
    assert(state.toSeq.sorted == runFromFlags(dir, cfg))
  }

  test("stream → QC → live $batch PATCH: re-delivered overlap window converges (cron lifecycle)") {
    // the reference's §3.3 lifecycle end to end: micro-batches flow
    // through the QC chain and PATCH flags to a live $batch endpoint;
    // the cron overlap re-delivers a window and the server must converge
    // to the same flags (last-writer-wins upserts keyed on iot_id)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    server.createContext("/batch", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        bodies.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
        val resp = """{"responses":[]}""".getBytes("UTF-8")
        ex.sendResponseHeaders(200, resp.length)
        val os = ex.getResponseBody
        try os.write(resp) finally os.close()
        ex.close()
      }
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/batch"
    try {
      val dir = java.nio.file.Files.createTempDirectory("stream_patch").toString
      val obs = observations((0 until 12).map { i =>
        (i.toLong, if (i % 4 == 0) 99.0 else 10.0, 1700000000000L + i * 60000L, 1L)
      })
      obs.write.mode("overwrite").parquet(dir)
      val cfg = QcMain.Config(rangeBounds = Map(1L -> (5.0, 50.0)),
        gradientBounds = (-1000.0, 1000.0), regions = Seq(northSea))

      // each run is one micro-batch over every file in the directory
      var sunk = Seq.empty[(Long, Byte)]
      def run(): Unit = {
        val q = IncrementalQc.stream(spark, dir, cfg) { (batch, _) =>
          PatchSink.httpBatchSink(batch, url)
          sunk = flagsOf(batch, Obs.QcFlag)
        }.start()
        q.awaitTermination(60000)
        assert(sunk == runFromFlags(dir, cfg))
      }
      // last-writer-wins replay of what the server stores
      def serverState(): Map[Long, Int] = {
        val pat = """"url":"Observations\((\d+)\)","body":\{"resultQuality":(\d+)\}""".r
        val st = scala.collection.mutable.Map.empty[Long, Int]
        bodies.toArray.map(_.toString).foreach { b =>
          pat.findAllMatchIn(b).foreach(m => st(m.group(1).toLong) = m.group(2).toInt)
        }
        st.toMap
      }

      run()
      val firstBodies = bodies.size()
      val afterFirst = serverState()
      assert(afterFirst.size == 12, s"12 observations patched, got ${afterFirst.size}")
      // out-of-range rows carry the BAD wire code, distinct from the rest
      val badWire = afterFirst(0L)
      assert(afterFirst(4L) == badWire && afterFirst(8L) == badWire && afterFirst(1L) != badWire)

      // cron overlap: the same window re-delivered as a NEW file => a new
      // micro-batch re-QCs the rows and PATCHes again
      obs.coalesce(1).write.mode("append").parquet(dir)
      run()
      assert(bodies.size() > firstBodies, "overlap re-delivery must actually re-patch")
      assert(serverState() == afterFirst, "re-delivered flags must converge (idempotent)")
    } finally server.stop(0)
  }
}
