package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.core.Obs
import graft.sources.PatchSink
import graft.sources.sta.StaHttp
import org.apache.spark.sql.functions._

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

/** S1/S4 live-transport tests against an in-JVM loopback HTTP server:
  * paged GET (`@iot.nextLink`) with retry on 5xx, per-datastream
  * fetches grouped into at most one partition per core, server-side
  * `$filter` + reader-side pushed-filter enforcement, and the `$batch`
  * PATCH write-back with its rejected sub-requests (reference
  * `get_with_retry` src/main.py:107-118, `get_all_data` 350-364,
  * `patch_qc_flags` 854-859).
  *
  * Overlap: a partition keeps up to 8 of its fetches, and the sink up to
  * 8 of a partition's `$batch` POSTs, in flight at once; a partition
  * holds at most 8 streams' rows and emits them in fetch order; a
  * partition with one fetch pages it lazily; closing a reader cancels
  * its fetches. The specs for it run a server whose handlers run on a
  * thread pool and answer each request late, so that only overlapped
  * requests finish early (`withSlowServer`).
  */
class StaHttpSpec extends SparkSpec {

  // ---- loopback STA server ----------------------------------------------

  private def obsJson(id: Long, t: String, result: Double): String =
    s"""{"@iot.id":$id,"result":$result,"phenomenonTime":"$t","resultQuality":0,
       |"FeatureOfInterest":{"@iot.id":5,"feature":{"coordinates":[2.9,51.2]}}}""".stripMargin

  private def dsJson(dsId: Long, obs: Seq[String]): String =
    s"""{"@iot.id":$dsId,"description":"d$dsId",
       |"unitOfMeasurement":{"name":"u"},
       |"ObservedProperty":{"@iot.id":9,"name":"temp"},
       |"Sensor":{"name":"s"},
       |"Observations":[${obs.mkString(",")}]}""".stripMargin

  // datastream 1: 3 observations over 2 pages; datastream 2: 2 observations
  private val ds1page1 = Seq(
    obsJson(11, "2024-01-01T00:00:00Z", 1.0), obsJson(12, "2024-01-01T00:10:00Z", 2.0))
  private val ds1page2 = Seq(obsJson(13, "2024-01-01T00:20:00Z", 3.0))
  private val ds2obs = Seq(
    obsJson(21, "2024-01-01T01:00:00Z", 4.0), obsJson(22, "2024-01-01T01:10:00Z", 5.0))

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
    ex.close()
  }

  /** The `/sta` reply to a decoded query: datastream 1 over two pages, 2
    * on one, 3+ as below, and with no `Datastream/id` both 1 and 2.
    */
  private def staReply(base: String, decoded: String): String = {
    val dsMatch = "Datastream/id eq (\\d+)".r.findFirstMatchIn(decoded).map(_.group(1).toLong)
    val page2 = decoded.contains("page=2")
    dsMatch match {
      case Some(1L) if !page2 =>
        // nextLink keeps the original query and adds the page marker
        s"""{"Datastreams":[${dsJson(1, ds1page1)}],
           |"@iot.nextLink":"$base?page=2&${StaHttp.enc("$filter=Datastream/id eq 1")}"}""".stripMargin
      case Some(1L) => s"""{"Datastreams":[${dsJson(1, ds1page2)}]}"""
      case Some(2L) => s"""{"Datastreams":[${dsJson(2, ds2obs)}]}"""
      // datastreams 3+: obs k*100+1 on page 1, and for even k a second
      // page with obs k*100+2
      case Some(k) if !page2 =>
        val link = s"$base?page=2&" + StaHttp.enc("$filter=Datastream/id eq " + k)
        val next = if (k % 2 == 0) s""","@iot.nextLink":"$link"""" else ""
        s"""{"Datastreams":[${dsJson(k, Seq(obsJson(k * 100 + 1, "2024-01-01T02:00:00Z", k.toDouble)))}]$next}"""
      case Some(k) =>
        s"""{"Datastreams":[${dsJson(k, Seq(obsJson(k * 100 + 2, "2024-01-01T02:10:00Z", k + 0.5)))}]}"""
      case _ => s"""{"Datastreams":[${dsJson(1, ds1page1 ++ ds1page2)},${dsJson(2, ds2obs)}]}"""
    }
  }

  private def withServer(test: (String, java.util.concurrent.ConcurrentLinkedQueue[String],
                                AtomicInteger,
                                java.util.concurrent.ConcurrentLinkedQueue[String]) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val patched = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val urls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val flaked = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
    val requests = new AtomicInteger(0)
    val port = server.getAddress.getPort
    val base = s"http://127.0.0.1:$port/sta"

    server.createContext("/sta", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        requests.incrementAndGet()
        val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
        val decoded = java.net.URLDecoder.decode(q, "UTF-8")
        urls.add(decoded)
        // every distinct URL fails once with 503 before serving (retry path)
        if (flaked.putIfAbsent(decoded, true) == null) { respond(ex, 503, "flaky"); return }
        respond(ex, 200, staReply(base, decoded))
      }
    })
    server.createContext("/batch", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        patched.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
        respond(ex, 200, """{"responses":[]}""")
      }
    })
    server.start()
    try test(base, patched, requests, urls) finally server.stop(0)
  }

  /** What [[withSlowServer]] saw: requests, the most handled at once, the
    * distinct client connections (remote address and port), the `$batch`
    * bodies, and the reply delay, which a spec may change.
    */
  private final class Traffic {
    val requests, open, peak = new AtomicInteger
    val connections = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var delayMs = 0L
  }

  /** A server whose handlers run on 32 threads and answer `delayMs` late:
    * `/sta` as [[staReply]] (datastream 404 answers 404), `/batch` with
    * `batchReply` of the body.
    */
  private def withSlowServer(delayMs: Long,
                             batchReply: String => String = _ => """{"responses":[]}""")
                            (test: (String, Traffic) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(32)
    server.setExecutor(pool)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}/sta"
    val t = new Traffic
    t.delayMs = delayMs
    def slow(reply: HttpExchange => (Int, String)): HttpHandler = { ex =>
      t.requests.incrementAndGet()
      t.connections.add(ex.getRemoteAddress.toString)
      t.peak.accumulateAndGet(t.open.incrementAndGet(), (a, b) => math.max(a, b))
      try {
        Thread.sleep(t.delayMs)
        val (code, body) = reply(ex)
        respond(ex, code, body)
      } finally t.open.decrementAndGet()
    }
    server.createContext("/sta", slow { ex =>
      val decoded = java.net.URLDecoder.decode(
        Option(ex.getRequestURI.getRawQuery).getOrElse(""), "UTF-8")
      if (decoded.contains("Datastream/id eq 404")) (404, "no such datastream")
      else (200, staReply(base, decoded))
    })
    server.createContext("/batch", slow { ex =>
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      t.batches.add(body)
      (200, batchReply(body))
    })
    server.start()
    try test(base, t) finally { server.stop(0); pool.shutdownNow() }
  }

  private def staRead(base: String, ids: Seq[Long]) = spark.read.format("graft.sources.sta")
    .option("path", base).option("transport", "http")
    .option("datastreams", ids.mkString(",")).load()
    .select(Obs.IotId, Obs.DatastreamId, Obs.Result)

  private def timed[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1000000L)
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  // ---- specs ------------------------------------------------------------

  test("http transport: per-datastream partitions, nextLink paging, 503 retry") {
    withServer { (base, _, _, _) =>
      val df = spark.read.format("graft.sources.sta")
        .option("path", base).option("transport", "http")
        .option("datastreams", "1,2").load()
      assert(df.rdd.getNumPartitions == 2) // one task per datastream
      val rows = df.select(Obs.IotId, Obs.DatastreamId, Obs.Result)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      assert(rows.map(_._1).toSeq == Seq(11L, 12L, 13L, 21L, 22L)) // both pages, both streams
      assert(rows.filter(_._2 == 1L).map(_._3).sum == 6.0)
    }
  }

  test("http transport: more datastreams than cores share one partition " +
    "per core, each stream's pages fetched once") {
    val ids = (1 to 10).map(_.toLong)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    withServer { (base, _, _, urls) =>
      val grouped = staRead(base, ids)
      val parts = grouped.rdd.getNumPartitions
      assert(parts <= 4 && parts == math.min(ids.size, spark.sparkContext.defaultParallelism),
        s"$parts partitions for ${ids.size} datastreams")
      val groupedRows = rows(grouped)
      // each page URL twice: the fixture's one 503, then its one 200
      val groupedUrls = urls.toArray.map(_.toString).groupBy(identity).map {
        case (u, hits) => u -> hits.length }
      assert(groupedUrls.values.forall(_ == 2), s"repeated GETs: $groupedUrls")
      urls.clear()
      val perStream = ids.flatMap(id => rows(staRead(base, Seq(id)))).sortBy(_._1)
      assert(groupedRows == perStream)
      assert(groupedRows.map(_._2).distinct.size == ids.size)
      // the same pages as the per-stream reads, which page every
      // `Datastream/id eq k` URL including the second pages
      assert(groupedUrls.keySet == urls.toArray.map(_.toString).toSet)
      assert(groupedUrls.size == ids.size + 1 + ids.count(k => k > 2 && k % 2 == 0))
    }
  }

  test("http transport: pushed time filter enforced end-to-end") {
    withServer { (base, _, _, _) =>
      val df = spark.read.format("graft.sources.sta")
        .option("path", base).option("transport", "http")
        .option("datastreams", "1,2").load()
      val cut = java.sql.Timestamp.valueOf("2024-01-01 00:15:00")
      val late = df.filter(col(Obs.Time) > lit(cut))
      assert(late.count() == 3) // obs 13 (ds1 page 2) + 21, 22
    }
  }

  test("$batch PATCH write-back batches per partition with wire codes") {
    withServer { (base, patched, _, _) =>
      import spark.implicits._
      val flagged = (1L to 150L).map(id =>
          (id, if (id % 2 == 1) graft.core.Flags.Bad else graft.core.Flags.Good))
        .toDF(Obs.IotId, Obs.QcFlag)
        .withColumn(Obs.QcFlag, col(Obs.QcFlag).cast("tinyint"))
        .repartition(1)
      PatchSink.httpBatchSink(flagged, base.replace("/sta", "/batch"))
      val bodies = patched.toArray.map(_.toString)
      assert(bodies.length == 2, s"expected 2 batches, got ${bodies.length}") // 150 rows, 100 a batch
      val all = bodies.mkString
      assert(all.contains("Observations(11)") && all.contains("Observations(13)"))
      assert(all.contains("\"method\":\"patch\""))
    }
  }

  test("golden end-to-end: loopback FROST → HTTP source (pushed time " +
    "filter) → full §3.1 QC chain → $batch PATCH sink, equal to the " +
    "captured-file batch path") {
    withServer { (base, patched, _, urls) =>
      import graft.pipeline.QcMain
      import graft.ops.Geo
      // ---- LIVE path: HTTP source with a pushed time filter feeding
      // the whole lifecycle in one lineage
      val cut = java.sql.Timestamp.valueOf("2024-01-01 00:15:00")
      val live = spark.read.format("graft.sources.sta")
        .option("path", base).option("transport", "http")
        .option("datastreams", "1,2").load()
        .filter(col(Obs.Time) > lit(cut))
      val cfg = QcMain.Config(
        rangeBounds = Map(1L -> (0.0, 2.5), 2L -> (0.0, 4.5)),
        regions = Seq(Geo.BoxRegion("NORTH SEA", "SOUTHERN BIGHT",
          51.0, 52.0, 2.5, 3.5)))
      val (flaggedLive, _) = QcMain.runFrom(spark, live, cfg)
      val liveFlags = flaggedLive.select(col(Obs.IotId), col("flag"))
        .collect().map(r => r.getLong(0) -> r.getByte(1)).toMap
      flaggedLive.unpersist()
      // the time filter REACHED the server as OData (source pushdown in
      // the same run as the sink below, not a separate spec)
      assert(urls.toArray.exists(_.toString.contains("phenomenonTime gt")),
        s"no pushed time filter on the wire: ${urls.toArray.mkString(" | ")}")
      // only the filter-admitted rows flow through: 13 (ds1 page 2 —
      // so paging composed with pushdown too), 21, 22
      assert(liveFlags.keySet == Set(13L, 21L, 22L))
      // flags are non-degenerate: the range config splits good from bad
      assert(liveFlags(21L) != liveFlags(22L))

      // ---- live sink: the same flagged frame PATCHes back via $batch
      PatchSink.httpBatchSink(
        flaggedLive.withColumn(Obs.QcFlag, col("flag")).repartition(1),
        base.replace("/sta", "/batch"))
      val patchOps = "\"url\":\"Observations\\((\\d+)\\)\",\"body\":\\{\"resultQuality\":(\\d+)".r
        .findAllMatchIn(patched.toArray.mkString)
        .map(m => m.group(1).toLong -> m.group(2).toInt).toMap

      // ---- BATCH path: the identical payload as a captured response
      // file (what the same $filter query would have captured), through
      // the file entry + the patch-file sink
      val fixture = java.nio.file.Files.createTempFile("sta_golden", ".json")
      java.nio.file.Files.writeString(fixture,
        s"""{"Datastreams":[${dsJson(1, ds1page2)},${dsJson(2, ds2obs)}]}""")
      val patchDir = java.nio.file.Files.createTempDirectory("golden_patch").toString
      val (flaggedFile, _) = QcMain.runFrom(spark,
        spark.read.format("graft.sources.sta").option("path", fixture.toString).load(), cfg,
        patchOut = Some(patchDir))
      val fileFlags = flaggedFile.select(col(Obs.IotId), col("flag"))
        .collect().map(r => r.getLong(0) -> r.getByte(1)).toMap
      flaggedFile.unpersist()

      // the two transports agree flag-for-flag…
      assert(liveFlags == fileFlags,
        s"live=$liveFlags file=$fileFlags")
      // …and sink-for-sink: the wire PATCH ops equal the patch file
      val fileOps = spark.read.json(patchDir)
        .collect().map(r => r.getLong(r.fieldIndex("id")) ->
          r.getLong(r.fieldIndex("resultQuality")).toInt).toMap
      assert(patchOps == fileOps, s"wire=$patchOps file=$fileOps")
      assert(patchOps.keySet == Set(13L, 21L, 22L))
    }
  }

  test("http transport: a partition's fetches overlap, and its rows keep " +
    "the per-stream reads' order") {
    val d = 400L
    val ids = (1L to 16L)
    withSlowServer(d) { (base, t) =>
      val df = staRead(base, ids)
      val n = df.rdd.getNumPartitions
      assert(n <= 4 && n == math.min(ids.size, spark.sparkContext.defaultParallelism))
      val (rows, ms) = timed(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
      // one after another, each partition waits at least 4·d (4 streams,
      // some of two pages); overlapped, at most 2·d (two pages in order)
      assert(ms < 4 * d, s"read took $ms ms, d = $d ms")
      assert(t.peak.get > n, s"at most ${t.peak.get} requests at once over $n partitions")
      info(s"${t.requests.get} requests, at most ${t.peak.get} at once, " +
        s"${t.connections.size} client connections")
      // rows in partition order, each partition's streams in fetch order
      t.delayMs = 0
      val perStream = ids.map(id => id -> staRead(base, Seq(id)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq).toMap
      val expected = (0 until n).flatMap(k => ids.indices.filter(_ % n == k).flatMap(i => perStream(ids(i))))
      assert(rows.toSeq == expected)
    }
  }

  test("http transport: a failed fetch fails the read without waiting for the others") {
    val d = 200L
    withSlowServer(d) { (base, _) =>
      val ids = (1L to 7L) ++ Seq(404L) ++ (9L to 16L)
      val (e, ms) = timed(intercept[org.apache.spark.SparkException](staRead(base, ids).collect()))
      assert(causes(e).exists(_.isInstanceOf[StaHttp.HttpFailure]), e)
      assert(ms < 20 * d, s"failed read took $ms ms")
    }
  }

  test("http transport: limit(1) over a many-stream partition cancels its " +
    "fetches; nothing reaches the server after the action") {
    val d = 300L
    withSlowServer(d) { (base, t) =>
      // 10 streams per partition: more than the 8 a partition runs at once
      val rows = staRead(base, (1L to 40L)).limit(1).collect()
      assert(rows.length == 1)
      val atReturn = t.requests.get
      Thread.sleep(3 * d)
      assert(t.requests.get == atReturn,
        s"${t.requests.get - atReturn} requests arrived after the action returned")
      // the first partition alone ran (ids 1, 5, …, 37), and not all of
      // its 11 pages
      assert(atReturn < 11, s"$atReturn requests")
    }
  }

  test("$batch POSTs of one partition overlap, each id sent once") {
    val d = 400L
    withSlowServer(d) { (base, t) =>
      import spark.implicits._
      val flagged = (1L to 800L).map(id => (id, graft.core.Flags.Good)).toDF(Obs.IotId, Obs.QcFlag)
        .withColumn(Obs.QcFlag, col(Obs.QcFlag).cast("tinyint"))
        .repartition(1)
      val (_, ms) = timed(PatchSink.httpBatchSink(flagged, base.replace("/sta", "/batch")))
      assert(t.batches.size == 8)
      assert(ms < 4 * d, s"8 batches took $ms ms, d = $d ms") // one after another: 8·d
      val sent = "Observations\\((\\d+)\\)".r.findAllMatchIn(t.batches.toArray.mkString)
        .map(_.group(1).toLong).toSeq
      assert(sent.sorted == (1L to 800L))
      info(s"at most ${t.peak.get} POSTs at once, ${t.connections.size} client connections")
    }
  }

  test("$batch sub-requests the service rejects fail the sink, naming their ids") {
    // the service rejects the PATCH of observation 12 inside a 200 reply
    val reply = (body: String) => {
      val ids = "Observations\\((\\d+)\\)".r.findAllMatchIn(body).map(_.group(1)).toSeq
      ids.zipWithIndex.map { case (id, i) =>
        val status = if (id == "12") 404 else 200
        s"""{"id":"$i","status":$status,"body":{}}"""
      }.mkString("""{"responses":[""", ",", "]}")
    }
    withSlowServer(0L, reply) { (base, t) =>
      import spark.implicits._
      // 150 rows: two batches of at most 100, id 12 in the first
      val flagged = (11L to 160L).map(id => (id, graft.core.Flags.Bad)).toDF(Obs.IotId, Obs.QcFlag)
        .withColumn(Obs.QcFlag, col(Obs.QcFlag).cast("tinyint"))
        .repartition(1)
      val e = intercept[org.apache.spark.SparkException](
        PatchSink.httpBatchSink(flagged, base.replace("/sta", "/batch")))
      val failure = causes(e).collectFirst { case f: StaHttp.HttpFailure => f }
      assert(failure.exists(_.getMessage.endsWith("observations 12")), e)
      assert(t.batches.size == 2)
    }
  }

  test("get retries 5xx then fails fast on 4xx") {
    withServer { (base, _, requests, _) =>
      val before = requests.get()
      StaHttp.get(s"$base?probe=1") // 503 once, then 200
      assert(requests.get() - before == 2)
      intercept[StaHttp.HttpFailure] {
        // /nope has no context → 404 from the server → fail fast
        StaHttp.get(s"http://127.0.0.1:${new java.net.URI(base).getPort}/nope")
      }
    }
  }
}
