package graft.perfbench

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** Loopback SensorThings (FROST-shaped) server over a generated track, on
  * the JDK `HttpServer` with at most `threads` handler threads.
  *
  *  - `GET <base>/Datastreams?$filter=…` honours the filter the `sta`
  *    source compiles (`phenomenonTime gt X`, `phenomenonTime lt Y`,
  *    `Datastream/id eq N`), pages `pageSize` observations per response
  *    and links the next page through `@iot.nextLink` with `$skip`.
  *  - `POST <base>/$batch` acknowledges a JSON batch and keeps its body for
  *    the output checks.
  *
  * It counts requests, pages, bytes each way, 5xx responses and repeat
  * GETs: a GET of a `$filter`/`$skip` already served in the same window is
  * a client retry (`StaHttp` retries a GET after a connection error or a
  * non-2xx status).
  *
  * Every observation's JSON is rendered once at construction, so serving
  * a page costs a binary search and a copy.
  */
final class StaFixture(track: ShipTrack.Track, pageSize: Int, threads: Int) {

  private val nStreams = track.streams.length
  private val streamIdx: Map[Long, Int] = track.streams.map(_.id).zipWithIndex.toMap
  private val timesUs: Array[Array[Long]] = Array.tabulate(nStreams) { k =>
    (track.streamStart(k) until track.streamStart(k + 1)).map(track.timeUs).toArray
  }
  private val headers: Array[Array[Byte]] = track.streams.map { s =>
    (s"""{"Datastreams":[{"@iot.id":${s.id},"description":"${s.property} underway",""" +
      s""""unitOfMeasurement":{"name":"unit"},"ObservedProperty":{"@iot.id":""" +
      s"""${s.id % 100},"name":"${s.property}"},"Sensor":{"name":"belgica-${s.id}"},""" +
      """"Observations":[""").getBytes(UTF_8)
  }.toArray
  private val rendered: Array[Array[Byte]] = Array.tabulate(track.rows) { i =>
    val t = track.tSec(i)
    (s"""{"@iot.id":${track.iotId(i)},"result":${track.value(i)},""" +
      s""""phenomenonTime":"${java.time.Instant.ofEpochSecond(track.t0Us / 1000000L + t)}",""" +
      s""""resultQuality":0,"FeatureOfInterest":{"@iot.id":${track.featureId(i)},""" +
      s""""feature":{"type":"Point","coordinates":[${track.lon(t)},${track.lat(t)}]}}}""")
      .getBytes(UTF_8)
  }

  private val gets, pages, posts, bytesOut, bytesIn, errors5xx, repeats = new AtomicLong
  /** Row ranges `[from, until)` served, in track row numbers. */
  private val served = new ConcurrentLinkedQueue[(Int, Int)]()
  /** Query strings (`$filter`, `$skip`) asked for since the last [[takeServed]]:
    * asking for one again is a client retry, counted in `repeats`.
    */
  private val asked = ConcurrentHashMap.newKeySet[String]()
  private val batchBodies = new ConcurrentLinkedQueue[Array[Byte]]()

  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  private val base = s"http://127.0.0.1:${server.getAddress.getPort}/FROST-Server/v1.1"
  val datastreamsUrl: String = s"$base/Datastreams"
  val batchUrl: String = s"$base/$$batch"

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, body.length)
    val os = ex.getResponseBody
    try os.write(body) finally os.close()
    bytesOut.addAndGet(body.length)
    if (code >= 500) errors5xx.incrementAndGet()
  }

  private val GtRe = "phenomenonTime gt (\\S+)".r
  private val LtRe = "phenomenonTime lt (\\S+)".r
  private val DsRe = "Datastream/id eq (\\d+)".r

  private def param(rawQuery: String, name: String): Option[String] =
    rawQuery.split('&').iterator.map(_.split("=", 2)).collectFirst {
      case Array(k, v) if java.net.URLDecoder.decode(k, UTF_8) == name =>
        java.net.URLDecoder.decode(v, UTF_8)
    }

  private def micros(iso: String): Long = {
    val i = java.time.Instant.parse(iso)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** First index whose time is > `us` (when `after`) or >= `us`. */
  private def bound(ts: Array[Long], us: Long, after: Boolean): Int = {
    var lo = 0; var hi = ts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ts(mid) < us || (after && ts(mid) == us)) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def page(rawQuery: String): (Int, Array[Byte]) = {
    val filter = param(rawQuery, "$filter").getOrElse("")
    val skip = param(rawQuery, "$skip").map(_.toInt).getOrElse(0)
    val k = DsRe.findFirstMatchIn(filter).flatMap(m => streamIdx.get(m.group(1).toLong))
    if (k.isEmpty) return (400, """{"error":"one Datastream/id per request"}""".getBytes(UTF_8))
    val ts = timesUs(k.get)
    val from = GtRe.findFirstMatchIn(filter).map(m => bound(ts, micros(m.group(1)), after = true))
      .getOrElse(0)
    val until = LtRe.findFirstMatchIn(filter).map(m => bound(ts, micros(m.group(1)), after = false))
      .getOrElse(ts.length)
    val start = math.min(from + skip, math.max(from, until))
    val end = math.min(start + pageSize, math.max(until, start))
    val off = track.streamStart(k.get)
    val out = new ByteArrayOutputStream(headers(k.get).length + (end - start) * 200 + 256)
    out.write(headers(k.get))
    var i = start
    while (i < end) {
      if (i > start) out.write(',')
      out.write(rendered(off + i))
      i += 1
    }
    out.write("]}]".getBytes(UTF_8))
    if (end < until) {
      val next = s"$datastreamsUrl?%24filter=${graft.sources.sta.StaHttp.enc(filter)}" +
        s"&%24skip=${skip + pageSize}"
      out.write(s""","@iot.nextLink":"$next"""".getBytes(UTF_8))
    }
    out.write('}')
    if (end > start) served.add((off + start, off + end))
    pages.incrementAndGet()
    (200, out.toByteArray)
  }

  server.createContext("/FROST-Server/v1.1/Datastreams", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = try {
      gets.incrementAndGet()
      val query = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      if (!asked.add(query)) repeats.incrementAndGet()
      val (code, body) = page(query)
      respond(ex, code, body)
    } finally ex.close()
  })
  server.createContext("/FROST-Server/v1.1/$batch", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = try {
      posts.incrementAndGet()
      val body = ex.getRequestBody.readAllBytes()
      bytesIn.addAndGet(body.length)
      batchBodies.add(body)
      respond(ex, 200, """{"responses":[]}""".getBytes(UTF_8))
    } finally ex.close()
  })
  server.start()

  /** Counter values, for per-window deltas. */
  def counters: Map[String, Long] = Map("gets" -> gets.get, "pages" -> pages.get,
    "posts" -> posts.get, "bytes_out" -> bytesOut.get, "bytes_in" -> bytesIn.get,
    "5xx" -> errors5xx.get, "repeats" -> repeats.get)

  /** Drain what the server recorded since the last call; a window's
    * requests start a new set for the retry count.
    */
  def takeServed(): Seq[(Int, Int)] = {
    asked.clear()
    Iterator.continually(served.poll()).takeWhile(_ != null).toSeq
  }
  def takeBatches(): Seq[Array[Byte]] =
    Iterator.continually(batchBodies.poll()).takeWhile(_ != null).toSeq

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object StaFixture {
  private val SubRequest =
    "\"url\":\"Observations\\((\\d+)\\)\",\"body\":\\{\"resultQuality\":(\\d+)".r

  /** (observation id, wire code) of every PATCH sub-request in the bodies. */
  def patches(bodies: Seq[Array[Byte]]): Seq[(Long, Int)] =
    bodies.flatMap { b =>
      SubRequest.findAllMatchIn(new String(b, UTF_8)).map(m => m.group(1).toLong -> m.group(2).toInt)
    }
}
