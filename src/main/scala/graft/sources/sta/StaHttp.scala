package graft.sources.sta

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse, HttpTimeoutException}
import java.time.Duration
import java.util.concurrent.{CountDownLatch, ExecutionException, ExecutorService, Executors,
  FutureTask, LinkedBlockingQueue, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

/** Minimal HTTP transport for the STA source and patch sink (reference
  * `get_with_retry` `src/main.py:107-118` — bounded retries with linear
  * backoff on 5xx/connect errors; `patch_qc_flags` `src/main.py:854-859`
  * — flag write-back batched through the service's `$batch` endpoint;
  * the reference fetches and patches on threads, `get_all_data`
  * `src/main.py:336-364`, patch thread `:638-652`).
  *
  * One JVM-wide `java.net.http.HttpClient` (JDK built-in, no extra
  * dependency) sends every request over HTTP/1.1. Its pool keeps every
  * idle keep-alive connection, however many requests were in flight, so
  * overlapped requests reuse their connections (the JDK's
  * `HttpURLConnection` keeps 5 idle per host and opens, against an HTTPS
  * service, a new TLS session for each request past that). Everything
  * here runs ON EXECUTORS: within one task, [[inFlight]] keeps up to
  * [[MaxInFlight]] round trips waiting at once.
  */
object StaHttp {

  final class HttpFailure(msg: String) extends RuntimeException(msg)

  private lazy val client: HttpClient = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .followRedirects(HttpClient.Redirect.NORMAL)
    .connectTimeout(Duration.ofSeconds(10))
    .build()

  // retries after the first attempt, and the linear backoff step
  private val Retries = 3
  private val BackoffMs = 100L

  /** GET with retry: 5xx/429 and connection errors retry with linear
    * backoff; other non-2xx codes fail fast (a 404 won't heal).
    */
  def get(url: String): String = new String(getBytes(url), "UTF-8")

  /** [[get]]'s retry loop returning the raw body (binary downloads such
    * as [[graft.sources.ResourceCache]]'s); `timeoutMs` bounds each
    * attempt, from sending the request to the last byte of the body.
    */
  def getBytes(url: String, retries: Int = Retries, backoffMs: Long = BackoffMs,
               timeoutMs: Int = 60000): Array[Byte] =
    withRetry(url, retries, backoffMs, timeoutMs)(_.GET())

  /** POST a JSON body (the `$batch` patch payload). */
  def postJson(url: String, body: String): String = {
    val resp = withRetry(url, Retries, BackoffMs, timeoutMs = 60000) {
      _.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body))
    }
    new String(resp, "UTF-8")
  }

  private def withRetry(url: String, retries: Int, backoffMs: Long, timeoutMs: Int)
                       (method: HttpRequest.Builder => HttpRequest.Builder): Array[Byte] = {
    val request = method(HttpRequest.newBuilder(URI.create(url))).build()
    var attempt = 0
    var lastErr: String = ""
    while (attempt <= retries) {
      if (attempt > 0) Thread.sleep(backoffMs * attempt)
      // a cancelled call (its thread interrupted) sends nothing more
      if (Thread.interrupted()) throw new InterruptedException(s"cancelled: $url")
      try {
        val pending = client.sendAsync(request, HttpResponse.BodyHandlers.ofByteArray())
        val resp = try pending.get(timeoutMs.toLong, TimeUnit.MILLISECONDS) catch {
          case e: ExecutionException => throw e.getCause
          case _: TimeoutException =>
            pending.cancel(true)
            throw new HttpTimeoutException(s"no complete reply in $timeoutMs ms")
          case e: InterruptedException => pending.cancel(true); throw e
        }
        val code = resp.statusCode
        if (code >= 200 && code < 300) return resp.body
        lastErr = s"HTTP $code"
        if (code < 500 && code != 429) // client errors don't heal
          throw new HttpFailure(s"$lastErr for $url")
      } catch {
        case e: java.io.IOException => lastErr = e.toString
      }
      attempt += 1
    }
    throw new HttpFailure(s"retries exhausted ($lastErr) for $url")
  }

  /** The most calls one [[inFlight]] has started and not yet handed out.
    * Each call mostly waits on the network and the service's query; with
    * 8, a traced `cron_15min` window (4 cores, loopback server) fetched
    * its 62 pages in 0.42 s instead of 1.07 s one after another.
    */
  private val MaxInFlight = 8

  /** Runs [[inFlight]]'s calls: daemon threads, created on first use and
    * shared by every task of the JVM; an idle thread ends after 60 s.
    */
  private lazy val pool: ExecutorService = {
    val n = new AtomicInteger
    Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, s"sta-http-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** Runs `calls` on the shared pool and yields their results in input
    * order. At most [[MaxInFlight]] calls are started and not yet handed
    * out: the next one starts when a result is taken, so memory holds at
    * most that many results. `calls` itself is only advanced on the
    * caller's thread. The first failure, of whichever call, is rethrown
    * from `next()` once it is seen, and the other calls are cancelled.
    * `close()` cancels what is left and returns once no call is running,
    * so nothing more reaches the service after it.
    */
  def inFlight[T](calls: IterableOnce[() => T]): InFlight[T] = new InFlight(calls.iterator)

  final class InFlight[T] private[StaHttp] (calls: Iterator[() => T])
      extends Iterator[T] with AutoCloseable {

    private final class Call(f: () => T) extends FutureTask[T](() => f()) {
      private val exited = new CountDownLatch(1)
      // a cancelled call still gets here: the pool runs every task it takes
      override def run(): Unit = try super.run() finally exited.countDown()
      override protected def done(): Unit = finished.add(this)
      def result(): T = try this.get() catch { case e: ExecutionException => throw e.getCause }
      def awaitExit(): Unit = {
        var interrupted = false
        while (exited.getCount > 0)
          try exited.await() catch { case _: InterruptedException => interrupted = true }
        if (interrupted) Thread.currentThread().interrupt()
      }
    }

    /** Calls in the order they finished, each once (taken or not). */
    private val finished = new LinkedBlockingQueue[Call]()
    private val window = scala.collection.mutable.Queue.empty[Call]

    private def fill(): Unit =
      while (window.size < MaxInFlight && calls.hasNext) {
        val c = new Call(calls.next())
        window.enqueue(c)
        pool.execute(c)
      }

    private def closingOnFailure[A](body: => A): A =
      try body catch { case e: Throwable => close(); throw e }

    closingOnFailure(fill())

    override def hasNext: Boolean = window.nonEmpty

    override def next(): T = closingOnFailure {
      val head = window.head
      // a later call's failure ends the run without waiting for the head
      while (!head.isDone) finished.take().result()
      val r = head.result()
      window.dequeue()
      fill()
      r
    }

    override def close(): Unit = {
      window.foreach(_.cancel(true))
      window.foreach(_.awaitExit())
      window.clear()
    }
  }

  /** URL-encode one OData query value. */
  def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")
}
