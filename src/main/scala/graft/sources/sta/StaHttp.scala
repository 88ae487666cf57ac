package graft.sources.sta

/** Minimal HTTP transport for the STA source and patch sink (reference
  * `get_with_retry` `src/main.py:107-118` — bounded retries with linear
  * backoff on 5xx/connect errors; `patch_qc_flags` `src/main.py:854-859`
  * — flag write-back batched through the service's `$batch` endpoint).
  *
  * Plain `HttpURLConnection` (JDK built-in, executor-safe, no extra
  * dependency). Everything here runs ON EXECUTORS — one reader/sender per
  * partition is the Spark replacement for the reference's thread pool.
  */
object StaHttp {

  final class HttpFailure(msg: String) extends RuntimeException(msg)

  /** GET with retry: 5xx/429 and connection errors retry with linear
    * backoff; other non-2xx codes fail fast (a 404 won't heal).
    */
  def get(url: String, retries: Int = 3, backoffMs: Long = 100L): String =
    new String(getBytes(url, retries, backoffMs), "UTF-8")

  /** [[get]]'s retry loop returning the raw body (binary downloads such
    * as [[graft.sources.ResourceCache]]'s); `readTimeoutMs` bounds each
    * read.
    */
  def getBytes(url: String, retries: Int = 3, backoffMs: Long = 100L,
               readTimeoutMs: Int = 60000): Array[Byte] =
    withRetry(url, retries, backoffMs, readTimeoutMs) { conn =>
      conn.setRequestMethod("GET")
    }

  /** POST a JSON body (the `$batch` patch payload). */
  def postJson(url: String, body: String, retries: Int = 3,
               backoffMs: Long = 100L): String = {
    val resp = withRetry(url, retries, backoffMs, readTimeoutMs = 60000) { conn =>
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setDoOutput(true)
      val out = conn.getOutputStream
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    new String(resp, "UTF-8")
  }

  private def withRetry(url: String, retries: Int, backoffMs: Long,
                        readTimeoutMs: Int)
                       (prepare: java.net.HttpURLConnection => Unit): Array[Byte] = {
    var attempt = 0
    var lastErr: String = ""
    while (attempt <= retries) {
      if (attempt > 0) Thread.sleep(backoffMs * attempt)
      try {
        val conn = java.net.URI.create(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setConnectTimeout(10000)
        conn.setReadTimeout(readTimeoutMs)
        prepare(conn)
        val code = conn.getResponseCode
        if (code >= 200 && code < 300) {
          val in = conn.getInputStream
          try return in.readAllBytes() finally in.close()
        }
        // drain + close the error body: an unread stream pins the pooled
        // keep-alive socket, leaking one per executor-side retry loop
        val err = conn.getErrorStream
        if (err != null) {
          try { err.readAllBytes(); () } catch { case _: java.io.IOException => }
          finally err.close()
        }
        conn.disconnect()
        lastErr = s"HTTP $code"
        if (code < 500 && code != 429) // client errors don't heal
          throw new HttpFailure(s"$lastErr for $url")
      } catch {
        case e: HttpFailure => throw e
        case e: java.io.IOException => lastErr = e.toString
      }
      attempt += 1
    }
    throw new HttpFailure(s"retries exhausted ($lastErr) for $url")
  }

  /** URL-encode one OData query value. */
  def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")
}
