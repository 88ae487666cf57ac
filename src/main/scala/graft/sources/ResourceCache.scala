package graft.sources

import graft.sources.sta.StaHttp

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

/** Driver-side download-and-cache for static reference resources — the
  * bathymetry grid and land shapefile the QC pipeline needs on every run
  * (reference `get_elev_netcdf` / `get_ne_10m_shp` calls,
  * `/root/reference/src/main.py:560,577,595`: ensure the file exists in
  * a local `resources/` folder, downloading once if missing).
  *
  * Semantics:
  *   - cache hit (file exists and matches the expected checksum, when
  *     given) → returns the path, no network touched;
  *   - miss → GET through [[StaHttp.getBytes]]'s retry loop (5xx, 429
  *     and connection errors retry; other failures throw
  *     [[StaHttp.HttpFailure]]), verify the checksum, then write a temp
  *     file and move it atomically into place — a torn or corrupted
  *     download can never be half-cached;
  *   - checksum mismatch on an existing file → re-download (a partial
  *     file from a killed previous run heals instead of poisoning every
  *     later run).
  *
  * Driver-only by design: reference resources are single files loaded
  * once and broadcast (via GridLoader / PolygonTable); executors never
  * fetch.
  */
object ResourceCache {

  def sha256Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  private def ok(p: Path, sha256: Option[String]): Boolean =
    Files.isRegularFile(p) && sha256.forall(
      _.equalsIgnoreCase(sha256Hex(Files.readAllBytes(p))))

  /** Ensure `url`'s content exists at `localFolder/fileName` and return
    * the path. `sha256` (hex) pins the content when given — checked on
    * both cache hits and fresh downloads. A miss makes at most `retries`
    * download attempts.
    */
  def fetch(url: String, localFolder: String, fileName: String,
            sha256: Option[String] = None, retries: Int = 3): Path = {
    val dir = Paths.get(localFolder)
    Files.createDirectories(dir)
    val target = dir.resolve(fileName)
    if (ok(target, sha256)) return target

    val bytes = StaHttp.getBytes(url, retries = retries - 1, backoffMs = 200L,
      timeoutMs = 120000)
    sha256.foreach { want =>
      val got = sha256Hex(bytes)
      require(want.equalsIgnoreCase(got),
        s"checksum mismatch for $url: expected $want, got $got")
    }
    val tmp = Files.createTempFile(dir, s".$fileName.", ".part")
    try {
      Files.write(tmp, bytes)
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    target
  }
}
