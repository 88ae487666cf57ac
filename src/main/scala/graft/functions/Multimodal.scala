package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata; decode / feature-extraction runs
  * per-partition through the deterministic [[StubMediaCodec]] (the
  * engine depends on no media library).
  *
  * Scale design: payloads never shuffle — metadata extraction and
  * featurization are map-side (`mapPartitions`), and downstream analytics
  * select only the small feature/metadata columns so Parquet column
  * pruning keeps the 100 TB of blobs on disk.
  */
object Multimodal {

  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])
  final case class Decoded(width: Int, height: Int, checksum: String,
                           feature: Array[Float])
  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                                 checksum: String, width: Int, height: Int,
                                 feature: Array[Float])

  /** The codec the media operators decode, resample and demux through:
    * a deterministic stand-in with no media library behind it. Every
    * output is pure integer arithmetic over the payload bytes, which
    * keeps the operators oracle-checkable end to end (see `mm_features`'
    * SQL mirror): n = byte count, s = unsigned byte sum, width = n % 640,
    * height = s % 480, checksum = %08x of s, feature[i] =
    * ((s + 31i) % 997) / 997. Frames are fixed 256-byte slices.
    */
  object StubMediaCodec extends Serializable {
    private def byteSum(payload: Array[Byte]): Long =
      payload.foldLeft(0L)((a, b) => a + (b & 0xff))

    /** Decode one payload → dimensions, checksum, feature vector. */
    def decode(kind: String, payload: Array[Byte]): Decoded = {
      val n = payload.length.toLong
      val sum = byteSum(payload)
      Decoded(width = (n % 640).toInt, height = (sum % 480).toInt,
        checksum = f"$sum%08x",
        feature = Array.tabulate(8)(i => ((sum + i * 31) % 997).toFloat / 997f))
    }

    /** Decode + resample to (targetW, targetH) + re-encode. */
    def resize(kind: String, payload: Array[Byte],
               targetW: Int, targetH: Int): Array[Byte] = {
      val srcLen = math.max(payload.length, 1)
      val outLen = math.max(targetW * targetH / 64, 1)
      Array.tabulate(outLen)(i =>
        if (payload.isEmpty) 0.toByte else payload(i % srcLen))
    }

    private val FrameSize = 256

    /** Number of decodable frames in a video payload (>= 1). */
    def frameCount(payload: Array[Byte]): Int =
      math.max(payload.length / FrameSize, 1)

    /** Decoded bytes of frame `idx` (0-based, < frameCount). */
    def frameAt(payload: Array[Byte], idx: Int): Array[Byte] = {
      val from = math.min(idx * FrameSize, math.max(payload.length - 1, 0))
      val until = math.min(from + FrameSize, payload.length)
      java.util.Arrays.copyOfRange(payload, from, math.max(until, from))
    }
  }

  /** ImageIO's stream wrappers default to DISK-backed caches: every
    * read/write through the InputStream/OutputStream entry points
    * creates (and deletes) a temp FILE per image. Every payload in this
    * engine is an in-memory byte array of a few KB — the memory-cached
    * stream is strictly faster and byte-identical. JVM-global and
    * idempotent; called at the top of every per-task decode/encode loop
    * so executor JVMs flip it too (measured: the mm_video generator +
    * decode paid ~60k temp-file create/deletes per sf0.1 run).
    */
  private[graft] def noDiskImageCache(): Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Wrap a text table as fake media payloads (utf-8 bytes) — the
    * stand-in corpus for plumbing tests at any SF.
    */
  def documentsAsMedia(spark: SparkSession, sfDir: String): DataFrame = {
    spark.read.parquet(s"$sfDir/documents.parquet").select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("kind"),
      encode(col("text"), "UTF-8").as("payload"))
  }

  /** Decode + featurize each payload through [[StubMediaCodec]],
    * map-side.
    */
  def decodeAndFeaturize(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val d = StubMediaCodec.decode(r.kind, r.payload)
        MediaFeatures(r.media_id, r.kind, r.payload.length.toLong,
          d.checksum, d.width, d.height, d.feature)
      }
    }
  }

  /** Metadata-only pass (no decode): pure column expressions — the shape
    * every 100 TB pipeline should use before deciding what to decode.
    */
  def metadata(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("kind"),
      octet_length(col("payload")).cast("long").as("n_bytes"),
      md5(col("payload")).as("checksum"))

  final case class ContainerMeta(media_id: Long, format: String,
                                 duration_ms: Long, width: Int, height: Int,
                                 n_frames: Int, n_keyframes: Int,
                                 key_sum: Long, first_key_offset: Long)

  /** Container-level metadata of MP4/WebM payloads WITHOUT any codec:
    * [[MediaContainers.parse]] per payload, map-side (the payload bytes
    * never shuffle — only this small typed row moves on). `key_sum` is
    * the order-pinning checksum Σ keyframe indices; `first_key_offset`
    * the byte position of the first keyframe (−1 when the container
    * carries no derivable offsets).
    */
  def containerMetadata(media: DataFrame): Dataset[ContainerMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val ci = MediaContainers.parse(payload)
          ContainerMeta(id, ci.format, ci.durationMs, ci.width, ci.height,
            ci.frameCount, ci.keyframes.length,
            ci.keyframes.map(_.toLong).sum,
            ci.keyframeOffsets.headOption.getOrElse(-1L))
        }
      }
  }

  /** Content-hash dedup of binary payloads — the first pass of any
    * multimodal training-data pipeline (identical images/audio recur
    * massively in web-scale corpora). Only (media_id, checksum) enters
    * the shuffle: md5 is computed map-side and the payload bytes never
    * leave their scan partitions. Same group semantics and same
    * two-phase shape as [[graft.functions.Dedup.exact]]: canonical =
    * min media_id per checksum group via groupBy partial aggregation +
    * join-back (a web-scale corpus has mega-dup payloads — a
    * count-over-window on checksum would colocate each such group on
    * one task; the partial agg collapses it map-side).
    */
  def dedupByContent(media: DataFrame): DataFrame = {
    val hashed = media.select(col("media_id"), md5(col("payload")).as("checksum"))
    val stats = hashed.groupBy(col("checksum").as("__ck"))
      .agg(min(col("media_id")).as("canonical_id"), count(lit(1)).as("group_size"))
    hashed.join(stats, col("checksum") <=> col("__ck"))
      .drop("__ck")
      .withColumn("is_duplicate", col("media_id") =!= col("canonical_id"))
  }

  final case class PHashRow(media_id: Long, phash: Long)

  /** Perceptual difference-hash (dHash, Krawetz): resample the payload
    * to a 64+1-value row through the codec and take the 64 adjacent
    * unsigned greater-than bits — near-identical images differ in a few
    * bits where a cryptographic hash differs in all of them. Map-side;
    * only (id, 64-bit hash) moves on.
    */
  def perceptualHash(media: DataFrame): Dataset[PHashRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    // empty payloads carry no pixels to hash: they would all collide on
    // phash 0 and pair quadratically, and the oracle filters them too
    media.filter(length(col("payload")) > 0).as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val b = StubMediaCodec.resize(r.kind, r.payload, 64, 65) // 65 values
        var h = 0L
        var i = 0
        while (i < 64 && i + 1 < b.length) {
          if ((b(i) & 0xff) > (b(i + 1) & 0xff)) h |= 1L << i
          i += 1
        }
        PHashRow(r.media_id, h)
      }
    }
  }

  final case class VideoPhashRow(media_id: Long, frame_idx: Int,
                                 frame_w: Int, frame_h: Int, phash: Long)

  /** I-frame perceptual hash for intra-coded video (the MJPEG-style
    * shape: every sample a standalone JPEG/PNG image), MP4 AND WebM:
    * slice each keyframe's exact bytes out of the container
    * ([[MediaContainers.mp4KeyframeSpans]] — stss × stsz × stco — or
    * [[MediaContainers.webmKeyframeSpans]] — keyflagged SimpleBlocks),
    * decode it standalone with ImageIO, and dHash the 65 column-mean
    * lumas (integer 299/587/114 luma, integer means — adjacent
    * greater-than bits, same convention as [[perceptualHash]]). This
    * extends perceptual near-dup detection from images to video without
    * a codec dependency: intra frames decode through the same
    * `javax.imageio` path the image rows use. Map-side only — payloads
    * never shuffle; only (id, frame, dims, 64-bit hash) rows move on.
    *
    * ==Decode contract (explicit boundary, not an implementation
    * detail)==
    * Coverage is INTRA-ONLY keyframes: each keyframe's byte span must be
    * a standalone `javax.imageio`-decodable image (JPEG/PNG/BMP/GIF —
    * the MJPEG-in-MP4 / MJPEG-in-WebM family). Inter-frame codecs
    * (H.264, H.265, VP9, AV1) are OUT OF SCOPE BY DESIGN: their
    * keyframes need a codec library this engine deliberately does not
    * depend on. A keyframe that ImageIO cannot decode fails LOUDLY
    * (named media id + frame index + this contract), never silently
    * skips — silent skips would undercount scene cuts and phash dups
    * with no signal to the caller. Container parsing (MP4 stss/stsz/
    * stco, WebM SimpleBlocks) is codec-agnostic and stays in scope.
    */
  def videoKeyframePhash(media: DataFrame): Dataset[VideoPhashRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // Content-addressed decode memo, PER TASK (constructed here, dies
      // with the partition — never a cross-run or cross-query cache):
      // re-uploaded/re-muxed media repeat identical keyframe bytes, and
      // decoding identical bytes is the classic redundant work of a
      // video dedup pass. dHash is a pure function of the bytes, so a
      // byte-equal span short-circuits the ImageIO decode. Bounded: the
      // memo resets at 8192 entries (worst case all-distinct frames =
      // pre-memo behavior plus a hash probe).
      val memo = new java.util.HashMap[java.nio.ByteBuffer, VideoPhashRow]()
      noDiskImageCache()
      rows.flatMap { r =>
        val spans =
          if (MediaContainers.isMp4(r.payload))
            MediaContainers.mp4KeyframeSpans(r.payload)
          else if (MediaContainers.isWebm(r.payload))
            MediaContainers.webmKeyframeSpans(r.payload)
          else throw new IllegalArgumentException(
            s"media ${r.media_id}: neither MP4 nor WebM")
        spans.map { case (k, off, len) =>
          val key = java.nio.ByteBuffer.wrap(
            java.util.Arrays.copyOfRange(r.payload, off.toInt, off.toInt + len))
          val hit = memo.get(key)
          val dec = if (hit != null) hit else {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(r.payload, off.toInt, len))
            require(img != null,
              s"media ${r.media_id} keyframe $k: not a standalone " +
                "ImageIO-decodable image. videoKeyframePhash covers " +
                "INTRA-ONLY video (MJPEG-style JPEG/PNG samples); " +
                "inter-frame codecs (H.264/H.265/VP9/AV1) are out of " +
                "scope by design — transcode keyframes to MJPEG upstream " +
                "or extract stills with a codec-equipped tool first")
            val (w, h) = (img.getWidth, img.getHeight)
            // 65 sampled columns spread across the width (c*(w-1)/64 —
            // for a 65-px frame that is column c exactly), integer mean
            // luma down each column, 64 adjacent comparisons
            val colLuma = Array.tabulate(65) { c =>
              val x = c * (w - 1) / 64
              var sum = 0L
              var y = 0
              while (y < h) {
                val rgb = img.getRGB(x, y)
                sum += (299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff)
                  + 114L * (rgb & 0xff)) / 1000L
                y += 1
              }
              sum / h
            }
            var bits = 0L
            var i = 0
            while (i < 64) {
              if (colLuma(i) > colLuma(i + 1)) bits |= 1L << i
              i += 1
            }
            val row = VideoPhashRow(0L, 0, w, h, bits)
            if (memo.size >= 8192) memo.clear()
            memo.put(key, row)
            row
          }
          VideoPhashRow(r.media_id, k, dec.frame_w, dec.frame_h, dec.phash)
        }
      }
    }
  }

  /** Shot-boundary (scene-cut) detection over the keyframe stream: the
    * perceptual-hash flavor of the classic frame-difference detector —
    * successive keyframes whose dHashes differ by more than
    * `cutHamming` bits start a new scene. Returns one row per keyframe
    * with the Hamming distance to its predecessor (null for the first),
    * the cut flag, and a running scene index — the per-scene sampling
    * key a video-curation pipeline dedups/samples on (one frame per
    * scene instead of every-Nth-frame redundancy).
    *
    * Scale shape: hashing is [[videoKeyframePhash]]'s map-side pass;
    * only (id, frame, hash) rows shuffle into the per-video lag/cumsum
    * windows — keyframe counts per video are small by construction.
    */
  def videoSceneCuts(media: DataFrame, cutHamming: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ph = videoKeyframePhash(media).toDF()
    val w = Window.partitionBy(col("media_id")).orderBy(col("frame_idx").asc)
    val prev = lag(col("phash"), 1).over(w)
    ph.withColumn("hamming_prev",
        when(prev.isNotNull,
          bit_count(col("phash").bitwiseXOR(prev))).cast("int"))
      .withColumn("is_cut",
        coalesce(col("hamming_prev") > cutHamming, lit(false)))
      .withColumn("scene_idx",
        sum(col("is_cut").cast("long")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("int"))
      .select(col("media_id"), col("frame_idx"), col("phash"),
        col("hamming_prev"), col("is_cut"), col("scene_idx"))
  }

  /** Deterministic 65×3 PNG intra frame whose column `x` is the flat
    * gray `(x * mult + add) % 256` — PNG is lossless, so decoding
    * replays the integer formula exactly (the fixture the video-phash
    * oracle recomputes algebraically).
    */
  def pngColumnFrame(mult: Int, add: Int): Array[Byte] = {
    noDiskImageCache()
    val img = new java.awt.image.BufferedImage(65, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var x = 0
    while (x < 65) {
      val l = ((x * mult + add) % 256 + 256) % 256
      val rgb = (l << 16) | (l << 8) | l
      var y = 0
      while (y < 3) { img.setRGB(x, y, rgb); y += 1 }
      x += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Perceptual near-dup pairs: band the 64-bit dHash into 4×16-bit
    * keys (two hashes within Hamming distance 3 of each other share at
    * least one intact band — the SimHash pigeonhole), equi-join on the
    * bands, verify with bit_count(xor) ≤ `maxHamming`. Candidates are
    * band-bucket equi-joins, never all-pairs.
    */
  def phashPairs(media: DataFrame, maxHamming: Int = 2): DataFrame = {
    val h = perceptualHash(media).toDF()
    val bands = h.select(col("media_id"), col("phash"),
        explode(sequence(lit(0), lit(3))).as("band_idx"))
      .withColumn("band_key",
        expr("shiftright(phash, CAST(band_idx * 16 AS INT)) & 65535"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        col("a.phash").as("ha"), col("b.phash").as("hb"))
      .distinct()
    cand
      .withColumn("hamming",
        expr("CAST(bit_count(ha ^ hb) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  final case class MediaFrame(media_id: Long, frame_idx: Int, t_ms: Long,
                              frame: Array[Byte])

  /** Sample every `everyNth` frame up to `maxFrames` from each video —
    * the one-to-many explode shape, frame indexing, timestamping, and
    * output bound live in the operator; the demux/decode lives in
    * [[StubMediaCodec]].
    */
  def sampleFrames(media: DataFrame, everyNth: Int = 10, maxFrames: Int = 8,
                   fps: Double = 25.0): Dataset[MediaFrame] = {
    require(everyNth >= 1 && maxFrames >= 1)
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video").as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        val total = StubMediaCodec.frameCount(r.payload)
        (0 until total by everyNth).take(maxFrames).map { idx =>
          MediaFrame(r.media_id, idx, math.round(idx / fps * 1000),
            StubMediaCodec.frameAt(r.payload, idx))
        }
      }
    }
  }
}
