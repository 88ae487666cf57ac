package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Pure-JVM WAV/PCM audio decode — the audio leg of the multimodal
  * family next to the image codecs and the MP4/WebM container walkers
  * ([[Multimodal]], [[MediaContainers]]). RIFF is the one audio
  * container with a fully deterministic pure-integer decode (PCM16
  * needs no codec), so unlike the stubbed lossy-codec paths this is
  * the real thing end to end: chunk walk -> fmt/data extraction ->
  * sample decode -> integer features.
  *
  * Scale shape: everything is map-side inside `mapPartitions`; payload
  * bytes never shuffle — only the ~70-byte feature row moves on. Same
  * contract as [[Multimodal.containerMetadata]].
  *
  * Format notes (RIFF spec, multimedia programming interface 1.0):
  * chunks are (fourcc, u32le size, payload) with odd sizes padded by
  * one byte; `fmt ` must carry PCM (tag 1) at 16 bits — anything else
  * fails loudly rather than misparse (the never-misparse contract the
  * HDF5 reader set).
  */
object Audio {

  final case class AudioMeta(media_id: Long, sample_rate: Int,
                             channels: Int, bits: Int, n_samples: Long,
                             duration_us: Long, peak: Long, sum_sq: Long,
                             rms_milli: Long)

  private def u16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)

  /** Build a PCM16LE mono WAV. A junk LIST chunk sits between `fmt `
    * and `data` so round-trip tests exercise real chunk walking, not a
    * fixed-offset read.
    */
  def buildWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = (0 to 3).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    def tag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    val junk = "INFOengine".getBytes("US-ASCII")
    val dataLen = samples.length * 2
    tag("RIFF"); w32(4 + (8 + 16) + (8 + junk.length) + (8 + dataLen)); tag("WAVE")
    tag("fmt "); w32(16)
    w16(1); w16(1); w32(sampleRate); w32(sampleRate.toLong * 2); w16(2); w16(16)
    tag("LIST"); w32(junk.length); out.write(junk)
    tag("data"); w32(dataLen)
    samples.foreach(s => w16(s & 0xffff))
    out.toByteArray
  }

  /** Parse a PCM16 WAV into (sampleRate, channels, samples interleaved).
    * Fails loudly on non-RIFF/non-PCM/non-16-bit input.
    */
  def parseWav(payload: Array[Byte]): (Int, Int, Array[Short]) = {
    require(payload.length >= 12 &&
      new String(payload, 0, 4, "US-ASCII") == "RIFF" &&
      new String(payload, 8, 4, "US-ASCII") == "WAVE",
      "not a RIFF/WAVE payload")
    var p = 12
    var fmt: Option[(Int, Int, Int)] = None // (channels, rate, bits)
    var data: Option[(Int, Int)] = None // (offset, length)
    while (p + 8 <= payload.length) {
      val id = new String(payload, p, 4, "US-ASCII")
      val sz = u32(payload, p + 4).toInt
      require(sz >= 0 && p + 8 + sz <= payload.length,
        s"chunk $id overruns the payload")
      id match {
        case "fmt " =>
          require(sz >= 16, "fmt chunk too short")
          val tag = u16(payload, p + 8)
          require(tag == 1, s"not PCM (format tag $tag)")
          fmt = Some((u16(payload, p + 10), u32(payload, p + 12).toInt,
            u16(payload, p + 22)))
        case "data" => data = Some((p + 8, sz))
        case _ => () // walk past LIST/fact/cue/...
      }
      p += 8 + sz + (sz & 1) // odd chunks carry a pad byte
    }
    val (channels, rate, bits) = fmt.getOrElse(sys.error("no fmt chunk"))
    require(bits == 16, s"only PCM16 supported (got $bits)")
    val (off, len) = data.getOrElse(sys.error("no data chunk"))
    val n = len / 2
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) { samples(i) = u16(payload, off + 2 * i).toShort; i += 1 }
    (rate, channels, samples)
  }

  final case class VadSeg(media_id: Long, seg_idx: Int, start_frame: Long,
                          n_frames: Long, start_us: Long, end_us: Long,
                          sum_abs: Long)

  /** Energy-threshold voice-activity segmentation — the VAD pass a
    * speech-data curation pipeline runs before transcription: split
    * each mono PCM16 stream into `frameSamples`-sample frames (short
    * tail frame included), mark a frame active iff its Σ|sample|
    * exceeds `thrAmp` per sample (pure integer compare: sum_abs >
    * thrAmp·frame_len), and merge consecutive active frames into
    * segments with frame/µs bounds and total magnitude. Everything is
    * integer (µs bounds by floor division), so segments replay exactly
    * in the oracle.
    *
    * Scale shape: decode + segmentation run inside one `mapPartitions`
    * pass; payload bytes never shuffle — only ~50-byte segment rows
    * move on (same contract as [[pcmFeatures]]).
    */
  def vadSegments(media: DataFrame, frameSamples: Int,
                  thrAmp: Long): Dataset[VadSeg] = {
    require(frameSamples > 0, "frameSamples must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          val (rate, channels, samples) = parseWav(payload)
          require(channels == 1, s"VAD expects mono (got $channels)")
          val nFrames = (samples.length + frameSamples - 1) / frameSamples
          val segs = scala.collection.mutable.ArrayBuffer.empty[VadSeg]
          var segStart = -1L; var segSum = 0L
          def us(sample: Long): Long =
            if (rate == 0) 0L else sample * 1000000L / rate
          def close(endFrame: Long): Unit = if (segStart >= 0) {
            val endSample = math.min(endFrame * frameSamples, samples.length)
            segs += VadSeg(id, segs.length, segStart, endFrame - segStart,
              us(segStart * frameSamples), us(endSample), segSum)
            segStart = -1L; segSum = 0L
          }
          var f = 0
          while (f < nFrames) {
            val from = f * frameSamples
            val until = math.min(from + frameSamples, samples.length)
            var sumAbs = 0L
            var i = from
            while (i < until) { sumAbs += math.abs(samples(i).toLong); i += 1 }
            if (sumAbs > thrAmp * (until - from)) {
              if (segStart < 0) segStart = f
              segSum += sumAbs
            } else close(f)
            f += 1
          }
          close(nFrames)
          segs
        }
      }
  }

  /** Decode + featurize WAV payloads map-side: per-row duration and
    * integer signal stats. duration_us and rms_milli use only integer
    * floor division and the IEEE-correctly-rounded sqrt, so they replay
    * bit-identically in the oracle.
    */
  def pcmFeatures(media: DataFrame): Dataset[AudioMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val (rate, channels, samples) = parseWav(payload)
          val frames = if (channels == 0) 0L else samples.length.toLong / channels
          var peak = 0L; var sumSq = 0L
          samples.foreach { s =>
            val v = s.toLong
            if (math.abs(v) > peak) peak = math.abs(v)
            sumSq += v * v
          }
          val durUs = if (rate == 0) 0L else frames * 1000000L / rate
          val meanSqMicro = if (samples.isEmpty) 0L else sumSq * 1000000L / samples.length
          AudioMeta(id, rate, channels, 16, frames, durUs, peak, sumSq,
            math.sqrt(meanSqMicro.toDouble).toLong)
        }
      }
  }

  final case class AudioFp(media_id: Long, frame_idx: Long, fp_bits: Long)

  /** Acoustic sub-fingerprints with the Haitsma-Kalker 2002 bit
    * derivation ("A Highly Robust Audio Fingerprint System"): one
    * fingerprint per frame, bit b set iff the energy difference between
    * adjacent bands rose relative to the previous frame —
    * sign(E(f,b) − E(f,b+1) − E(f−1,b) + E(f−1,b+1)). The published
    * system takes band energies from a spectrogram; this
    * implementation, which must replay bit-exactly in an integer SQL
    * oracle (no FFT on either side), uses consecutive TIME-segment
    * energies of the frame as the bands — the same derivation
    * structure and matching machinery, documented as the time-domain
    * variant. Frames of `segs`·`segSamples` samples, non-overlapping;
    * the tail frame is dropped (a partial frame's missing segments
    * would make its bits meaningless). Frame 0 has no predecessor and
    * is skipped, so fingerprints start at frame_idx 1.
    *
    * Scale shape: decode + fingerprint inside one `mapPartitions`
    * pass; payloads never shuffle — each frame forwards 24 bytes.
    */
  def subFingerprints(media: DataFrame, segSamples: Int,
                      segs: Int): Dataset[AudioFp] = {
    require(segSamples > 0 && segs >= 2 && segs <= 64,
      s"bad fingerprint geometry: $segSamples x $segs")
    val spark = media.sparkSession
    import spark.implicits._
    val frameLen = segSamples * segs
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          val (_, channels, samples) = parseWav(payload)
          require(channels == 1, s"fingerprint expects mono (got $channels)")
          val nFrames = samples.length / frameLen
          def energy(f: Int, b: Int): Long = {
            var s = 0L; var i = f * frameLen + b * segSamples
            val until = i + segSamples
            while (i < until) { s += samples(i).toLong * samples(i); i += 1 }
            s
          }
          (1 until nFrames).iterator.map { f =>
            var bits = 0L
            var b = 0
            while (b < segs - 1) {
              val d = energy(f, b) - energy(f, b + 1) -
                energy(f - 1, b) + energy(f - 1, b + 1)
              if (d > 0) bits |= (1L << b)
              b += 1
            }
            AudioFp(id, f.toLong, bits)
          }
        }
      }
  }

  /** Duplicate-audio candidate pairs by exact sub-fingerprint match
    * (the lookup-table matching of the Haitsma-Kalker system): two
    * streams pair once for every (frame_idx, fp_bits) sub-fingerprint
    * they share — matching at the SAME frame offset, the aligned-dup
    * detector — and survive with n_matches ≥ `minMatches`.
    *
    * Scale shape: one partial-agg'd groupBy(frame, bits) inverts the
    * fingerprint table; buckets larger than 64 streams are
    * dropped before pairing (the df-cap discipline of the dedup
    * family: near-silence fingerprints are the boilerplate shingles of
    * audio, and an uncapped bucket pairs O(bucket²)). Pair volume is
    * then Σ capped-bucket² — bounded by construction.
    */
  def fingerprintPairs(fps: Dataset[AudioFp], minMatches: Long): DataFrame = {
    val df = fps.toDF()
    val buckets = df.groupBy(col("frame_idx"), col("fp_bits"))
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= 64L)
      .select(col("frame_idx"), col("fp_bits"))
    val hits = df.join(buckets, Seq("frame_idx", "fp_bits"))
    hits.as("x").join(hits.as("y"),
        col("x.frame_idx") === col("y.frame_idx") &&
          col("x.fp_bits") === col("y.fp_bits") &&
          col("x.media_id") < col("y.media_id"))
      .groupBy(col("x.media_id").as("media_a"),
        col("y.media_id").as("media_b"))
      .agg(count(lit(1)).as("n_matches"))
      .filter(col("n_matches") >= minMatches)
  }
}
