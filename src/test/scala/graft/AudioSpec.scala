package graft

import graft.functions.Audio
import org.apache.spark.sql.functions._

/** WAV builder/parser round-trip and never-misparse behavior. The
  * mm_audio oracle pins the feature arithmetic against DuckDB.
  */
class AudioSpec extends SparkSpec {

  test("build -> parse round-trips samples, rate and layout exactly") {
    val samples = Array[Short](0, 1, -1, 32767, -32768, 12345, -12345)
    val (rate, channels, got) = Audio.parseWav(Audio.buildWav(22050, samples))
    assert(rate == 22050 && channels == 1)
    assert(got.toSeq == samples.toSeq)
  }

  test("chunk walk survives junk chunks and odd-size padding") {
    // hand-build a WAV with an odd-sized junk chunk (forces pad byte)
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = (0 to 3).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    def tag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    val junk = Array[Byte](1, 2, 3) // odd length => 1 pad byte
    tag("RIFF"); w32(4 + 24 + (8 + 3 + 1) + (8 + 4)); tag("WAVE")
    tag("fmt "); w32(16); w16(1); w16(1); w32(8000); w32(16000); w16(2); w16(16)
    tag("junk"); w32(3); out.write(junk); out.write(0)
    tag("data"); w32(4); w16(7 & 0xffff); w16(-7 & 0xffff)
    val (rate, _, got) = Audio.parseWav(out.toByteArray)
    assert(rate == 8000 && got.toSeq == Seq[Short](7, -7))
  }

  test("non-PCM, non-16-bit and truncated payloads fail loudly") {
    val ok = Audio.buildWav(8000, Array[Short](1, 2, 3))
    // flip the format tag to 3 (IEEE float)
    val nonPcm = ok.clone(); nonPcm(20) = 3
    intercept[IllegalArgumentException](Audio.parseWav(nonPcm))
    // truncate mid-chunk
    intercept[IllegalArgumentException](Audio.parseWav(ok.take(ok.length - 2)))
    // not RIFF at all
    intercept[IllegalArgumentException](Audio.parseWav("hello".getBytes))
  }

  test("mm_audio features are computed from the PARSED payload") {
    val res = SparkEntry.queries("mm_audio")(spark, "/root/testdata/sf0.001")
      .filter(col("media_id") === 0L).collect()
    assert(res.length == 1)
    val r = res.head
    // doc 0: n=20, rate=8000, s_i = (i*17+7) % 65521 - 32768 (all negative-ish)
    val samples = (0 until 20).map(i => ((31 * 0 + i * 17 + 7) % 65521) - 32768L)
    assert(r.getAs[Long]("n_samples") == 20L)
    assert(r.getAs[Int]("sample_rate") == 8000)
    assert(r.getAs[Long]("duration_us") == 20L * 1000000L / 8000L)
    assert(r.getAs[Long]("peak") == samples.map(math.abs).max)
    assert(r.getAs[Long]("sum_sq") == samples.map(s => s * s).sum)
  }

  test("VAD: hand-built quiet/loud/quiet/loud signal yields exactly the " +
    "planted segments with exact bounds") {
    val s = spark; import s.implicits._
    // 100 samples at 10 kHz, frames of 10: frames 0-1 quiet (|s|=100),
    // 2-4 loud (|s|=5000), 5 quiet, 6-9 loud; threshold amp 1000
    def amp(i: Int): Short =
      (if (i < 20) 100 else if (i < 50) 5000
       else if (i < 60) 100 else 5000).toShort
    val samples = Array.tabulate(100)(i =>
      (if (i % 2 == 0) amp(i) else (-amp(i)).toShort): Short)
    val media = Seq((7L, Audio.buildWav(10000, samples)))
      .toDF("media_id", "payload")
    val segs = Audio.vadSegments(media, frameSamples = 10, thrAmp = 1000L)
      .collect().sortBy(_.seg_idx)
    assert(segs.length == 2)
    val a = segs(0)
    assert(a.start_frame == 2L && a.n_frames == 3L && a.sum_abs == 30L * 5000)
    assert(a.start_us == 20L * 1000000L / 10000 &&
      a.end_us == 50L * 1000000L / 10000)
    val b = segs(1)
    assert(b.start_frame == 6L && b.n_frames == 4L)
    assert(b.end_us == 100L * 1000000L / 10000)
    // all-quiet: no segments; all-loud: one segment spanning everything,
    // short tail frame included in the µs bound
    val quiet = Seq((1L, Audio.buildWav(8000, Array.fill[Short](35)(50))))
      .toDF("media_id", "payload")
    assert(Audio.vadSegments(quiet, 10, 1000L).count() == 0)
    val loud = Seq((2L, Audio.buildWav(8000, Array.fill[Short](35)(4000))))
      .toDF("media_id", "payload")
    val l = Audio.vadSegments(loud, 10, 1000L).collect()
    assert(l.length == 1 && l(0).n_frames == 4L &&
      l(0).end_us == 35L * 1000000L / 8000)
  }

  test("sub-fingerprints: hand-computed HK bits, tail frame dropped") {
    val s = spark; import s.implicits._
    // geometry 2x2: frames of 4 samples, 2 segments of 2, 1 bit/frame.
    // frame energies per segment (values, then sum of squares):
    //   f0: [10,10 | 0,0]  -> E=(200, 0)
    //   f1: [0,0   | 10,10] -> E=(0, 200)
    //   f2: [5,5   | 5,5]   -> E=(50, 50)
    // bit(f,0) = E(f,0)-E(f,1)-E(f-1,0)+E(f-1,1) > 0:
    //   f1: 0-200-200+0 = -400 -> 0;  f2: 50-50-0+200 = 200 -> 1
    val v = Array[Short](10, 10, 0, 0, 0, 0, 10, 10, 5, 5, 5, 5,
      9, 9) // 2-sample tail: dropped, never a partial frame
    val media = Seq((1L, Audio.buildWav(8000, v))).toDF("media_id", "payload")
    val got = Audio.subFingerprints(media, segSamples = 2, segs = 2)
      .collect().sortBy(_.frame_idx)
      .map(f => (f.frame_idx, f.fp_bits)).toSeq
    assert(got == Seq((1L, 0L), (2L, 1L)))
  }

  test("fingerprint pairs: planted duplicate found, bucket cap holds") {
    val s = spark; import s.implicits._
    def wav(seed: Long, n: Int) = Audio.buildWav(8000,
      Array.tabulate(n) { i =>
        val x = (seed * 131 + i * 29 + 11) % 65521
        (((x * x * 31 + x * 7 + i * 13) % 65521) - 32768).toShort
      })
    // 10 and 11 are byte-identical; 12 differs; 20 all-zero (silence)
    val media = Seq(
      (10L, wav(10, 128)), (11L, wav(10, 128)), (12L, wav(12, 128)),
      (20L, Audio.buildWav(8000, Array.fill[Short](128)(0))),
      (21L, Audio.buildWav(8000, Array.fill[Short](128)(0))),
      (22L, Audio.buildWav(8000, Array.fill[Short](128)(0)))
    ).toDF("media_id", "payload")
    val fps = Audio.subFingerprints(media, segSamples = 4, segs = 8)
    val pairs = Audio.fingerprintPairs(fps, minMatches = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 11L)), s"planted dup missing: $pairs")
    assert(!pairs.exists(p => p._1 == 12L || p._2 == 12L))
    // the three silent streams share identical all-zero fingerprints:
    // a bucket within the 64-stream cap pairs them
    assert(pairs.contains((20L, 21L)) && pairs.contains((21L, 22L)))
    // 65 silent streams overflow the cap: the silence bucket is dropped
    // entirely and only the planted duplicate remains
    val crowded = media.filter($"media_id" < 20L).union(
      (100L until 165L).map(i => (i, Audio.buildWav(8000, Array.fill[Short](128)(0))))
        .toDF("media_id", "payload"))
    val capped = Audio.fingerprintPairs(
        Audio.subFingerprints(crowded, segSamples = 4, segs = 8), minMatches = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((10L, 11L)), s"cap failed: $capped")
  }
}
