package graft

import graft.functions.{MediaContainers => MC, Multimodal}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** MP4 box / WebM EBML metadata parsing against the deterministic
  * builders, plus structural-failure behavior and the Spark-side
  * containerMetadata op.
  */
class MediaContainersSpec extends AnyFunSuite with Matchers {

  test("MP4 round-trip: dims, duration, frames, keyframes, byte offsets") {
    val b = MC.buildMp4(width = 320, height = 176, nFrames = 10,
      ticksPerFrame = 40, keyEvery = 4)
    MC.isMp4(b) shouldBe true
    val ci = MC.parse(b)
    ci.format shouldBe "mp4"
    ci.width shouldBe 320
    ci.height shouldBe 176
    ci.frameCount shouldBe 10
    ci.durationMs shouldBe 400L // 10 frames x 40 ticks at 1000 Hz
    ci.keyframes shouldBe Seq(0, 4, 8)
    // one sample per chunk => keyframe byte offsets are chunk offsets;
    // the builder packs frame i's bytes as (j % 251) starting at
    // i*16 of the frame block — check the bytes at each offset
    ci.keyframeOffsets should have size 3
    ci.keyframes.zip(ci.keyframeOffsets).foreach { case (k, off) =>
      b(off.toInt) shouldBe ((k * 16) % 251).toByte
    }
  }

  test("WebM round-trip: dims, duration, frames, keyframes point at blocks") {
    val b = MC.buildWebm(width = 640, height = 360, nFrames = 12,
      msPerFrame = 33, keyEvery = 5)
    MC.isWebm(b) shouldBe true
    val ci = MC.parse(b)
    ci.format shouldBe "webm"
    ci.width shouldBe 640
    ci.height shouldBe 360
    ci.frameCount shouldBe 12
    ci.durationMs shouldBe (12L * 33)
    ci.keyframes shouldBe Seq(0, 5, 10)
    // each keyframe offset is the SimpleBlock element start (id 0xA3)
    ci.keyframeOffsets.foreach { off =>
      (b(off.toInt) & 0xff) shouldBe 0xa3
    }
  }

  test("single-frame and every-frame-keyframe edges") {
    val one = MC.parse(MC.buildMp4(16, 16, nFrames = 1, ticksPerFrame = 40,
      keyEvery = 1))
    one.frameCount shouldBe 1
    one.keyframes shouldBe Seq(0)
    val all = MC.parse(MC.buildWebm(16, 16, nFrames = 5, msPerFrame = 20,
      keyEvery = 1))
    all.keyframes shouldBe (0 until 5)
  }

  test("structural damage fails loudly, never misparses") {
    val neither = "not a container at all".getBytes
    intercept[IllegalArgumentException](MC.parse(neither))
      .getMessage should include("neither MP4")
    // truncate an MP4 mid-moov: the box walk must detect the overrun
    val mp4 = MC.buildMp4(64, 64, 6, 40, 2)
    val cut = java.util.Arrays.copyOf(mp4, mp4.length / 3)
    intercept[IllegalArgumentException](MC.parse(cut))
    // damage a WebM element length so a child overruns its parent
    val webm = MC.buildWebm(64, 64, 6, 40, 2)
    val bad = webm.clone()
    bad(bad.length - 10) = 0xff.toByte // stomp inside the last block
    // either parses (stomped a frame byte) or fails loudly — never a
    // silent wrong answer on the structured fields; verify the loud
    // path with a surgically broken size: claim the Segment is tiny
    val tiny = webm.clone()
    // EBML header is 4+2+body; find segment id 0x18538067 and shrink it
    val segAt = tiny.indices.find(i => (tiny(i) & 0xff) == 0x18 &&
      i + 3 < tiny.length && (tiny(i + 1) & 0xff) == 0x53 &&
      (tiny(i + 2) & 0xff) == 0x80 && (tiny(i + 3) & 0xff) == 0x67).get
    tiny(segAt + 4) = 0x40.toByte; tiny(segAt + 5) = 0x05.toByte
    intercept[IllegalArgumentException](MC.parse(tiny))
  }

  test("mp4KeyframeSpans: exact byte spans; sliced bytes equal the source frames") {
    val frames = Seq(
      Multimodal.pngColumnFrame(1, 0),
      Multimodal.pngColumnFrame(2, 5),
      Multimodal.pngColumnFrame(3, 9),
      Multimodal.pngColumnFrame(4, 1))
    val mp4 = MC.buildMp4Samples(65, 3, frames, 40, keyEvery = 2)
    val spans = MC.mp4KeyframeSpans(mp4)
    spans.map(_._1) shouldBe Seq(0, 2) // keyframes every 2 of 4 frames
    spans.foreach { case (k, off, len) =>
      len shouldBe frames(k).length
      mp4.slice(off.toInt, off.toInt + len).toSeq shouldBe frames(k).toSeq
    }
    // fixed-size legacy form still yields exact spans
    val fixed = MC.buildMp4(100, 80, 5, 25, 2)
    MC.mp4KeyframeSpans(fixed).map(s => (s._1, s._3)) shouldBe
      Seq((0, 16), (2, 16), (4, 16))
  }

  test("webmKeyframeSpans: sliced bytes equal the source frames; phash container-independent") {
    val frames = Seq(
      Multimodal.pngColumnFrame(2, 0),
      Multimodal.pngColumnFrame(3, 7),
      Multimodal.pngColumnFrame(255, 255),
      Multimodal.pngColumnFrame(1, 50))
    val webm = MC.buildWebmSamples(65, 3, frames, 40, keyEvery = 2)
    val spans = MC.webmKeyframeSpans(webm)
    spans.map(_._1) shouldBe Seq(0, 2)
    spans.foreach { case (k, off, len) =>
      len shouldBe frames(k).length
      webm.slice(off.toInt, off.toInt + len).toSeq shouldBe frames(k).toSeq
    }
    // the SAME frames through MP4 and WebM must hash identically —
    // the dHash sees pixels, never the container
    val spark = TestSession.spark
    import spark.implicits._
    val mp4 = MC.buildMp4Samples(65, 3, frames, 40, keyEvery = 2)
    val rows = Multimodal.videoKeyframePhash(
        Seq((1L, "video/mp4", mp4), (2L, "video/webm", webm))
          .toDF("media_id", "kind", "payload"))
      .collect().groupBy(_.media_id)
    val a = rows(1L).sortBy(_.frame_idx).map(r => (r.frame_idx, r.phash)).toSeq
    val b = rows(2L).sortBy(_.frame_idx).map(r => (r.frame_idx, r.phash)).toSeq
    a shouldBe b
  }

  test("videoKeyframePhash: decoded I-frame hashes match the pixel formula") {
    val spark = TestSession.spark
    import spark.implicits._
    // monotone increasing columns → no adjacent greater-than → hash 0;
    // monotone decreasing (mult 255 ≡ -1 mod 256 from 255) → all 64
    // bits set → -1 as a signed long
    val inc = Multimodal.pngColumnFrame(2, 0)       // 0,2,4,... rising
    val dec = Multimodal.pngColumnFrame(255, 255)   // 255,254,... falling
    val mp4 = MC.buildMp4Samples(65, 3, Seq(inc, dec), 40, keyEvery = 1)
    val rows = Multimodal.videoKeyframePhash(
        Seq((9L, "video/mp4", mp4)).toDF("media_id", "kind", "payload"))
      .collect().sortBy(_.frame_idx)
    rows.map(_.frame_idx).toSeq shouldBe Seq(0, 1)
    rows(0).phash shouldBe 0L
    rows(1).phash shouldBe -1L
    rows.foreach { r => r.frame_w shouldBe 65; r.frame_h shouldBe 3 }
    // near-identical frames (one column bumped) differ in few bits
    val bumped = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(inc))
      img.setRGB(30, 0, 0xffffff); img.setRGB(30, 1, 0xffffff)
      img.setRGB(30, 2, 0xffffff)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out); out.toByteArray
    }
    val mp4b = MC.buildMp4Samples(65, 3, Seq(bumped), 40, keyEvery = 1)
    val hb = Multimodal.videoKeyframePhash(
        Seq((10L, "video/mp4", mp4b)).toDF("media_id", "kind", "payload"))
      .collect().head.phash
    java.lang.Long.bitCount(hb ^ 0L) should be <= 3
  }

  test("videoKeyframePhash contract: a non-ImageIO keyframe (inter-frame " +
    "codec stand-in) fails LOUDLY, naming media, frame and the boundary") {
    val spark = TestSession.spark
    import spark.implicits._
    // an H.264-style keyframe is NOT a standalone image: NAL-ish bytes
    // inside an otherwise valid MP4 container — the container parses,
    // the decode contract must refuse, never silently skip
    val codecFrame = Array.tabulate(64)(i => ((i * 37 + 5) & 0xff).toByte)
    val mp4 = MC.buildMp4Samples(65, 3, Seq(codecFrame), 40, keyEvery = 1)
    val e = intercept[Exception] {
      Multimodal.videoKeyframePhash(
          Seq((7L, "video/mp4", mp4)).toDF("media_id", "kind", "payload"))
        .collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    msgs should include("media 7 keyframe 0")
    msgs should include("INTRA-ONLY")
    msgs should include("H.264")
  }

  test("containerMetadata: map-side parse over a mixed-format frame") {
    val spark = TestSession.spark
    import spark.implicits._
    val media = Seq(
      (1L, MC.buildMp4(100, 80, 8, 25, 3)),
      (2L, MC.buildWebm(200, 120, 6, 50, 2))
    ).toDF("media_id", "payload")
    val rows = Multimodal.containerMetadata(media)
      .collect().sortBy(_.media_id)
    rows(0).format shouldBe "mp4"
    rows(0).duration_ms shouldBe 200L
    rows(0).n_frames shouldBe 8
    rows(0).n_keyframes shouldBe 3 // frames 0,3,6
    rows(0).key_sum shouldBe 9L
    rows(1).format shouldBe "webm"
    rows(1).width shouldBe 200
    rows(1).n_keyframes shouldBe 3 // frames 0,2,4
    rows(1).key_sum shouldBe 6L
    rows(1).first_key_offset should be > 0L
  }

  test("videoSceneCuts: sign-flipped ramp starts a new scene exactly at " +
    "the boundary keyframe; steady content never cuts") {
    val spark = TestSession.spark
    import spark.implicits._
    // frames 0-3 ascending ramp, 4-7 descending: one true content cut
    val frames = (0 until 8).map(j =>
      Multimodal.pngColumnFrame(if (j < 4) 3 else -3, 7 * j))
    val mp4 = MC.buildMp4Samples(65, 3, frames, 40, keyEvery = 2)
    val segs = Multimodal.videoSceneCuts(
        Seq((1L, "video/mp4", mp4)).toDF("media_id", "kind", "payload"),
        cutHamming = 10)
      .orderBy("frame_idx").collect()
    segs.map(_.getInt(1)).toSeq shouldBe Seq(0, 2, 4, 6)
    segs.map(r => r.isNullAt(3)).toSeq shouldBe Seq(true, false, false, false)
    segs.map(_.getBoolean(4)).toSeq shouldBe Seq(false, false, true, false)
    segs.map(_.getInt(5)).toSeq shouldBe Seq(0, 0, 1, 1)
    // a constant-content clip is one scene, zero cuts
    val flat = (0 until 6).map(_ => Multimodal.pngColumnFrame(2, 9))
    val one = Multimodal.videoSceneCuts(
        Seq((2L, "video/webm", MC.buildWebmSamples(65, 3, flat, 40, 1)))
          .toDF("media_id", "kind", "payload"), 10)
      .collect()
    one.length shouldBe 6
    assert(one.forall(r => !r.getBoolean(4) && r.getInt(5) == 0))
  }
}
