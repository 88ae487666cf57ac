package graft

import graft.functions.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal plumbing contracts: the codecs are stubbed (no media libs
  * here), but the schema, batch shape, one-to-many explode, output
  * bounds, and payloads-never-shuffle property are real and pinned.
  */
class MultimodalSpec extends SparkSpec {

  private def media = Multimodal.documentsAsMedia(spark, "/root/testdata/sf0.001")

  test("stub codec decode: dims and checksum are the documented byte arithmetic") {
    val one = Multimodal.decodeAndFeaturize(media).orderBy("media_id").limit(1).collect()(0)
    val payload = media.orderBy("media_id").limit(1).collect()(0)
      .getAs[Array[Byte]]("payload")
    val s = payload.foldLeft(0L)((a, b) => a + (b & 0xff))
    assert(one.n_bytes == payload.length.toLong)
    assert(one.width == (payload.length % 640) && one.height == (s % 480).toInt)
    assert(one.checksum == f"$s%08x")
  }

  test("frame sampling: videos only, every-Nth bounded by maxFrames, timestamps from fps") {
    val frames = Multimodal.sampleFrames(media, everyNth = 2, maxFrames = 3, fps = 25.0).cache()
    val videos = media.filter(col("kind") === "video").count()
    assert(frames.count() > 0 && frames.count() <= videos * 3)
    val perDoc = frames.groupBy("media_id").count()
    assert(perDoc.agg(max("count")).collect()(0).getLong(0) <= 3)
    // frame indices follow the stride; timestamps = idx/fps
    val one = frames.filter(col("media_id") === frames.select(min("media_id")).collect()(0).getLong(0))
      .orderBy("frame_idx").collect()
    one.zipWithIndex.foreach { case (r, i) =>
      assert(r.frame_idx == i * 2, s"stride: ${r.frame_idx} != ${i * 2}")
      assert(r.t_ms == math.round(i * 2 / 25.0 * 1000))
    }
  }

  test("content-hash dedup: identical payloads group, canonical = min id") {
    import spark.implicits._
    val m = Seq(
      (1L, "image", "samebytes"), (2L, "image", "samebytes"),
      (3L, "audio", "different"), (7L, "video", "samebytes"))
      .toDF("media_id", "kind", "text")
      .select(col("media_id"), col("kind"),
        org.apache.spark.sql.functions.encode(col("text"), "UTF-8").as("payload"))
    val out = Multimodal.dedupByContent(m).orderBy($"media_id")
      .select($"media_id", $"canonical_id", $"group_size", $"is_duplicate").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq ==
      Seq((1L, 1L, 3L, false), (2L, 1L, 3L, true), (3L, 3L, 1L, false), (7L, 1L, 3L, true)))
  }

  test("perceptual dHash: identical payloads pair at 0; near-identical low; disjoint none") {
    import spark.implicits._
    val base = Array.tabulate(130)(i => ((i * 37 + 11) % 251).toByte)
    val near = base.clone(); near(5) = (near(5) + 120).toByte // flip a few bits
    val other = Array.tabulate(130)(i => ((i * 91 + 3) % 247).toByte)
    val m = Seq((1L, "image", base), (2L, "image", base),
        (3L, "image", near), (4L, "image", other))
      .toDF("media_id", "kind", "payload")
    val hashes = Multimodal.perceptualHash(m).collect()
      .map(r => r.media_id -> r.phash).toMap
    assert(hashes(1L) == hashes(2L)) // identical payloads, identical hash
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(3L)) <= 4
      && hashes(1L) != hashes(3L)) // near-dup: few bits differ
    val pairs = Multimodal.phashPairs(m, maxHamming = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0)
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L })
  }
}
