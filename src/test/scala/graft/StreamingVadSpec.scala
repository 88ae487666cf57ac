package graft

import graft.functions.Audio
import graft.streaming.{AudioChunk, StreamingVad}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.matchers.should.Matchers

/** Streaming VAD == batch VAD on the concatenated signal, across
  * micro-batch splits and non-frame-aligned chunking; the active
  * segment spanning chunks AND batches merges into one row.
  */
class StreamingVadSpec extends SparkSpec with Matchers {
  import spark.implicits._

  // 10 kHz signal, frames of 10 samples: quiet 0-19, LOUD 20-69
  // (spans every chunk split below), quiet 70-89, loud 90-109,
  // quiet 110-119 (closes the last segment; stream ends silent)
  private def amp(i: Int): Int =
    if (i < 20) 50 else if (i < 70) 5000
    else if (i < 90) 50 else if (i < 110) 4000 else 50
  private val signal = Array.tabulate(120)(i =>
    (if (i % 2 == 0) amp(i) else -amp(i)).toShort)

  private def batchTruth: Seq[Audio.VadSeg] =
    Audio.vadSegments(
      Seq((9L, Audio.buildWav(10000, signal))).toDF("media_id", "payload"),
      frameSamples = 10, thrAmp = 1000L).collect().sortBy(_.seg_idx).toSeq

  private def streamed(splits: Seq[Array[Short]],
                       batches: Seq[Seq[Int]]): Seq[Audio.VadSeg] = {
    implicit val sq = spark.sqlContext
    val chunks = splits.zipWithIndex.map { case (s, k) =>
      AudioChunk(9L, k.toLong, Audio.buildWav(10000, s))
    }
    val mem = MemoryStream[AudioChunk]
    runMemorySink(StreamingVad.segments(mem.toDS(), 10, 1000L))(
      batches.map(idxs => () => mem.addData(idxs.map(chunks))): _*)
      .map(r => Audio.VadSeg(r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_.seg_idx).toSeq
  }

  test("stream == batch: frame-aligned chunks, loud region spans the " +
    "chunk AND batch boundary") {
    val splits = Seq(signal.slice(0, 40), signal.slice(40, 80),
      signal.slice(80, 120))
    val got = streamed(splits, Seq(Seq(0), Seq(1), Seq(2)))
    got shouldBe batchTruth
    got.length shouldBe 2 // the 5-chunk-spanning region is ONE segment
  }

  test("stream == batch: non-frame-aligned chunks buffer the remainder") {
    // 33/41/46-sample chunks — no boundary aligns to a frame
    val splits = Seq(signal.slice(0, 33), signal.slice(33, 74),
      signal.slice(74, 120))
    streamed(splits, Seq(Seq(0, 1), Seq(2))) shouldBe batchTruth
  }

  test("chunk gap fails loudly instead of silently skipping audio") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[AudioChunk]
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runMemorySink(StreamingVad.segments(mem.toDS(), 10, 1000L))(
        () => mem.addData(Seq(AudioChunk(9L, 1L, Audio.buildWav(10000, signal)))))
    }
    assert(e.getMessage.contains("expected 0") ||
      Option(e.getCause).exists(_.getMessage.contains("expected 0")))
  }
}
