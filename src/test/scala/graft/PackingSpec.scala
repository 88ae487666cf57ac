package graft

import graft.functions.Packing
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Sequence packing: the two-phase distributed prefix sum must produce
  * an exact gapless layout of the token stream, independent of input
  * partitioning, with boundary-straddle bookkeeping that agrees with
  * the offsets.
  */
class PackingSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val docs = (1L to 300L)
    .map(i => (i, Seq.fill((i % 37).toInt + 1)("tok").mkString(" ")))
    .toDF("doc_id", "text")
  private def tokens = org.apache.spark.sql.functions.size(
    org.apache.spark.sql.functions.split($"text", "\\s+"))

  test("layout is an exact gapless partition of [0, total_tokens)") {
    val out = Packing.packConcatSplit(docs, $"doc_id", tokens, seqLen = 64)
      .orderBy($"start_off").collect()
    assert(out.head.getAs[Long]("start_off") == 0L)
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("start_off") + a.getAs[Long]("n_tokens") ==
        b.getAs[Long]("start_off")) // no gap, no overlap
    }
    val total = out.map(_.getAs[Long]("n_tokens")).sum
    val last = out.last
    assert(last.getAs[Long]("start_off") + last.getAs[Long]("n_tokens") == total)
  }

  test("deterministic and partitioning-independent") {
    val a = Packing.packConcatSplit(docs, $"doc_id", tokens, seqLen = 64)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("start_off")).toMap
    val b = Packing.packConcatSplit(docs.repartition(13), $"doc_id", tokens, seqLen = 64)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("start_off")).toMap
    assert(a == b)
  }

  test("sequence ids agree with offsets; straddle flagged iff boundary crossed") {
    val L = 64
    Packing.packConcatSplit(docs, $"doc_id", tokens, seqLen = L)
      .collect().foreach { r =>
        val (s, n) = (r.getAs[Long]("start_off"), r.getAs[Long]("n_tokens"))
        assert(r.getAs[Long]("seq_first") == s / L)
        assert(r.getAs[Long]("seq_last") == (s + n - 1) / L)
        assert((r.getAs[Long]("n_seqs") > 1) == (s / L != (s + n - 1) / L))
      }
  }

  test("zero-token documents are dropped from the stream") {
    val d = Seq((1L, 5L), (2L, 0L), (3L, 7L)).toDF("doc_id", "n")
    val out = Packing.packConcatSplit(d, $"doc_id", $"n", seqLen = 8)
    assert(out.select($"doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(out.agg(sum($"n_tokens")).head.getLong(0) == 12L)
  }

  test("packedSequences: slices tile [0, n_tokens) per doc and [0, seqLen) per sequence") {
    val L = 64L
    val layout = Packing.packConcatSplit(docs, $"doc_id", tokens, seqLen = L.toInt)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val slices = Packing.packedSequences(docs, $"doc_id", tokens, seqLen = L.toInt)
      .collect()
    val maxSeq = slices.map(_.getAs[Long]("seq_id")).max
    val totalTokens = layout.values.map(_.getAs[Long]("n_tokens")).sum

    // per document: slices ordered by seq_id are contiguous and cover
    // exactly [0, n_tokens)
    slices.groupBy(_.getAs[Long]("doc_id")).foreach { case (docId, ss) =>
      val sorted = ss.sortBy(_.getAs[Long]("seq_id"))
      assert(sorted.head.getAs[Long]("tok_from") == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("tok_to") == b.getAs[Long]("tok_from"))
          assert(b.getAs[Long]("seq_id") == a.getAs[Long]("seq_id") + 1)
          assert(b.getAs[Long]("seq_off") == 0L) // continuation starts a sequence
        case _ =>
      }
      assert(sorted.last.getAs[Long]("tok_to") == layout(docId).getAs[Long]("n_tokens"))
      assert(sorted.map(_.getAs[Long]("seq_id")).toSeq ==
        (layout(docId).getAs[Long]("seq_first") to layout(docId).getAs[Long]("seq_last")))
    }

    // per sequence: parts ordered by seq_off are contiguous from 0 and
    // fill exactly seqLen tokens (the final tail sequence may stop short)
    slices.groupBy(_.getAs[Long]("seq_id")).foreach { case (seqId, ss) =>
      val sorted = ss.sortBy(_.getAs[Long]("seq_off"))
      assert(sorted.head.getAs[Long]("seq_off") == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("seq_off") +
            (a.getAs[Long]("tok_to") - a.getAs[Long]("tok_from")) ==
            b.getAs[Long]("seq_off"))
        case _ =>
      }
      val end = sorted.last.getAs[Long]("seq_off") +
        (sorted.last.getAs[Long]("tok_to") - sorted.last.getAs[Long]("tok_from"))
      if (seqId < maxSeq) assert(end == L)
      else assert(end == totalTokens - maxSeq * L) // tail
    }
  }

  test("packSequenceTokens matches a hand-computed straddle + tail corpus") {
    // nBuckets=1 ⇒ canonical order is plain doc_id order: the packed
    // stream is a1..a5 b1..b4 c1..c7 and seqLen=6 forces doc 2 to
    // straddle seq 0/1, doc 3 to straddle seq 1/2, and seq 2 to be a
    // 4-token tail.
    val d = Seq(
      (1L, (1 to 5).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 4).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 7).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Packing.packSequenceTokens(d, $"doc_id", split($"text", "\\s+"),
        seqLen = 6, nBuckets = 1)
      .collect().map(r => r.getAs[Long]("seq_id") -> r.getAs[scala.collection.Seq[String]]("tokens"))
      .toMap
    assert(out == Map(
      0L -> Seq("a1", "a2", "a3", "a4", "a5", "b1"),
      1L -> Seq("b2", "b3", "b4", "c1", "c2", "c3"),
      2L -> Seq("c4", "c5", "c6", "c7")))
  }

  test("packSequenceTokens: every sequence is seqLen tokens except the tail; " +
    "concatenation reproduces the canonical stream") {
    val L = 64
    val seqs = Packing.packSequenceTokens(docs, $"doc_id", split($"text", "\\s+"),
        seqLen = L)
      .collect().map(r => r.getAs[Long]("seq_id") -> r.getAs[scala.collection.Seq[String]]("tokens"))
      .sortBy(_._1)
    assert(seqs.map(_._1).toSeq == (0L until seqs.length.toLong))
    seqs.init.foreach { case (_, t) => assert(t.length == L) }
    val total = seqs.map(_._2.length).sum
    assert(seqs.last._2.length == total - (seqs.length - 1) * L)
  }

  test("property: random corpora — layout gapless, slices tile, " +
    "emitted sequences reassemble the stream") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 20 + rnd.nextInt(180)
      val L = 8 + rnd.nextInt(120)
      val nb = 1 + rnd.nextInt(8)
      // sparse random ids (gaps + large values), random counts incl. 0s
      val corpus = (1 to n).map { _ =>
        (math.abs(rnd.nextLong()) % 1000000L, rnd.nextInt(3 * L).toLong)
      }.distinctBy(_._1)
      val df = corpus.toDF("doc_id", "n")
      val layout = Packing.packConcatSplit(df, $"doc_id", $"n", seqLen = L,
        nBuckets = nb, salt = s"t$trial").collect()
      val total = corpus.filter(_._2 > 0).map(_._2).sum
      // gapless cover of [0, total)
      val sorted = layout.sortBy(_.getAs[Long]("start_off"))
      var expect = 0L
      sorted.foreach { r =>
        assert(r.getAs[Long]("start_off") == expect, s"trial $trial: gap")
        expect += r.getAs[Long]("n_tokens")
      }
      assert(expect == total, s"trial $trial: total")
      // slices tile both axes
      val slices = Packing.packedSequences(df, $"doc_id", $"n", seqLen = L,
        nBuckets = nb, salt = s"t$trial").collect()
      val byDoc = slices.groupBy(_.getAs[Long]("doc_id"))
      layout.foreach { r =>
        val ss = byDoc(r.getAs[Long]("doc_id")).sortBy(_.getAs[Long]("seq_id"))
        assert(ss.head.getAs[Long]("tok_from") == 0L)
        assert(ss.last.getAs[Long]("tok_to") == r.getAs[Long]("n_tokens"))
        ss.sliding(2).foreach {
          case Array(a, b) =>
            assert(a.getAs[Long]("tok_to") == b.getAs[Long]("tok_from"))
          case _ =>
        }
      }
      val maxSeq = slices.map(_.getAs[Long]("seq_id")).max
      slices.groupBy(_.getAs[Long]("seq_id")).foreach { case (sid, ss) =>
        val ordered = ss.sortBy(_.getAs[Long]("seq_off"))
        var off = 0L
        ordered.foreach { s =>
          assert(s.getAs[Long]("seq_off") == off, s"trial $trial: seq $sid hole")
          off += s.getAs[Long]("tok_to") - s.getAs[Long]("tok_from")
        }
        if (sid < maxSeq) assert(off == L) else assert(off == total - maxSeq * L)
      }
    }
  }

  test("lengthGroupedBatches: full batches, length-contiguous, all docs kept") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(5)
    val df = (1 to 300).map(i => (i.toLong, 5L + rnd.nextInt(200)))
      .toDF("doc_id", "n")
    val got = Packing.lengthGroupedBatches(df, $"doc_id", $"n", batchSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.length == 300) // every doc assigned exactly once
    got.groupBy(g => (g._3, g._4)).foreach { case ((b, idx), batch) =>
      val bucketSize = got.count(_._3 == b)
      val isLast = idx == (bucketSize - 1) / 16
      // every batch full except possibly the bucket's last
      if (!isLast) assert(batch.length == 16, s"bucket $b batch $idx")
      // batches are length-contiguous: max length of batch k <= min of k+1
      val next = got.filter(g => g._3 == b && g._4 == idx + 1)
      if (next.nonEmpty)
        assert(batch.map(_._2).max <= next.map(_._2).min,
          s"bucket $b: batch $idx not length-contiguous with ${idx + 1}")
    }
  }
}
