package graft

import graft.functions.Eval
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

class EvalSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private def auc(rows: Seq[(Long, Boolean)]) = {
    val r = Eval.rocAuc(rows.toDF("s", "y"), col("s"), col("y"))
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3))
  }

  test("perfect separation = 1e6; reversed = 0; all-tied = 500000") {
    auc(Seq((1L, false), (2L, false), (10L, true), (11L, true))) shouldBe
      ((2L, 2L, 8L, 1000000L))
    auc(Seq((10L, false), (11L, false), (1L, true), (2L, true))) shouldBe
      ((2L, 2L, 0L, 0L))
    auc(Seq((5L, true), (5L, false), (5L, true), (5L, false))) shouldBe
      ((2L, 2L, 4L, 500000L))
  }

  test("mixed case matches the hand count, ties at half weight") {
    // scores: neg {1, 3, 3}, pos {2, 3, 7}
    //   pos 2: beats neg1            -> 2
    //   pos 3: beats neg1, ties 3,3  -> 2 + 1 + 1 = 4
    //   pos 7: beats all three       -> 6
    // U2 = 12 of max 18 -> AUC = 12/18 = 666666 ppm (floor)
    auc(Seq((1L, false), (3L, false), (3L, false),
      (2L, true), (3L, true), (7L, true))) shouldBe
      ((3L, 3L, 12L, 666666L))
  }

  test("degenerate single-class input yields null AUC, honest counts") {
    auc(Seq((1L, true), (2L, true))) shouldBe ((2L, 0L, 0L, -1L))
  }

  test("bucketing is invisible: matches the pairwise count on skewed scores") {
    val rows = (1 to 500).map(i =>
      ((i * i).toLong % 997, i % 3 == 0)) // clustered score distribution
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    val u2 = (for (p <- pos; n <- neg) yield if (p > n) 2L else if (p == n) 1L else 0L).sum
    val nPos = pos.size.toLong
    val nNeg = neg.size.toLong
    auc(rows) shouldBe ((nPos, nNeg, u2, u2 * 500000L / (nPos * nNeg)))
  }

  test("calibration bins: hand-computed widths, means, positive rates") {
    // scores 0..9 with label = (s >= 7); lo=0, hi=9, width = 9/5+1 = 2
    // bins: {0,1},{2,3},{4,5},{6,7},{8,9} -> pos rates 0,0,0,500000,1e6
    val rows = (0L to 9L).map(s => (s, s >= 7L))
    val got = Eval.calibrationBins(rows.toDF("s", "y"),
        col("s"), col("y"), nBins = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    got shouldBe Seq((0L, 2L, 0L, 0L), (1L, 2L, 2L, 0L), (2L, 2L, 4L, 0L),
      (3L, 2L, 6L, 500000L), (4L, 2L, 8L, 1000000L))
  }

  test("calibration bins: negative scores, truncating integer mean") {
    // scores -5,-4,1: lo=-5, hi=1, width = 6/2+1 = 4 -> bins {-5,-4},{1}
    // mean of bin 0 = -9 DIV 2 = -4 (truncation toward zero, both engines)
    val rows = Seq((-5L, false), (-4L, true), (1L, true))
    val got = Eval.calibrationBins(rows.toDF("s", "y"),
        col("s"), col("y"), nBins = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    got shouldBe Seq((0L, 2L, -4L, 500000L), (1L, 1L, 1L, 1000000L))
  }

  test("nDCG@k: perfect, worst-in-k, and partial rankings") {
    import graft.functions.Portable
    def gain(rank: Long): Long = 65536000000L / Portable.log2q16Ref(rank + 1)
    val cg = (1L to 5L).scanLeft(0L)((a, j) => a + gain(j)).tail // cg(1..5)
    def run(res: Seq[(Long, Long, Int, Boolean)], nrt: Seq[(Long, Long)]) =
      Eval.ndcgAtK(res.toDF("query_id", "doc_id", "rnk", "rel"),
          nrt.toDF("query_id", "n_rel_total"), k = 5)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) -1L else r.getLong(5))).toMap
    // q1: 2 relevant docs, both at the TOP -> dcg = cg(2) = idcg -> 1e6
    // q2: same 2 relevant at the BOTTOM (ranks 4,5) -> dcg < idcg
    // q3: no relevant docs at all -> idcg 0, ndcg null
    val res = Seq(
      (1L, 10L, 1, true), (1L, 11L, 2, true), (1L, 12L, 3, false),
      (2L, 20L, 1, false), (2L, 21L, 2, false), (2L, 22L, 3, false),
      (2L, 23L, 4, true), (2L, 24L, 5, true),
      (3L, 30L, 1, false))
    val nrt = Seq((1L, 2L), (2L, 2L), (3L, 0L))
    val got = run(res, nrt)
    got(1L) shouldBe ((2L, 2L, cg(1), cg(1), 1000000L))
    val dcg2 = gain(4) + gain(5)
    got(2L) shouldBe ((2L, 2L, dcg2, cg(1), dcg2 * 1000000L / cg(1)))
    got(3L) shouldBe ((0L, 0L, 0L, 0L, -1L))
  }

  test("Cohen's kappa: perfect, independent, opposed, and constant raters") {
    def kappa(rows: Seq[(Boolean, Boolean)]) = {
      val r = Eval.cohensKappa(rows.toDF("a", "b"), col("a"), col("b"))
        .collect()(0)
      (r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7)))
    }
    // perfect agreement on a mixed frame -> kappa exactly 1e6
    val perfect = Seq.fill(3)((true, true)) ++ Seq.fill(5)((false, false))
    val (po1, pe1, k1) = kappa(perfect)
    po1 shouldBe 1000000L
    k1 shouldBe Some(1000000L)
    // independent raters (balanced 2x2) -> po == pe == 1/2 -> kappa 0
    val indep = Seq((true, true), (true, false), (false, true),
      (false, false))
    kappa(indep) shouldBe ((500000L, 500000L, Some(0L)))
    // total opposition -> po 0, pe 1/2 -> kappa -1
    kappa(Seq((true, false), (false, true))) shouldBe
      ((0L, 500000L, Some(-1000000L)))
    // both raters constant -> pe = 1e6 -> undefined (null)
    kappa(Seq.fill(4)((true, true)))._3 shouldBe None
  }

  test("reciprocal rank: first hit wins, no hit is 0, truncating ppm") {
    val res = Seq(
      (1L, 10L, 1, true), (1L, 11L, 2, true),   // first at rank 1
      (2L, 20L, 1, false), (2L, 21L, 2, false), (2L, 22L, 3, true),
      (3L, 30L, 1, false), (3L, 31L, 2, false)  // never relevant
    ).toDF("query_id", "doc_id", "rnk", "rel")
    val got = Eval.reciprocalRank(res).collect()
      .map(r => r.getLong(0) -> (
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))).toMap
    got(1L) shouldBe ((1L, 1000000L))
    got(2L) shouldBe ((3L, 333333L)) // 1e6 DIV 3 truncates
    got(3L) shouldBe ((-1L, 0L))
  }

  test("nDCG@k: idcg caps at k when more than k docs are relevant") {
    import graft.functions.Portable
    def gain(rank: Long): Long = 65536000000L / Portable.log2q16Ref(rank + 1)
    val cg5 = (1L to 5L).map(gain).sum
    val res = (1 to 5).map(i => (7L, 100L + i, i, true))
    val got = Eval.ndcgAtK(res.toDF("query_id", "doc_id", "rnk", "rel"),
        Seq((7L, 40L)).toDF("query_id", "n_rel_total"), k = 5)
      .collect()(0)
    got.getLong(1) shouldBe 40L
    got.getLong(4) shouldBe cg5       // idcg = cg at min(40, 5) = 5
    got.getLong(5) shouldBe 1000000L  // all top-5 relevant -> perfect @5
  }
}
