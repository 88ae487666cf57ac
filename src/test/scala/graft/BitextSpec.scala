package graft

import graft.functions.Bitext
import org.scalatest.matchers.should.Matchers

/** Margin-based bitext mining: planted translation pairs (identical
  * vectors across the even/odd split) must be mined, the mutual-best
  * rule must hold (each endpoint at most once), and the output must be
  * a pure function of the input set (partitioning invariance).
  */
class BitextSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val dim = 8

  /** deterministic non-zero vector per id; ids 2j/2j+1 for j < 3 are
    * exact duplicates across the sides — the planted parallel pairs —
    * and near-orthogonal to the noise cloud (noise loads on dim 0,
    * each planted pair on its own dimension), so the planted margin
    * robustly dominates any noise cosine.
    */
  private def vec(id: Long): Seq[Float] = {
    if (id < 6) {
      val j = (id / 2).toInt
      (0 until dim).map(i => if (i == j + 1) 50f else 1f)
    } else (0 until dim).map(i =>
      (((id * 31 + i * 17) % 13) - 6 + (if (i == 0) 14 else 0)).toFloat)
  }

  private def emb(ids: Seq[Long]) =
    ids.map(id => (id, vec(id))).toDF("vec_id", "embedding")

  test("planted identical cross-side pairs are mined as mutual best") {
    val df = emb(0L until 40L)
    val got = Bitext.minePairs(df, "vec_id", "embedding",
      nPlanes = 4, dim = dim, k = 3, maxBucketSize = 100L)
      .collect()
    val pairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical vectors always share every LSH bucket and have cosine
    // 1.0 — the maximum — so each planted pair must survive mining
    for (j <- 0 until 3)
      assert(pairs.contains((2L * j, 2L * j + 1)),
        s"planted pair ($j) missing from ${pairs.mkString(",")}")
    // mutual-best: an endpoint appears at most once on its side
    val srcs = got.map(_.getLong(0))
    val tgts = got.map(_.getLong(1))
    srcs.distinct.length shouldBe srcs.length
    tgts.distinct.length shouldBe tgts.length
    // sides are disjoint by parity
    srcs.foreach(s => assert(s % 2 == 0))
    tgts.foreach(t => assert(t % 2 == 1))
    // cosine is quantized to micro and margins clear the floor
    got.foreach { r =>
      assert(r.getLong(2) <= 1000000L)
      assert(r.getLong(3) >= 0L)
    }
  }

  test("output is invariant under input partitioning") {
    val df = emb(0L until 40L)
    def run(d: org.apache.spark.sql.DataFrame) =
      Bitext.minePairs(d, "vec_id", "embedding",
        nPlanes = 4, dim = dim, k = 3, maxBucketSize = 100L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    run(df.repartition(7)) shouldBe run(df)
  }

  test("centroid outliers: the planted off-topic member ranks first") {
    // label 0: nine copies of u plus ONE v orthogonal to u; label 1: all w.
    // v is the obvious outlier of label 0 (cos² to the centroid far below
    // the u-copies'); every label emits at most k rows, ranked ascending.
    val u = (0 until dim).map(i => if (i == 0) 10f else 0f)
    val v = (0 until dim).map(i => if (i == 1) 10f else 0f)
    val w = (0 until dim).map(i => if (i == 2) 7f else 1f)
    val rows = (0L until 9L).map(j => (j, u, 0)) ++ Seq((9L, v, 0)) ++
      (10L until 14L).map(j => (j, w, 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = graft.functions.EmbAudit.centroidOutliers(
      df, "vec_id", "embedding", "label", k = 3).collect()
    val byLabel = got.groupBy(_.getLong(0))
    // label 0's rank-1 outlier is the planted orthogonal vector
    val l0 = byLabel(0L).sortBy(_.getInt(3))
    l0.head.getLong(1) shouldBe 9L
    // and it scores strictly below every u copy emitted
    assert(l0.tail.forall(_.getLong(2) > l0.head.getLong(2)))
    // identical members tie: ranks break by id, k rows per label
    byLabel(1L).map(_.getLong(1)).sorted shouldBe Array(10L, 11L, 12L)
    got.foreach(r => assert(r.getInt(3) >= 1 && r.getInt(3) <= 3))
  }

  test("an exact pair alone in its neighborhood has margin exactly zero") {
    // two identical vectors only: fwd and bwd top-k are the pair itself,
    // so the pooled mean equals the cosine and the margin is 0 — the
    // boundary the >= 0 gate must keep
    val df = emb(Seq(4L, 5L))
    val got = Bitext.minePairs(df, "vec_id", "embedding",
      nPlanes = 4, dim = dim, k = 3, maxBucketSize = 100L).collect()
    got.length shouldBe 1
    got.head.getLong(3) shouldBe 0L
  }

  test("saturationStats: an over-cap corpus reports the dropped mass") {
    // constant vectors collapse into ONE bucket; cap 10 -> that bucket
    // is at cap and every row is dropped — the exact silent-recall-loss
    // shape the metric exists to expose
    val df = (0L until 50L).map(id => (id, (0 until dim).map(_ => 1f)))
      .toDF("vec_id", "embedding")
    val got = Bitext.saturationStats(df, "vec_id", "embedding",
      nPlanes = 4, dim = dim, maxBucketSize = 10L).collect()(0)
    got.getAs[Int]("n_planes") shouldBe 4
    got.getAs[Long]("total_buckets") shouldBe 1L
    got.getAs[Long]("buckets_at_cap") shouldBe 1L
    got.getAs[Long]("rows_dropped") shouldBe 50L
    got.getAs[Long]("candidate_volume") shouldBe 0L
  }

  test("auto geometry: bucket width grows with the corpus, killing the " +
    "fixed-width candidate saturation") {
    val small = emb(0L until 64L) // target 32: p = max(4, 1) = 4
    val large = emb(0L until 4096L) // 32 * 2^7 = 4096 -> p = 7
    val sSmall = Bitext.saturationStats(small, "vec_id", "embedding",
      nPlanes = 0, dim = dim).collect()(0)
    val sLarge = Bitext.saturationStats(large, "vec_id", "embedding",
      nPlanes = 0, dim = dim).collect()(0)
    sSmall.getAs[Int]("n_planes") shouldBe 4
    sLarge.getAs[Int]("n_planes") shouldBe 7
    // 64x the data gets a wider table, not the same saturated buckets
    assert(sLarge.getAs[Long]("total_buckets") >
      sSmall.getAs[Long]("total_buckets"))
    // and minePairs derives the same width (auto == explicit)
    val auto = Bitext.minePairs(small, "vec_id", "embedding",
      nPlanes = 0, dim = dim, k = 3, maxBucketSize = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = Bitext.minePairs(small, "vec_id", "embedding",
      nPlanes = 4, dim = dim, k = 3, maxBucketSize = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    auto shouldBe explicit
  }
}
