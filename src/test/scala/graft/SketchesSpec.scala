package graft

import graft.functions.Sketches
import org.scalatest.matchers.should.Matchers

/** Portable HLL — accuracy against exact distinct (expected relative
  * error ≈ 1.04/√4096 ≈ 1.6% for p=12) and invariance under
  * partitioning (the estimate is a pure function of the value SET).
  */
class SketchesSpec extends SparkSpec with Matchers {
  import spark.implicits._

  test("hllProfile: estimate within 5% of exact distinct; zeros+denom consistent") {
    val n = 20000
    val df = (1 to n).map(i => ("g", s"item_$i")).toDF("g", "v")
      .union((1 to 500).map(i => ("h", s"thing_${i % 100}")).toDF("g", "v"))
    val out = Sketches.hllProfile(df, Seq("g"), $"v").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("hll_zeros"), r.getAs[Long]("hll_denom_q49"),
          r.getAs[Double]("hll_estimate"))).toMap
    val (_, _, estG) = out("g")
    estG shouldBe n.toDouble +- n * 0.05
    val (zerosH, _, _) = out("h")
    // 100 distincts over 4096 registers: nearly all registers empty, and
    // the raw estimate saturates near alpha*m — the caller applies
    // linear counting m*ln(m/zeros) below 2.5m, which hll_zeros carries
    zerosH should be >= 3900L
    val lc = 4096.0 * math.log(4096.0 / zerosH)
    lc shouldBe 100.0 +- 5.0
  }

  test("cms: estimates upper-bound true counts; exact when vocab << cells") {
    // 50 tokens, zipf-ish counts; 8192 cells per row → collisions are
    // possible but the min-over-4-rows estimate must never undercount
    val rows = (1 to 50).flatMap(i => Seq.fill(i * 3)(s"tok_$i"))
    val df = rows.map(Tuple1(_)).toDF("t")
    val sketch = Sketches.cmsSketch(df, $"t")
    val est = Sketches.cmsEstimate(sketch, df, $"t").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (1 to 50).foreach { i =>
      est(s"tok_$i") should be >= (i * 3).toLong
    }
    // 50 distinct over 4×2048 cells: overwhelmingly collision-free, so
    // at least 45 of the 50 estimates are exact
    val exact = (1 to 50).count(i => est(s"tok_$i") == (i * 3).toLong)
    exact should be >= 45
  }

  test("quantileProfile: estimates within 2^-subBits relative of exact; small values exact") {
    val rnd = new scala.util.Random(7)
    val vals = (1 to 20000).map(_ => math.abs(rnd.nextGaussian() * 5000).toLong + 1)
    val df = vals.map(("g", _)).toDF("g", "v")
    val out = Sketches.quantileProfile(df, Seq("g"), $"v").collect().head
    out.getAs[Long]("n_values") shouldBe 20000L
    val sorted = vals.sorted
    def exact(q: Int): Long = sorted((q * 20000 + 99) / 100 - 1)
    Seq(50, 90, 99).foreach { q =>
      val est = out.getAs[Long](s"p${q}_est").toDouble
      val ex = exact(q).toDouble
      // lower edge of the bucket containing the exact quantile:
      // est <= exact, relative gap <= 2^-5
      est should be <= ex
      est should be >= ex * (1.0 - 1.0 / 32.0) - 1.0
    }
    // values below 2^(subBits+1) are bucketed exactly
    val small = (0 to 1000).map(i => ("s", (i % 60).toLong)).toDF("g", "v")
    val so = Sketches.quantileProfile(small, Seq("g"), $"v").collect().head
    val ssorted = (0 to 1000).map(i => (i % 60).toLong).sorted
    so.getAs[Long]("p50_est") shouldBe ssorted((50 * 1001 + 99) / 100 - 1)
  }

  test("quantileProfile: pure function of the value multiset (partitioning invariant)") {
    val df = (1 to 8000).map(i => ("g", (i * 37L) % 5000)).toDF("g", "v")
    val a = Sketches.quantileProfile(df, Seq("g"), $"v").collect().head
    val b = Sketches.quantileProfile(df.repartition(23), Seq("g"), $"v").collect().head
    Seq("n_values", "p50_est", "p90_est", "p99_est").foreach { c =>
      a.getAs[Long](c) shouldBe b.getAs[Long](c)
    }
  }

  test("histBucket: monotone, seam-continuous, lower edge round-trips") {
    val vals = (0L to 200L) ++ Seq(255L, 256L, 257L, 1000L, 4095L, 4096L,
      65535L, 1000000L, Int.MaxValue.toLong, 1L << 40)
    val df = vals.map(Tuple1(_)).toDF("v")
      .select($"v", Sketches.histBucket($"v", 5).as("qb"))
      .select($"v", $"qb", Sketches.histBucketLowerEdge($"qb", 5).as("lo"))
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.sortBy(_._1).sliding(2).foreach { case Array((v1, b1, _), (v2, b2, _)) =>
      withClue(s"$v1->$b1 vs $v2->$b2: ") { b1 should be <= b2 }
    }
    rows.foreach { case (v, _, lo) =>
      withClue(s"v=$v lo=$lo: ") {
        lo should be <= v
        if (v >= 64) (v - lo).toDouble should be <= v.toDouble / 32.0
        else lo shouldBe v // exact region
      }
    }
  }

  test("hllProfile: identical output under any input partitioning") {
    val df = (1 to 5000).map(i => ("g", s"x${i % 1234}")).toDF("g", "v")
    val a = Sketches.hllProfile(df, Seq("g"), $"v").collect().head
    val b = Sketches.hllProfile(df.repartition(17), Seq("g"), $"v").collect().head
    a.getAs[Long]("hll_denom_q49") shouldBe b.getAs[Long]("hll_denom_q49")
    a.getAs[Double]("hll_estimate") shouldBe b.getAs[Double]("hll_estimate")
  }

  test("exactQuantiles: percentile_disc semantics on hand vectors") {
    // odd group: 1..5 => p50 = 3; even group: 10,20,30,40 => p50 = 20
    // (smallest value whose cumulative share reaches 50%)
    val df = ((1L to 5L).map(("odd", _)) ++
      Seq(10L, 20L, 30L, 40L).map(("even", _))).toDF("g", "v")
    val got = Sketches.exactQuantiles(df, Seq("g"), $"v",
        percentiles = Seq(50, 100))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    got("odd") shouldBe ((5L, 3L, 5L))
    got("even") shouldBe ((4L, 20L, 40L))
  }

  test("madOutliers: median/MAD flags, robust to the outlier itself") {
    // values 10,12,14,16,1000: median 14, devs 4,2,0,2,986, MAD 2
    // => outlier iff dev > 6: only the 1000
    val df = Seq(10L, 12L, 14L, 16L, 1000L).zipWithIndex
      .map { case (v, i) => (i.toLong, v, "g") }.toDF("id", "v", "g")
    val got = Sketches.madOutliers(df, Seq("g"), $"v", k = 3)
      .collect().map(r => r.getAs[Long]("v") ->
        (r.getAs[Long]("dev"), r.getAs[Boolean]("is_outlier"))).toMap
    got(1000L) shouldBe ((986L, true))
    got(10L) shouldBe ((4L, false))
    got(14L) shouldBe ((0L, false))
  }

  test("madOutliers: degenerate MAD 0 flags any deviation") {
    val df = (Seq.fill(5)(7L) :+ 8L).zipWithIndex
      .map { case (v, i) => (i.toLong, v, "g") }.toDF("id", "v", "g")
    val got = Sketches.madOutliers(df, Seq("g"), $"v", k = 3)
      .collect().map(r => r.getAs[Long]("v") -> r.getAs[Boolean]("is_outlier"))
      .toMap
    got(7L) shouldBe false
    got(8L) shouldBe true // dev 1 > 3*0
  }

  test("quantileBuckets: value-stable quartiles, ties share a bucket") {
    // 1..8: p25=2, p50=4, p75=6 => buckets 1,1,2,2,3,3,4,4
    val df = (1L to 8L).map(("g", _)).toDF("g", "v")
    val got = Sketches.quantileBuckets(df, Seq("g"), $"v")
      .collect().map(r => r.getAs[Long]("v") -> r.getAs[Int]("bucket")).toMap
    got shouldBe Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2,
      5L -> 3, 6L -> 3, 7L -> 4, 8L -> 4)
    // all-equal stratum: every row in bucket 1 (no arbitrary split)
    val ties = Seq.fill(8)(5L).map(("t", _)).toDF("g", "v")
    Sketches.quantileBuckets(ties, Seq("g"), $"v")
      .select("bucket").distinct().collect().map(_.getInt(0)).toSeq shouldBe
      Seq(1)
  }

  test("trimmedStats: exact decile trim, hand-computed") {
    // 10 values 1..9 + 1000: k = 1, middle = 2..9 + nothing of 1000
    // => sum 2+..+9 = 44, n_mid 8, mean 5
    val df = ((1L to 9L) :+ 1000L).map(("g", _)).toDF("g", "v")
    val got = Sketches.trimmedStats(df, Seq("g"), $"v", 1L, 10L).collect()(0)
    got.getLong(1) shouldBe 10L  // n
    got.getLong(2) shouldBe 1L   // k
    got.getLong(3) shouldBe 44L  // trimmed sum (outlier 1000 gone)
    got.getLong(4) shouldBe 5L   // floor(44/8)
  }

  test("trimmedStats: negative sums truncate portably; tie-heavy buckets") {
    // -10 x3, -1 x4, 5 x3 ; k = 1: drop one -10 and one 5
    // middle: -10 x2, -1 x4, 5 x2 => sum -14, n 8, trunc(-14/8) = -1
    val df = (Seq.fill(3)(-10L) ++ Seq.fill(4)(-1L) ++ Seq.fill(3)(5L))
      .map(("g", _)).toDF("g", "v")
    val got = Sketches.trimmedStats(df, Seq("g"), $"v", 1L, 10L).collect()(0)
    got.getLong(3) shouldBe -14L
    got.getLong(4) shouldBe -1L // truncation: BOTH engines' native int div
  }

  test("exactQuantiles: duplicates collapse, result partition-independent") {
    val df = (Seq.fill(90)(7L) ++ Seq.fill(10)(100L)).map(("g", _)).toDF("g", "v")
    val got = Sketches.exactQuantiles(df.repartition(13), Seq("g"), $"v",
      percentiles = Seq(50, 90, 91)).collect().head
    got.getLong(1) shouldBe 100L  // n
    got.getLong(2) shouldBe 7L    // p50
    got.getLong(3) shouldBe 7L    // p90: cum 90 >= 90
    got.getLong(4) shouldBe 100L  // p91
  }
}
