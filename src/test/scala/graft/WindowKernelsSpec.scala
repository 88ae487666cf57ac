package graft

import graft.core.Obs
import graft.ops.WindowKernels
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** W1 gradient — np.gradient parity (reference `calc_gradient_results`,
  * pinned `tests/test_qc.py:446-510`: constant ⇒ 0, linear ⇒ slope,
  * non-uniform dt matches `np.gradient(result, t)`). Expected vectors
  * generated with NumPy 1.x `np.gradient`.
  */
class WindowKernelsSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val w = Window.partitionBy($"ds").orderBy($"t")

  private def gradOf(t: Seq[Double], f: Seq[Double]): Seq[Double] = {
    val df = t.zip(f).map { case (ti, fi) => (1L, ti, fi) }.toDF("ds", "t", "f")
    WindowKernels.gradientOnto(df, "g", $"f", $"t", w)
      .orderBy($"t").select($"g").collect().map(_.getDouble(0)).toSeq
  }

  test("gradient: constant series => 0 (tests/test_qc.py:446-460)") {
    gradOf(Seq(0, 1, 2, 3, 4).map(_.toDouble), Seq.fill(5)(7.0))
      .foreach(g => g shouldBe 0.0 +- 1e-12)
  }

  test("gradient: linear series => slope everywhere") {
    gradOf(Seq(0, 1, 2, 3, 4).map(_.toDouble), Seq(1, 3, 5, 7, 9).map(_.toDouble))
      .foreach(g => g shouldBe 2.0 +- 1e-12)
  }

  test("gradient: non-uniform spacing matches np.gradient(f, t)") {
    val got = gradOf(Seq(0.0, 1.0, 3.0, 4.5, 9.0, 10.0),
      Seq(2.0, 3.5, 1.0, -2.0, 0.5, 4.0))
    val expected = Seq(1.5, 0.58333333333333337, -1.6785714285714286,
      -1.3611111111111112, 2.9646464646464645, 3.5)
    got.zip(expected).foreach { case (g, e) => g shouldBe e +- 1e-9 }
  }

  test("gradient: single-row stream => null") {
    val df = WindowKernels.gradientOnto(
      Seq((1L, 0.0, 5.0)).toDF("ds", "t", "f"), "g", $"f", $"t", w)
    assert(df.collect()(0).isNullAt(3))
  }

  test("zscore: trailing time window, sample stddev (tests/test_qc.py:671)") {
    // 4 points 10 min apart, 30-min trailing window => full prefix windows
    val tUs = Seq(0L, 600000000L, 1200000000L, 1800000000L)
    val v = Seq(10.0, 12.0, 14.0, 100.0)
    val df = tUs.zip(v).map { case (t, x) => (1L, t, x) }
      .toDF(Obs.DatastreamId, "t_us", "x")
    val got = WindowKernels.zscoreOnto(df, "z", $"x", $"t_us", 1800L)
      .orderBy($"t_us").select($"z").collect()
      .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
    // row0: single row => stddev null => NaN/null
    assert(got(0).isNaN)
    // row1: mean 11, sd sqrt(2) => (12-11)/1.414..
    got(1) shouldBe ((12.0 - 11.0) / math.sqrt(2.0)) +- 1e-9
    // row3: window covers all 4
    val m = v.sum / 4
    val sd = math.sqrt(v.map(x => (x - m) * (x - m)).sum / 3)
    got(3) shouldBe ((100.0 - m) / sd) +- 1e-9
  }

  test("timeRound: half-to-even to 1 s + |dt| (tests/test_other.py:108-115)") {
    val base = 1704067200L // 2024-01-01 00:00:00 UTC (even epoch second)
    val df = Seq(
      ("2024-01-01 00:00:00.4999", base),
      ("2024-01-01 00:00:00.5000", base),     // tie -> even bucket (down)
      ("2024-01-01 00:00:01.5000", base + 2), // tie from odd second -> up
      ("2024-01-01 00:00:01.2000", base + 1))
      .toDF("s", "expect_sec")
      .withColumn("ts", to_timestamp($"s"))
      .withColumn("r", WindowKernels.timeRound($"ts", 1L))
      .withColumn("dt", WindowKernels.dtToRound($"ts", $"r"))
    val rows = df.select(unix_micros($"r"), $"expect_sec", $"dt").collect()
    rows.foreach { r => assert(r.getLong(0) == r.getLong(1) * 1000000L) }
    assert(rows.map(_.getDouble(2)).toSeq == Seq(0.4999, 0.5, 0.5, 0.2))
  }

  test("velocity/acceleration: equator track at constant speed") {
    // 0.001 deg of longitude at the equator ~= 111.19 m (haversine, R=6371000.8)
    val df = (0 to 3).map(i => (1L, i * 1000000L, 0.0, i * 0.001)).toDF("ds", "t", "lat", "lon")
    val v = WindowKernels.velocityAcceleration(df, w, $"lat", $"lon", $"t")
      .orderBy($"t").select($"velocity_ms", $"acceleration_ms2").collect()
    assert(v(0).isNullAt(0))
    val expected = 6371000.8 * math.toRadians(0.001)
    v(1).getDouble(0) shouldBe expected +- 0.01
    v(2).getDouble(0) shouldBe expected +- 0.01
    v(2).getDouble(1) shouldBe 0.0 +- 1e-6 // constant speed
  }

  test("sessionize: sessions split exactly at gaps > threshold; stats roll up") {
    // stream A: events at 0,10,20 | 100,105 | 300  (gap > 50 splits)
    // stream B: one tied pair (zero gap => one session)
    val df = Seq(
      ("A", 0L), ("A", 10L), ("A", 20L), ("A", 100L), ("A", 105L), ("A", 300L),
      ("B", 7L), ("B", 7L)
    ).toDF("k", "t")
    val sess = WindowKernels.sessionize(df, Seq("k"), $"t", gapUs = 50L)
    val stats = WindowKernels.sessionStats(sess, Seq("k"), $"t")
      .collect().map(r => (r.getString(0), r.getAs[Long]("session_idx")) ->
        (r.getAs[Long]("t_start_us"), r.getAs[Long]("t_end_us"),
          r.getAs[Long]("n_events"), r.getAs[Long]("duration_us"))).toMap
    assert(stats(("A", 0L)) == ((0L, 20L, 3L, 20L)))
    assert(stats(("A", 1L)) == ((100L, 105L, 2L, 5L)))
    assert(stats(("A", 2L)) == ((300L, 300L, 1L, 0L)))
    assert(stats(("B", 0L)) == ((7L, 7L, 2L, 0L)))
    assert(stats.size == 4)
  }

  // W7 — scipy interp1d(kind="slinear", fill_value="extrapolate") parity.
  // Expected values are the hand-computed piecewise-linear fills; the edge
  // rows extend the nearest known segment (scipy's "extrapolate").
  test("interpSlinear: interior fill, edge extrapolation, degenerate streams") {
    val rows = Seq(
      // stream 1: known (0,10) (2,30) (5,60); masked at -1,1,3,4,7
      (1L, -1L, 1L, None), (1L, 0L, 2L, Some(10.0)), (1L, 1L, 3L, None),
      (1L, 2L, 4L, Some(30.0)), (1L, 3L, 5L, None), (1L, 4L, 6L, None),
      (1L, 5L, 7L, Some(60.0)), (1L, 7L, 8L, None),
      // stream 2: one known sample — no segment, fill stays null
      (2L, 0L, 9L, Some(5.0)), (2L, 1L, 10L, None),
      // stream 3: no known samples at all
      (3L, 0L, 11L, None)
    )
    val df = rows.toDF(Obs.DatastreamId, "t", Obs.IotId, "v")
      .withColumn("v", $"v".cast("double"))
    val got = WindowKernels.interpSlinear(df, "fill", $"v", $"t")
      .select(col(Obs.IotId), $"fill").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    got(1L) shouldBe Some(0.0)    // leading extrapolation along (0,10)-(2,30)
    got(3L) shouldBe Some(20.0)   // interior between (0,10)-(2,30)
    got(5L) shouldBe Some(40.0)   // interior between (2,30)-(5,60)
    got(6L) shouldBe Some(50.0)
    got(8L) shouldBe Some(80.0)   // trailing extrapolation along (2,30)-(5,60)
    got(2L) shouldBe Some(10.0)   // known rows keep their value
    got(10L) shouldBe None        // single-known stream: no segment
    got(11L) shouldBe None        // all-null stream
  }

  test("W9 dyadic EWMA: exact hand-computed weighted means, depth truncation") {
    val s = spark; import s.implicits._
    // one stream, values in micro units already
    val df = Seq((1L, 10L, 1000000L), (2L, 20L, 4000000L), (3L, 30L, 7000000L))
      .toDF("iot_id", "t_us", "v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("t_us"), col("iot_id"))
    val got = df.select(col("iot_id"),
        WindowKernels.ewmaDyadic(col("v"), w, depth = 20).as("e"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got(1L) shouldBe 1000000L                                   // 1-term frame
    got(2L) shouldBe (1000000L + 2 * 4000000L) / 3              // w = 1,2 / 3
    got(3L) shouldBe (1000000L + 2 * 4000000L + 4 * 7000000L) / 7
    // depth truncation: with depth=2 the first sample falls out at row 3
    val got2 = df.select(col("iot_id"),
        WindowKernels.ewmaDyadic(col("v"), w, depth = 2).as("e"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got2(3L) shouldBe (4000000L + 2 * 7000000L) / 3
    // constant series is a fixpoint at any depth
    val const = Seq((1L, 1L, 5000000L), (2L, 2L, 5000000L), (3L, 3L, 5000000L))
      .toDF("iot_id", "t_us", "v")
    val got3 = const.select(WindowKernels.ewmaDyadic(col("v"), w, 20).as("e"))
      .collect().map(_.getLong(0))
    all(got3) shouldBe 5000000L
  }

  test("W10 ffill resample: dense grid, LOCF fill, last-in-bucket wins") {
    val s = spark; import s.implicits._
    // stream 1: obs in buckets 0 (two obs — later one wins), 3; gap 1-2
    // stream 2: single bucket => single grid row, nothing filled
    val df = Seq(
      (1L, 5L, 10.0, 100L),   // ds 100, bucket 0, earlier
      (2L, 7L, 11.0, 100L),   // ds 100, bucket 0, later (t_us 7) => wins
      (3L, 35L, 44.0, 100L),  // ds 100, bucket 3
      (4L, 12L, 9.0, 200L)    // ds 200, bucket 1
    ).toDF("iot_id", "t_us", "result", "datastream_id")
    val got = WindowKernels.resampleFfill(df, "datastream_id", "t_us",
        "result", "iot_id", stepUs = 10L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getBoolean(3))).toMap
    got.size shouldBe 5 // ds 100: buckets 0..3; ds 200: bucket 1
    got((100L, 0L)) shouldBe ((11.0, false)) // later obs in bucket wins
    got((100L, 10L)) shouldBe ((11.0, true)) // gap carries forward
    got((100L, 20L)) shouldBe ((11.0, true))
    got((100L, 30L)) shouldBe ((44.0, false))
    got((200L, 10L)) shouldBe ((9.0, false))
  }

  test("islands: change-point rollup, null-safe runs, first row opens") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, 10L, Some("a"), 5L),
      (2L, 20L, Some("a"), 5L),   // same run
      (3L, 30L, None, 5L),        // null opens island 2
      (4L, 40L, None, 5L),        // null run continues (null-safe)
      (5L, 50L, Some("a"), 5L),   // back to a => island 3
      (6L, 10L, Some("x"), 9L)    // other stream: its own island 1
    ).toDF("iot_id", "t_us", "v", "ds")
    val got = graft.ops.WindowKernels.islands(df, Seq("ds"),
        col("t_us"), col("iot_id"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (Option(r.getString(2)), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    got.size shouldBe 4
    got((5L, 1L)) shouldBe ((Some("a"), 10L, 20L, 2L))
    got((5L, 2L)) shouldBe ((None, 30L, 40L, 2L))
    got((5L, 3L)) shouldBe ((Some("a"), 50L, 50L, 1L))
    got((9L, 1L)) shouldBe ((Some("x"), 10L, 10L, 1L))
  }

  test("conversionTimeout: first target after source, window decides") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, 10L, "view", 5L),   // next click at 15 => dt 5, converted (w=10)
      (2L, 15L, "click", 5L),
      (3L, 20L, "view", 5L),   // next click at 40 => dt 20 > 10: late
      (4L, 25L, "other", 5L),
      (5L, 40L, "click", 5L),
      (6L, 50L, "view", 5L),   // no click after => null, not converted
      (7L, 8L, "click", 5L)    // click BEFORE the first view: ignored
    ).toDF("iot_id", "t_us", "typ", "ds")
    val got = graft.ops.WindowKernels.conversionTimeout(df, Seq("ds"),
        col("t_us"), col("iot_id"), $"typ" === "view", $"typ" === "click",
        windowUs = 10L, idCol = "iot_id")
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
      .toMap
    got.size shouldBe 3
    got(1L) shouldBe ((Some(5L), true))
    got(3L) shouldBe ((Some(20L), false))
    got(6L) shouldBe ((None, false))
  }

  test("SCD2 intervals: half-open chain, NULL-terminated current row") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, 10L, "a", 5L), (2L, 20L, "a", 5L), // [10, 30) a
      (3L, 30L, "b", 5L),                     // [30, 45) b
      (4L, 45L, "a", 5L)                      // [45, null) a again
    ).toDF("iot_id", "t_us", "v", "ds")
    val got = graft.ops.WindowKernels.scd2Intervals(df, Seq("ds"),
        col("t_us"), col("iot_id"), col("v"))
      .collect().map(r => (r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4)))
      .sortBy(_._2)
    got shouldBe Seq(
      ("a", 10L, Some(30L), 2L),
      ("b", 30L, Some(45L), 1L),
      ("a", 45L, None, 1L))
  }

  test("W10 ffill: equal-t tie broken by the tie-break column") {
    val s = spark; import s.implicits._
    val df = Seq((1L, 5L, 1.0, 7L), (2L, 5L, 2.0, 7L))
      .toDF("iot_id", "t_us", "result", "datastream_id")
    val got = WindowKernels.resampleFfill(df, "datastream_id", "t_us",
        "result", "iot_id", stepUs = 10L).collect()
    got.length shouldBe 1
    got(0).getDouble(2) shouldBe 2.0 // higher iot_id wins at equal t_us
  }

  /** Direct clamped-recursion reference for cusum: the identity under
    * test is S⁺_t = P_t − min(0, min_{j≤t} P_j) ≡
    * max(0, S⁺_{t-1} + d_t) — the window-algebra form must equal this
    * loop exactly on any integer input (Long `/` and Spark DIV both
    * truncate toward zero, so mu/mad/k replay identically).
    */
  private def cusumRef(vs: Seq[Long]): Seq[(Long, Long, Boolean)] = {
    val n = vs.length.toLong
    val mu = vs.sum / n
    val mad = vs.map(v => math.abs(v - mu)).sum / n
    val k = mad / 2
    var (sp, sn) = (0L, 0L)
    vs.map { v =>
      sp = math.max(0L, sp + (v - mu - k))
      sn = math.max(0L, sn + (mu - v - k))
      (sp, sn, sp > 10 * mad || sn > 10 * mad)
    }
  }

  private def cusumGot(streams: Map[Long, Seq[Long]])
      : Map[Long, Seq[(Long, Long, Boolean)]] = {
    val s = spark; import s.implicits._
    val rows = for {
      (ds, vs) <- streams.toSeq; (v, i) <- vs.zipWithIndex
    } yield (i.toLong, ds, i.toLong * 1000L, v)
    val df = rows.toDF("iot_id", "ds", "t_us", "v_micro")
    WindowKernels.cusum(df, "ds", "t_us", "v_micro", "iot_id")
      .collect()
      .map(r => (r.getAs[Long]("ds"), r.getAs[Long]("iot_id"),
        (r.getAs[Long]("s_pos_micro"), r.getAs[Long]("s_neg_micro"),
         r.getAs[Boolean]("alarm"))))
      .groupBy(_._1)
      .map { case (ds, a) => ds -> a.sortBy(_._2).map(_._3).toSeq }
  }

  test("W13 CUSUM: pinned vector — single spike absorbed, no alarm") {
    // v=[10,10,10,10,50]: mu=18, mad=12, k=6; dp=v-24, dn=12-v.
    // sp=[0,0,0,0,26], sn=[2,4,6,8,0]; h=120 — a lone spike never alarms.
    val got = cusumGot(Map(1L -> Seq(10L, 10L, 10L, 10L, 50L)))(1L)
    got shouldBe Seq((0L, 2L, false), (0L, 4L, false), (0L, 6L, false),
      (0L, 8L, false), (26L, 0L, false))
  }

  test("W17 Theil-Sen trend: spike-robust, matches the dyadic reference") {
    val s = spark; import s.implicits._
    def ref(ts: Seq[Long], vs: Seq[Long]): (Long, Long) = {
      val slopes = for {
        k <- Seq(1, 2, 4, 8); i <- ts.indices.drop(k)
        if ts(i) != ts(i - k)
      } yield (vs(i) - vs(i - k)) * 1000000L / (ts(i) - ts(i - k))
      val sorted = slopes.sorted
      (slopes.length.toLong, sorted((slopes.length + 1) / 2 - 1))
    }
    val ts = (0 until 12).map(_.toLong * 1000000L)
    val clean = (0 until 12).map(_.toLong * 50L)
    val spiked = clean.updated(6, clean(6) + 10000L)
    val rows = (ts.zip(clean).zipWithIndex.map { case ((t, v), i) =>
      (i.toLong, t, v, 1L) } ++
      ts.zip(spiked).zipWithIndex.map { case ((t, v), i) =>
        (i.toLong, t, v, 2L) }).toDF("iot_id", "t_us", "v_micro", "ds")
    val got = WindowKernels.theilSenTrend(rows, "ds", "t_us", "v_micro",
        "iot_id", maxLagExp = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    got(1L) shouldBe ref(ts, clean)
    got(2L) shouldBe ref(ts, spiked)
    got(1L)._2 shouldBe 50L       // exact slope on a clean line
    got(2L)._2 shouldBe 50L       // the spike does not move the median
    got(1L)._1 shouldBe 33L       // 11 + 10 + 8 + 4 dyadic pairs
  }

  test("W16 gap report: modal cadence, tie to smaller, degenerate streams") {
    val s = spark; import s.implicits._
    val rows = Seq(
      // stream 1: cadence 10, one 30 gap -> 6 obs over span 70
      (1L, 0L, 1L), (2L, 10L, 1L), (3L, 20L, 1L), (4L, 30L, 1L),
      (5L, 60L, 1L), (6L, 70L, 1L),
      // stream 2: dts {10, 20} tie once each -> smaller (10) wins
      (7L, 0L, 2L), (8L, 10L, 2L), (9L, 30L, 2L),
      // stream 3: single observation
      (10L, 5L, 3L),
      // stream 4: all timestamps tie -> no positive gap, no cadence
      (11L, 5L, 4L), (12L, 5L, 4L), (13L, 5L, 4L)
    ).toDF("iot_id", "t_us", "ds")
    val got = WindowKernels.gapReport(rows, "ds", "t_us", "iot_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) -1L else r.getLong(5),
        r.getLong(6))).toMap
    // expected points = 70 DIV 10 + 1 = 8 -> coverage 6e6/8 = 750000
    got(1L) shouldBe ((6L, 10L, 70L, 1L, 30L, 750000L))
    // span 30 -> expected 4 -> coverage 750000; the 20 gap > 15 fires
    got(2L) shouldBe ((3L, 10L, 30L, 1L, 20L, 750000L))
    got(3L) shouldBe ((1L, -1L, 0L, 0L, -1L, 1000000L))
    got(4L) shouldBe ((3L, -1L, 0L, 0L, 0L, 1000000L))
  }

  /** Reference ACF replaying the exact integer chain (truncating mean,
    * BigInt sums, truncating ppm division).
    */
  private def acfRef(vs: Seq[Long], k: Int): (Long, Option[Long]) = {
    val mu = vs.sum / vs.length
    val d = vs.map(_ - mu)
    val den = d.map(x => BigInt(x) * x).sum
    val num = (k until d.length).map(i => BigInt(d(i)) * d(i - k)).sum
    val acf = if (den == 0) None else Some((num * 1000000 / den).toLong)
    ((d.length - k).toLong, acf)
  }

  test("W15 ACF: alternating series ≈ -1 at lag 1, +1 at lag 2") {
    val s = spark; import s.implicits._
    val alt = (0 until 40).map(i => if (i % 2 == 0) 100L else -100L)
    val const = Seq.fill(10)(7L) // zero variance -> null acf
    val rows = (alt.zipWithIndex.map { case (v, i) =>
      (i.toLong, 1L, i.toLong * 100, v) } ++
      const.zipWithIndex.map { case (v, i) =>
        (i.toLong, 2L, i.toLong * 100, v) })
      .toDF("iot_id", "ds", "t_us", "v_micro")
    val got = WindowKernels.acf(rows, "ds", "t_us", "v_micro", "iot_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    for (k <- 1 to 3) {
      got((1L, k.toLong)) shouldBe acfRef(alt, k)
      got((2L, k.toLong)) shouldBe ((10L - k, None))
    }
    // sign structure of the alternating series
    assert(got((1L, 1L))._2.get < -900000L)
    assert(got((1L, 2L))._2.get > 900000L)
  }

  test("W15 ACF: trend series positive at every lag; truncating mean") {
    val s = spark; import s.implicits._
    val tr = (0 until 30).map(i => i.toLong * 10 + (if (i % 3 == 0) 1 else 0))
    val rows = tr.zipWithIndex.map { case (v, i) =>
      (i.toLong, 5L, i.toLong, v) }.toDF("iot_id", "ds", "t_us", "v_micro")
    val got = WindowKernels.acf(rows, "ds", "t_us", "v_micro", "iot_id", 2)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), Some(r.getLong(3))))
      .toMap
    got(1L) shouldBe acfRef(tr, 1)
    got(2L) shouldBe acfRef(tr, 2)
    assert(got(1L)._2.get > 800000L)
  }

  test("W13 CUSUM: window algebra == clamped recursion; drift alarms") {
    // Stream 1: persistent +shift after midpoint — the drift a pointwise
    // range/z check never fires on; CUSUM must alarm.
    val drift = Seq.fill(50)(0L) ++ Seq.fill(50)(10L)
    // Stream 2: deterministic mixed-sign noise (no alarm expected).
    val noise = (0 until 120).map(i => ((i * 37 + 11) % 23 - 11).toLong)
    // Stream 3: negative drift — exercises the s_neg side.
    val negd = Seq.fill(40)(100L) ++ Seq.fill(60)(88L)
    val streams = Map(1L -> drift, 2L -> noise, 3L -> negd)
    val got = cusumGot(streams)
    for ((ds, vs) <- streams) got(ds) shouldBe cusumRef(vs)
    assert(got(1L).exists(_._3), "positive drift must alarm")
    assert(got(3L).exists(_._3), "negative drift must alarm")
    assert(got(3L).exists(t => t._2 > 10 * 6), "negative side accumulates")
  }

  test("gradientOnto: np.gradient on irregular streams, null on zero dt") {
    // four streams: non-uniform dt, duplicate timestamps (degenerate
    // spacing => null) in the interior and at both edges, a NaN value,
    // and a single-row stream — every branch of the when-chain. Ordered
    // by (t, f) so the duplicate-timestamp rows have a fixed order.
    // Expected: NumPy 1.26 `np.gradient(f, t)` over each row's neighbours.
    val rows = Seq(
      (1L, 0.0, 2.0), (1L, 1.0, 3.5), (1L, 3.0, 1.0), (1L, 3.0, 4.0),
      (1L, 4.5, -2.0), (1L, 9.0, 0.5),
      (2L, 0.0, 1.0), (2L, 2.0, Double.NaN), (2L, 5.0, 9.0),
      (3L, 7.0, 42.0),
      (4L, 0.0, 1.0), (4L, 0.0, 2.0))
    val wTf = Window.partitionBy($"ds").orderBy($"t", $"f")
    val got = WindowKernels.gradientOnto(rows.toDF("ds", "t", "f"), "g", $"f", $"t", wTf)
      .orderBy($"ds", $"t", $"f").select($"g").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    val expected: Seq[Option[Double]] = Seq(
      Some(1.5), Some(0.5833333333333334), None, None,  // forward edge, central, hd = 0, hs = 0
      Some(-2.861111111111111), Some(0.5555555555555556), // central, backward edge
      Some(Double.NaN), Some(Double.NaN), Some(Double.NaN), // NaN propagates
      None,                                               // single-row stream
      None, None)                                         // zero spacing at both edges
    got.size shouldBe expected.size
    got.zip(expected).foreach {
      case (Some(g), Some(e)) if e.isNaN => assert(g.isNaN, s"$g vs NaN")
      case (Some(g), Some(e)) => g shouldBe e +- 1e-12
      case (g, e) => g shouldBe e
    }
  }

  test("batch reference: drift alarms, centered stream never does") {
    // (iot_id, t_us, v_micro, ds): stream 5 drifts high then recovers;
    // stream 9 stays centered (never alarms)
    val rows = Seq(
      (1L, 10L, 100L, 5L), (2L, 20L, 250L, 5L), (3L, 30L, 260L, 5L),
      (4L, 40L, 270L, 5L), (5L, 50L, 100L, 5L), (6L, 60L, 90L, 5L),
      (7L, 10L, 95L, 9L), (8L, 20L, 105L, 9L), (9L, 30L, 100L, 9L))
    val b = WindowKernels.cusumFixed(
        rows.toDF("iot_id", "t_us", "v_micro", "ds"),
        "ds", "t_us", "v_micro", "iot_id", 100L, 10L, 300L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // stream 5: sp after rows 2-4 = 140, 290, 450 -> alarm on row 4
    b(2L) shouldBe ((140L, 0L, false))
    b(4L) shouldBe ((450L, 0L, true))
    // recovery: 450 + (100-110) = 440, still above h
    b(5L) shouldBe ((440L, 0L, true))
    Seq(7L, 8L, 9L).foreach(i => b(i)._3 shouldBe false)
  }

  test("batch reference: exactly the two planted gaps") {
    def us(sec: Long) = sec * 1000000L
    // (iot_id, t_us, ds): stream 5 has gaps 200s (10->210) and 150s
    // (240->390); stream 9 is steady then goes quiet 240s (160->400)
    val rows = Seq(
      (1L, us(10), 5L), (2L, us(210), 5L), (3L, us(240), 5L),
      (4L, us(390), 5L),
      (5L, us(10), 9L), (6L, us(60), 9L), (7L, us(110), 9L),
      (8L, us(160), 9L), (9L, us(400), 9L))
    WindowKernels.gapEvents(rows.toDF("iot_id", "t_us", "ds"),
        "ds", "t_us", "iot_id", thresholdUs = us(100))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet shouldBe Set(
        (5L, us(10), us(210), us(200)), (5L, us(240), us(390), us(150)),
        (9L, us(160), us(400), us(240)))
  }

  test("batch-derived expectation sanity") {
    // (iot_id, t_us, typ, ds); window 10
    val rows = Seq(
      (1L, 10L, "view", 5L),   // click at 15: converted dt 5
      (2L, 15L, "click", 5L),
      (3L, 20L, "view", 5L),   // next click at 40 (> 30): timeout at t>30
      (4L, 32L, "other", 5L),  // the witness that passes 20+10
      (5L, 40L, "click", 5L),
      (6L, 50L, "view", 5L),   // unresolved: nothing after 50+10
      (7L, 8L, "view", 9L),    // other stream: click at 8+2=10, dt 2
      (8L, 10L, "click", 9L))
    val batch = WindowKernels.conversionTimeout(
        rows.toDF("iot_id", "t_us", "typ", "ds"), Seq("ds"),
        col("t_us"), col("iot_id"), $"typ" === "view", $"typ" === "click",
        windowUs = 10L, idCol = "iot_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
    // the resolved attempts: converted in window, or any event after t+window
    val resolved = batch.flatMap { case (ds, id, t, dt, conv) =>
      val witness = rows.exists { case (_, rt, _, rds) => rds == ds && rt > t + 10L }
      if (conv) Some((ds, id, true, dt))
      else if (witness) Some((ds, id, false, None))
      else None
    }.toSet
    resolved shouldBe Set(
      (5L, 1L, true, Some(5L)),
      (5L, 3L, false, None),
      (9L, 7L, true, Some(2L)))
  }
}
