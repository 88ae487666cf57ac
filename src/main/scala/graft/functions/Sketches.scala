package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Portable cardinality sketches for corpus profiling.
  *
  * Spark's own `approx_count_distinct` is the right tool when only Spark
  * reads the answer — but its HLL++ buffers hash with xxHash64 and are
  * not reproducible outside the engine, so a sketch persisted today
  * can't be merged or audited by another system tomorrow. This HLL is
  * built from PORTABLE pieces instead: the same md5-prefix hash as the
  * dedup/sampling family, integer-only rank-of-first-set-bit (bit-fill +
  * popcount — no log/clz libm anywhere), and an exact integer harmonic
  * denominator in Q49 fixed point. The identical arithmetic runs in any
  * engine with md5 + 64-bit integers (the DuckDB oracle replays it
  * bit-for-bit), and the per-register state is plain rows — mergeable
  * across runs/engines by `max` per register.
  *
  * Scale shape (Flajolet et al. 2007, "HyperLogLog"): the sketch is
  * relational algebra, not a custom buffer — `groupBy(strata, register)
  * .agg(max(rho))` collapses the token stream map-side to ≤ #strata × m
  * rows per partition before the only shuffle, then a second tiny
  * groupBy folds the m registers. An exact `count(DISTINCT token)` would
  * instead shuffle one row per distinct (stratum, token) pair — the
  * dominant shuffle at corpus scale; the sketch's traffic is bounded by
  * the register count no matter how many tokens flow in.
  */
object Sketches {

  /** Hash width: 15 md5 hex chars = 60 bits, the widest prefix that is
    * guaranteed inside a signed 64-bit integer in every engine.
    */
  val HashBits = 60

  /** First 60 bits of md5(salt‖item) as a non-negative BIGINT. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The per-item HLL pieces as columns: (register index in [0, 2^p),
    * rho = rank of first set bit of the remaining 60−p hash bits + 1).
    * Integer-only: rho is bit-fill + popcount, no log/clz libm anywhere.
    */
  def hllRegisterRho(item: Column, p: Int, salt: String): (Column, Column) = {
    val m = 1L << p
    val wBits = HashBits - p
    val h = hash60(concat(lit(salt), item.cast("string")))
    val reg = pmod(h, lit(m))
    val w = shiftright(h, p)
    // fill every bit below the MSB, then popcount == bit-length(w);
    // rho = leading-zeros-in-wBits + 1 = wBits - bitlen + 1 (w=0 -> wBits+1)
    val filled = Seq(1, 2, 4, 8, 16, 32)
      .foldLeft(w)((acc, s) => acc.bitwiseOR(shiftright(acc, s)))
    (reg, lit(wBits + 1) - bit_count(filled))
  }

  /** The raw-estimate constant: α_m · m² · 2^49 (the Q49 numerator). */
  def hllNumerator(p: Int): Double = {
    val m = (1L << p).toDouble
    0.7213 / (1.0 + 1.079 / m) * (m * m) * math.pow(2.0, 49)
  }

  /** Per-stratum HLL profile of `item` with m = 2^p registers.
    * Returns one row per stratum: `hll_zeros` (registers never hit),
    * `hll_denom_q49` (the exact integer harmonic denominator,
    * Σ_j 2^(49−M_j) over all m registers), and `hll_estimate` (the raw
    * HLL cardinality α_m·m²/Σ2^(−M_j) — IEEE-deterministic: the only
    * float steps are two exact power-of-two scalings and one division).
    * Small-range linear counting (m·ln(m/zeros)) needs libm and is left
    * to the caller — `hll_zeros` carries everything it needs.
    *
    * p ∈ [4, 16]: register index takes p of the 60 hash bits, rho ranks
    * the remaining w = 60−p, so M_j ∈ [1, w+1] and the Q49 denominator
    * Σ ≤ m·2^49 stays inside int64 for p ≤ 16 at the fixed q = 49 scale
    * (which itself requires w ≤ 48, i.e. p ≥ 12; smaller p just wastes
    * scale headroom, so q is pinned to 49 for portability).
    */
  def hllProfile(df: DataFrame, strata: Seq[String], item: Column,
                 p: Int = 12, salt: String = "hll"): DataFrame = {
    require(p >= 12 && p <= 16, s"p=$p outside [12,16] (q49 fixed point)")
    val m = 1L << p
    val q = 49 // fixed-point scale: 2^(q - M_j) with M_j >= 1 ... wBits+1
    require(HashBits - p + 1 <= q, "rho must fit the Q49 scale")
    val (reg, rho) = hllRegisterRho(item, p, salt)
    val perReg = df
      .select(strata.map(col) :+ reg.as("__hll_reg") :+ rho.as("__hll_rho"): _*)
      .groupBy((strata :+ "__hll_reg").map(col): _*)
      .agg(max(col("__hll_rho")).as("__hll_max"))
    perReg.groupBy(strata.map(col): _*)
      .agg(count(lit(1)).as("__n_present"),
        sum(call_function("shiftleft", lit(1L), lit(q) - col("__hll_max")))
          .as("__present_q49"))
      .withColumn("hll_zeros", lit(m) - col("__n_present"))
      .withColumn("hll_denom_q49",
        col("__present_q49") + col("hll_zeros") * lit(1L << q))
      .withColumn("hll_estimate",
        round(lit(hllNumerator(p)) / col("hll_denom_q49").cast("double"), 6))
      .drop("__n_present", "__present_q49")
  }

  // Count-Min geometry shared by the sketch and its point queries: d
  // hash rows × w columns, row j hashing `salt + j` ahead of the item
  private val CmsD = 4
  private val CmsW = 2048
  private val CmsSalt = "cms"

  /** Count-Min sketch (Cormode & Muthukrishnan 2005) of `item`
    * frequencies: `d` (4) independent hash rows × `w` (2048) columns, each cell the
    * count of items landing on it. Returns (cms_row, cms_col, cms_cnt) —
    * ≤ d·w rows however many items flow in, all-integer, mergeable
    * across runs/engines by cell-wise sum.
    *
    * Scale shape: the d-way explode is map-side; `groupBy(row, col)`
    * partial-aggregates each partition down to ≤ d·w cells before the
    * only shuffle — an exact vocabulary count would instead shuffle one
    * row per distinct token per partition (the Heaps-law tail). d·w is
    * the whole sketch: pick w ≥ e/ε for ±ε·N error at δ = e^−d.
    */
  def cmsSketch(df: DataFrame, item: Column): DataFrame = {
    val rows = explode(array((0 until CmsD).map { j =>
      struct(lit(j).as("cms_row"),
        pmod(hash60(concat(lit(s"$CmsSalt$j"), item.cast("string"))), lit(CmsW.toLong))
          .as("cms_col"))
    }: _*))
    df.select(rows.as("__c")).select(col("__c.cms_row"), col("__c.cms_col"))
      .groupBy(col("cms_row"), col("cms_col"))
      .agg(count(lit(1)).as("cms_cnt"))
  }

  /** Point-query the sketch for each distinct probe item: the estimate
    * is min over the d cells — an upper bound on the true count (collisions
    * only inflate). The probe side re-derives the same (row, col) pairs;
    * the sketch (≤ d·w rows) broadcasts, so probing any number of items
    * is map-side.
    */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, item: Column): DataFrame = {
    val p = probes.select(item.cast("string").as("item")).distinct()
    val cells = p.select(col("item"), explode(array((0 until CmsD).map { j =>
      struct(lit(j).as("cms_row"),
        pmod(hash60(concat(lit(s"$CmsSalt$j"), col("item"))), lit(CmsW.toLong))
          .as("cms_col"))
    }: _*)).as("__c"))
      .select(col("item"), col("__c.cms_row").as("cms_row"),
        col("__c.cms_col").as("cms_col"))
    cells.join(broadcast(sketch), Seq("cms_row", "cms_col"), "left")
      .groupBy(col("item"))
      .agg(min(coalesce(col("cms_cnt"), lit(0L))).as("cms_estimate"))
  }

  // ---------------------------------------------------------------- quantiles

  /** Log-linear histogram bucket of a non-negative integer value — the
    * HDR-histogram scheme (Tene, HdrHistogram; same bucket geometry as
    * DDSketch's log buckets but in pure integer bit math, no libm):
    * values below 2^(subBits+1) map to themselves (EXACT); above, the
    * top `subBits` bits below the MSB subdivide each octave linearly, so
    * the bucket's relative width — and therefore any quantile's relative
    * error — is ≤ 2^−subBits. Monotone in the value by construction
    * (bucket order ≡ value order), continuous across the exact/log seam.
    */
  def histBucket(v: Column, subBits: Int): Column = {
    val b = subBits
    // bit-length via the fill-and-popcount trick (no libm log2/clz)
    val filled = Seq(1, 2, 4, 8, 16, 32)
      .foldLeft(v)((acc, s) => acc.bitwiseOR(shiftright(acc, s)))
    val bitlen = bit_count(filled) // = floor(log2 v) + 1 for v > 0
    when(v < (1L << (b + 1)), v)
      .otherwise((bitlen - b) * (1L << b)
        + call_function("shiftright", v, bitlen - (b + 1)) - (1L << b))
  }

  /** Lower edge of a [[histBucket]] bucket — the deterministic integer
    * representative reported for any quantile landing in the bucket.
    */
  def histBucketLowerEdge(bucket: Column, subBits: Int): Column = {
    val b = subBits
    when(bucket < (1L << (b + 1)), bucket)
      .otherwise(call_function("shiftleft",
        lit(1L << b) + bucket.bitwiseAND(lit((1L << b) - 1)),
        shiftright(bucket, b) - 1))
  }

  /** Per-stratum approximate quantiles of a non-negative integer value
    * via the mergeable log-linear histogram: one row per stratum with
    * `n_values` and the lower-quantile estimates `p50_est`, `p90_est`
    * and `p99_est` (the bucket lower edge — all-integer, engine-portable,
    * relative error ≤ 2^−5, small values exact).
    *
    * Scale shape: `groupBy(strata, bucket)` partial-aggregates every
    * partition to ≤ #buckets rows (subBits=5 ⇒ at most ~1.9k buckets
    * across the full int64 range) before the only data-scale shuffle —
    * where an exact percentile needs a full sort of the value column, and
    * Spark's own `percentile_approx` (GK) buffers are engine-opaque. The
    * cumulative window that extracts the quantiles runs per stratum over
    * the BOUNDED bucket frame, never the value stream (the vocab-rank
    * argument); the histogram itself is mergeable across runs/engines by
    * cell-wise sum. Rank rule: smallest bucket with 100·cum ≥ q·N — the
    * classic lower (type-1) quantile, exact integer comparison.
    */
  def quantileProfile(df: DataFrame, strata: Seq[String], value: Column): DataFrame = {
    val subBits = 5
    import org.apache.spark.sql.expressions.Window
    val hist = df
      .select(strata.map(col) :+
        histBucket(value.cast("long"), subBits).as("__qb"): _*)
      .groupBy((strata :+ "__qb").map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    val byStratum = Window.partitionBy(strata.map(col): _*)
    val cum = hist
      .withColumn("__cum", sum(col("__cnt")).over(byStratum.orderBy(col("__qb"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__tot", sum(col("__cnt")).over(byStratum))
    val rep = histBucketLowerEdge(col("__qb"), subBits)
    val aggs = Seq(50, 90, 99).map { q =>
      min(when(col("__cum") * 100 >= col("__tot") * q, rep)).as(s"p${q}_est")
    }
    cum.groupBy((strata :+ "__tot").map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("__tot", "n_values")
  }

  /** EXACT per-stratum percentiles (`percentile_disc` semantics: the
    * smallest value whose cumulative share reaches q%) without a
    * per-stratum data sort: the same histogram-threshold shape as
    * [[quantileProfile]] but on the exact value domain — one groupBy
    * (strata, value) collapses the data to distinct-value counts
    * (map-side partials absorb the hot values), and the cumulative
    * window runs over that DISTINCT-VALUE frame, whose width is
    * bounded by the value domain (micro-quantized measures ⇒ ~1e6
    * rows/stratum worst case), not the row count. The integer
    * comparison cum·100 ≥ tot·q is exact — no float percentile
    * boundary, so results replay bit-identically in any engine's
    * percentile_disc.
    */
  def exactQuantiles(df: DataFrame, strata: Seq[String], value: Column,
                     percentiles: Seq[Int] = Seq(50)): DataFrame = {
    require(percentiles.nonEmpty && percentiles.forall(q => q >= 1 && q <= 100),
      "percentiles must be in [1,100]")
    import org.apache.spark.sql.expressions.Window
    val hist = df
      .select(strata.map(col) :+ value.cast("long").as("__v"): _*)
      .groupBy((strata :+ "__v").map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    val byStratum = Window.partitionBy(strata.map(col): _*)
    val cum = hist
      .withColumn("__cum", sum(col("__cnt")).over(byStratum.orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__tot", sum(col("__cnt")).over(byStratum))
    val aggs = percentiles.map { q =>
      min(when(col("__cum") * 100 >= col("__tot") * q, col("__v"))).as(s"p$q")
    }
    cum.groupBy((strata :+ "__tot").map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("__tot", "n_values")
  }

  /** Equi-depth binning: assign every row its quantile bucket
    * (1..thresholds.size+1) BY VALUE — ties land in the same bucket
    * (unlike `ntile`, which splits equal values arbitrarily by row
    * position and is therefore not engine-portable). Thresholds come
    * from ONE [[exactQuantiles]] pass and broadcast back; assignment
    * is a map-side comparison chain. The ML feature-binning shape.
    */
  def quantileBuckets(df: DataFrame, strata: Seq[String], value: Column,
                      percentiles: Seq[Int] = Seq(25, 50, 75)): DataFrame = {
    val th = exactQuantiles(df, strata, value, percentiles)
      .select((strata.map(col) ++
        percentiles.map(q => col(s"p$q").as(s"__p$q"))): _*)
    val v = value.cast("long")
    val bucket = percentiles.map(q =>
      when(v > col(s"__p$q"), 1).otherwise(0))
      .reduce(_ + _) + 1
    df.join(broadcast(th), strata)
      .withColumn("bucket", bucket)
      .drop(percentiles.map(q => s"__p$q"): _*)
  }

  /** EXACT trimmed statistics per stratum — drop the lowest and
    * highest `trimNum/trimDen` fraction of ROWS (floor(n·num/den)
    * each side) and aggregate the middle, without sorting the data:
    * the distinct-value histogram + two cumulative windows give each
    * value bucket its bottom-range and top-range overlap, and the
    * per-bucket surviving count is c − bottom_take − top_take (the
    * two take-ranges are disjoint whenever 2k ≤ n, so the arithmetic
    * is exact — ties need no ordering decision because trimming only
    * depends on value counts). The mean uses native integer division:
    * Spark `div` and DuckDB `//` BOTH truncate toward zero (verified —
    * `-7 // 2 = -3` in DuckDB), so negative sums agree too.
    *
    * Returns per stratum: (strata..., n, k_trim, trimmed_sum,
    * trimmed_mean) — empty middle (2k ≥ n) yields NULL mean.
    */
  def trimmedStats(df: DataFrame, strata: Seq[String], value: Column,
                   trimNum: Long = 1L, trimDen: Long = 10L): DataFrame = {
    require(trimNum >= 0 && trimDen > 0 && trimNum * 2 < trimDen,
      "trim fraction must be below one half per side")
    import org.apache.spark.sql.expressions.Window
    val hist = df
      .select(strata.map(col) :+ value.cast("long").as("__v"): _*)
      .groupBy((strata :+ "__v").map(col): _*)
      .agg(count(lit(1)).as("__c"))
    val byS = Window.partitionBy(strata.map(col): _*)
    val asc = byS.orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val desc = byS.orderBy(col("__v").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("__cb", coalesce(sum(col("__c")).over(asc), lit(0L)))
      .withColumn("__ca", coalesce(sum(col("__c")).over(desc), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(byS))
    val k = expr(s"__n * $trimNum DIV $trimDen")
    val keep = col("__c") -
      greatest(lit(0L), least(col("__c"), k - col("__cb"))) -
      greatest(lit(0L), least(col("__c"), k - col("__ca")))
    val agg = cum
      .withColumn("__k", k)
      .withColumn("__keep", keep)
      .groupBy((strata :+ "__n").map(col) :+ col("__k"): _*)
      .agg(sum(col("__keep") * col("__v")).as("trimmed_sum"),
        sum(col("__keep")).as("__tn"))
    agg.select(strata.map(col) ++ Seq(col("__n").as("n"),
      col("__k").as("k_trim"), col("trimmed_sum"),
      when(col("__tn") > 0L,
        call_function("div", col("trimmed_sum"), col("__tn")))
        .as("trimmed_mean")): _*)
  }

  /** Robust outlier flags by median/MAD (the heavy-tail-safe z-score:
    * mean/stddev move with the outliers they're hunting; the median
    * absolute deviation doesn't): per stratum, flag rows with
    * |v − median| > k·MAD. Two [[exactQuantiles]] passes (median of v,
    * then median of |v − median|), each a distinct-value histogram —
    * never a per-stratum sort of the data; the stratum-scale median/
    * MAD tables broadcast back. All-integer on a quantized `value`
    * (percentile_disc semantics), so flags replay exactly.
    *
    * Returns every input row + (dev, is_outlier). MAD 0 (over half the
    * stratum at one value) flags any deviation > 0 — the conventional
    * degenerate-MAD reading.
    */
  def madOutliers(df: DataFrame, strata: Seq[String], value: Column,
                  k: Int = 3): DataFrame = {
    val med = exactQuantiles(df, strata, value, Seq(50))
      .select((strata.map(col) :+ col("p50").as("__med")): _*)
    val withDev = df.join(broadcast(med), strata)
      .withColumn("__dev", abs(value.cast("long") - col("__med")))
    val mad = exactQuantiles(withDev, strata, col("__dev"), Seq(50))
      .select((strata.map(col) :+ col("p50").as("__mad")): _*)
    withDev.join(broadcast(mad), strata)
      .withColumn("dev", col("__dev"))
      .withColumn("is_outlier", col("__dev") > col("__mad") * k)
      .drop("__med", "__dev", "__mad")
  }
}
