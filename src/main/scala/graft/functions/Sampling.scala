package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data pipelines:
  * hash-bucket sampling (repeatable splits without stored state) and
  * per-stratum rates (domain/language mixing weights).
  *
  * All decisions are pure functions of (salt, key) via the same
  * 32-bit md5-prefix hash the dedup family uses — no RNG, no
  * driver state, so a sample is reproducible across runs, engines
  * (the DuckDB oracle reproduces it exactly) and cluster sizes, and
  * re-running a failed stage cannot change membership. Everything is
  * map-side: zero shuffle, the filter rides the scan's partitioning
  * and pushes nothing more than a projection down.
  */
object Sampling {

  /** Buckets per unit probability: rates are resolved to an integer
    * threshold out of 1e6, i.e. rate precision is 1e-6.
    */
  val Buckets = 1000000L

  /** Deterministic bucket in [0, 1e6) for a row key: first 8 md5 hex
    * chars of salt||key as an integer, mod 1e6. Uniform enough for
    * sampling (md5 avalanche); portable (same value in any engine that
    * has md5 over strings).
    */
  def hashBucket(key: Column, salt: String): Column =
    pmod(Dedup.baseHash(concat(lit(salt), key.cast("string"))), lit(Buckets))

  /** Stratified sample: per-stratum keep rates (e.g. language or source
    * mixing weights), defaulting to `defaultRate` for strata not in the
    * map. The stratum column only selects the threshold — membership
    * still hashes the row key, so changing one stratum's rate never
    * reshuffles another stratum's sample (rate monotonicity: raising a
    * rate only ADDs rows, it never swaps them — the property that makes
    * hash sampling the right tool for iterating on mixture weights over
    * a 100 TB corpus).
    */
  def stratifiedSample(df: DataFrame, keyCol: Column, strataCol: Column,
                       rates: Map[String, Double], defaultRate: Double,
                       salt: String = "graft"): DataFrame = {
    val threshold = rates.toSeq.sortBy(_._1).foldLeft(
      lit((defaultRate * Buckets).toLong)) { case (acc, (s, r)) =>
      when(strataCol === s, lit((r * Buckets).toLong)).otherwise(acc)
    }
    df.filter(hashBucket(keyCol, salt) < threshold)
  }

  /** Exactly `k` rows per stratum (when the stratum has that many),
    * chosen by hash order — a deterministic "uniform k per group"
    * (rate-based sampling can't hit an exact count; this can't be
    * rate-monotone; pipelines need both). Ties in the hash break by key,
    * so the selection is total-order deterministic.
    *
    * Scale shape: `row_number <= k` over (stratum, hash) plans as
    * WindowGroupLimit — each map task keeps only its partial top-k per
    * stratum BEFORE the shuffle, so a stratum's traffic is
    * k × partitions, not its full row count. Low-cardinality strata
    * (languages, domains) would otherwise make the window shuffle a
    * handful of hot partitions carrying everything.
    */
  def fixedKPerStratum(df: DataFrame, keyCol: Column, strataCol: Column,
                       k: Int, salt: String = "graft"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(hashBucket(keyCol, salt).asc, keyCol.asc)
    df.withColumn("__s_rk", row_number().over(w))
      .filter(col("__s_rk") <= k)
      .drop("__s_rk")
  }

  /** Per-key quota — "keep at most `n` rows per domain, best first" (the
    * crawl-curation cap against crawler traps and boilerplate hubs; cf.
    * the per-domain limits of C4/RefinedWeb-style corpus construction).
    * `orderCols` ranks rows within a key (must be a total order for
    * determinism — tiebreak on a unique id).
    *
    * Unlike [[fixedKPerStratum]] (a sample: every stratum is ranked),
    * this is a CAP, and at corpus scale most keys are under it — so the
    * shape matters: ranking everything would shuffle the whole corpus by
    * key. Two-phase instead, same machinery as [[SkewCap]]:
    *   1. partial-agg'd `groupBy(key).count` finds the over-cap keys
    *      (tiny by construction: ≤ |df|/n keys can exceed n rows);
    *   2. under-cap rows pass through a broadcast LEFT ANTI join —
    *      map-side, they never shuffle;
    *   3. only over-cap keys' rows (broadcast LEFT SEMI) enter the
    *      rank window, and `row_number <= n` plans as WindowGroupLimit:
    *      each map task pre-trims to its partial top-n per key before
    *      the exchange, so a 10⁹-row trap domain ships n × partitions
    *      rows, not 10⁹.
    * The input is scanned twice (count + pass) — at 100 TB that is noise
    * next to shuffling the full corpus through one window.
    */
  def capPerKey(df: DataFrame, keyCol: Column, n: Int,
                orderCols: Seq[Column]): DataFrame = {
    val over = broadcast(SkewCap.overCapKeys(df, keyCol, n.toLong))
    val underRows = df.join(over, keyCol <=> col("__cap_key"), "left_anti")
    val overRows = df.join(over, keyCol <=> col("__cap_key"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(orderCols: _*)
    val capped = overRows.withColumn("__cap_rk", row_number().over(w))
      .filter(col("__cap_rk") <= n)
      .drop("__cap_rk")
    underRows.unionByName(capped)
  }

  /** Priority sampling (Duffield, Lund & Thorup 2007): a weighted
    * size-k sample with an unbiased per-item total-weight estimator —
    * THE published way to keep "k documents representative of the byte
    * mass" rather than k uniform rows. Each row gets priority
    * q = w/u with u uniform in (0, 1]; the k highest-priority rows are
    * the sample and τ = q_(k+1) calibrates the estimator
    * ŵ = max(w, τ) (Σŵ over the sample is unbiased for Σw).
    *
    * Determinism and portability: u = ([[hashBucket]] + 1)/10⁶ — the
    * same salt+key hash as every sampler here, so membership is
    * reproducible across runs/engines/cluster sizes — and q is the
    * truncating integer w·10⁶ div u′, ties by key; the oracle replays
    * every row. Returns (key, w, priority, rank, est_w) for rank ≤ k.
    *
    * Scale shape: priorities are map-side; Catalyst rewrites the
    * global rank-filter to TakeOrderedAndProject (per-partition
    * top-(k+1) heaps, then one k+1-row merge — the full corpus never
    * colocates; plan-pinned in SamplingChunkingSpec); τ then comes
    * from a second window over the k+1 survivors only.
    */
  def prioritySample(df: DataFrame, keyCol: Column, weightCol: Column,
                     k: Int, salt: String = "graft"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val u = hashBucket(keyCol, salt) + lit(1L)
    val base = df.select(keyCol.as("key"),
        weightCol.cast("long").as("w"), u.as("__u"))
      .withColumn("priority",
        call_function("div", col("w") * lit(Buckets), col("__u")))
    val ranked = base.withColumn("rank", row_number()
        .over(w.orderBy(col("priority").desc, col("key").asc)).cast("int"))
      .filter(col("rank") <= k + 1)
    ranked.withColumn("tau",
        coalesce(max(when(col("rank") === k + 1, col("priority")))
          .over(w.partitionBy()), lit(0L)))
      .filter(col("rank") <= k)
      .select(col("key"), col("w"), col("priority"), col("rank"),
        greatest(col("w"), col("tau")).as("est_w"))
  }

  /** Temperature-weighted mixture sampling to a global token budget —
    * the domain-mixing step of a pretraining pipeline: give each
    * stratum (domain/language/source) a token target proportional to
    * n_s^0.5 (temperature-0.5 upsampling of small domains, the
    * "unigram-smoothed" mixture of multilingual-corpus practice), cap
    * at the stratum's actual mass, and keep each document by the same
    * repeatable per-key hash as [[stratifiedSample]]. Returns the kept rows
    * as (key, stratum, n_tokens, rate_micro).
    *
    * Portability is engineered: the ONLY floating-point step is sqrt,
    * which IEEE 754 requires to be exactly rounded (unlike pow/log,
    * whose last bits vary by libm) — its result is floored to an
    * integer weight and everything downstream (weight normalization,
    * token target, keep rate) is int64 arithmetic, so the per-stratum
    * rate is bit-identical in any engine. `budgetTokens` ≤ 9.2e12 so
    * budget×1e6 fits int64; split a larger budget across corpus shards.
    *
    * Scale shape: one partial-aggregating groupBy builds the per-stratum
    * token mass (output = #strata rows, tiny); the rate table broadcasts
    * back; membership is then a map-side filter — no data-scale shuffle,
    * and re-weighting (new budget or temperature) only rebuilds the tiny
    * rate table, never reshuffles the corpus.
    */
  /** The UPSAMPLING form of [[mixtureSample]]: where the sampler caps a
    * stratum's keep rate at 1, this emits REPEATED copies when the
    * temperature-weighted token target exceeds the stratum's mass —
    * the "small domains run multiple epochs" side of mixture planning.
    * Per document: `target·1e6 div n_s` micro-copies → `div 1e6` full
    * copies for every doc, plus one extra copy for the deterministic
    * hash-selected fraction — so the stratum's expected emitted tokens
    * equal its target exactly, and the copy plan is reproducible on
    * any engine/cluster/run. Returns (key, stratum, n_tokens, copy)
    * with copy = 0..copies-1 (0 rows for a rate-0 stratum).
    *
    * Same integer-after-sqrt portability contract as [[mixtureSample]];
    * the explode is map-side (output ∝ emitted volume, the unavoidable
    * floor), so beyond the tiny rate table nothing shuffles.
    */
  def mixtureRepeat(df: DataFrame, keyCol: Column, strataCol: Column,
                    tokenCountCol: Column, budgetTokens: Long,
                    salt: String = "graft"): DataFrame = {
    require(budgetTokens > 0 && budgetTokens <= 9200000000000L,
      s"budgetTokens must be in (0, 9.2e12]: got $budgetTokens")
    val doc = df.select(keyCol.as("key"), strataCol.as("stratum"),
      tokenCountCol.cast("long").as("n_tokens"))
    val strat = doc.groupBy("stratum").agg(sum("n_tokens").as("__n"))
      .withColumn("__sq",
        expr("CAST(floor(sqrt(CAST(__n AS DOUBLE)) * 1000.0) AS BIGINT)"))
    val ssum = strat.agg(sum("__sq").as("__ssum"))
    val rates = strat.crossJoin(broadcast(ssum))
      .withColumn("rate_micro",
        expr(s"((${budgetTokens}L * 1000000L div __ssum) * __sq) div __n"))
      .select(col("stratum").as("__stratum"), col("rate_micro"))
    doc.join(broadcast(rates), col("stratum") === col("__stratum"))
      .withColumn("__hb", hashBucket(col("key"), salt))
      .withColumn("__copies",
        expr("rate_micro div 1000000L + IF(__hb < pmod(rate_micro, 1000000L), 1L, 0L)"))
      .filter(col("__copies") > 0L)
      .select(col("key"), col("stratum"), col("n_tokens"),
        explode(expr("sequence(0L, __copies - 1L)")).as("copy"))
  }

  /** [[prioritySample]] per stratum: a weighted size-k sample AND its
    * unbiased τ-calibrated estimator within every domain/language
    * bucket — the per-stratum form of the byte-mass-representative
    * sample (a global sample under-represents small strata by
    * construction; mixture planning wants one per bucket). Same
    * deterministic priorities; returns (key, stratum, w, priority,
    * rank, est_w) for rank ≤ k, with τ per stratum.
    *
    * Scale shape: `row_number ≤ k+1` over (stratum, priority) plans as
    * WindowGroupLimit — each map task pre-trims to its partial top per
    * stratum before the ONE exchange, so a stratum's traffic is
    * (k+1) × tasks rows, never its row count; τ comes from a second
    * window over the ≤(k+1)·|strata| survivors.
    */
  def prioritySamplePerStratum(df: DataFrame, keyCol: Column,
                               strataCol: Column, weightCol: Column,
                               k: Int, salt: String = "graft"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val u = hashBucket(keyCol, salt) + lit(1L)
    val base = df.select(keyCol.as("key"), strataCol.as("stratum"),
        weightCol.cast("long").as("w"), u.as("__u"))
      .withColumn("priority",
        call_function("div", col("w") * lit(Buckets), col("__u")))
    val ranked = base.withColumn("rank", row_number()
        .over(w.partitionBy(col("stratum"))
          .orderBy(col("priority").desc, col("key").asc)).cast("int"))
      .filter(col("rank") <= k + 1)
    ranked.withColumn("tau",
        coalesce(max(when(col("rank") === k + 1, col("priority")))
          .over(w.partitionBy(col("stratum"))), lit(0L)))
      .filter(col("rank") <= k)
      .select(col("key"), col("stratum"), col("w"), col("priority"),
        col("rank"), greatest(col("w"), col("tau")).as("est_w"))
  }

  def mixtureSample(df: DataFrame, keyCol: Column, strataCol: Column,
                    tokenCountCol: Column, budgetTokens: Long,
                    salt: String = "graft"): DataFrame = {
    require(budgetTokens > 0 && budgetTokens <= 9200000000000L,
      s"budgetTokens must be in (0, 9.2e12]: got $budgetTokens")
    val doc = df.select(keyCol.as("key"), strataCol.as("stratum"),
      tokenCountCol.cast("long").as("n_tokens"))
    val strat = doc.groupBy("stratum").agg(sum("n_tokens").as("__n"))
      .withColumn("__sq",
        expr("CAST(floor(sqrt(CAST(__n AS DOUBLE)) * 1000.0) AS BIGINT)"))
    val ssum = strat.agg(sum("__sq").as("__ssum"))
    val rates = strat.crossJoin(broadcast(ssum))
      .withColumn("rate_micro",
        expr(s"least(1000000L, ((${budgetTokens}L * 1000000L div __ssum) * __sq) div __n)"))
      .select(col("stratum").as("__stratum"), col("rate_micro"))
    doc.join(broadcast(rates), col("stratum") === col("__stratum"))
      .filter(hashBucket(col("key"), salt) < col("rate_micro"))
      .select("key", "stratum", "n_tokens", "rate_micro")
  }
}
