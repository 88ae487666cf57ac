package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * n-gram-Jaccard (PPJoin-style prefix/position filtering — Xiao,
  * Wang, Lin & Yuan 2008), MinHash+LSH banding (Broder 1997; banding
  * per Leskovec/Rajaraman/Ullman MMDS ch.3), and SimHash
  * (Charikar 2002).
  *
  * Scale design: every variant reduces near-dup discovery to *equi-joins
  * on derived keys* (fingerprint, shingle, band bucket) — shuffle-by-key
  * is the only data movement, never an O(n²) cross join. Frequent-shingle
  * skew is capped with a document-frequency filter before the self-join.
  */
object Dedup {

  /** Distinct k-word shingles per document (normalize → tokenize →
    * sliding join → first-occurrence dedup), via the compiled
    * [[ShinglesExpr]] kernel — this feeds every dedup operator, so its
    * constant factor multiplies. (History: round 1 first hit the
    * lambda-re-evaluation trap — expressions referenced inside a HOF
    * lambda re-run per element, 144 regex splits/doc — then fixed it
    * with k aligned slice/zip_with passes, which still evaluate their
    * lambdas interpreted; the native kernel is one compiled pass.)
    * Docs with fewer than k words yield an empty set.
    */
  def shingles(text: Column, k: Int = 3): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      ShinglesExpr(org.apache.spark.sql.GraftExpressionBridge.expression(
        TextAnalysis.normalized(text)), k))

  /** Exact dedup: canonical = min id per fingerprint group, as a
    * two-phase aggregate: `groupBy(fingerprint).agg(min, count)` — whose
    * map-side partial aggregation collapses a mega-dup group (10⁹ empty
    * documents) to one row per input partition — joined back onto the
    * rows. The earlier window form (`min(id).over(partitionBy(fp))`)
    * colocated every row of the hot fingerprint on one task before it
    * could aggregate; here the only per-key row concentration is the
    * join probe, which AQE's skew-join splitting handles. Costs a second
    * plan of the source subtree (text normalized+hashed once per side) —
    * at 100 TB that is noise next to a single-task hot group.
    * Returns (df.*, fingerprint, canonical_id, group_size, is_duplicate).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withFp = df.withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
    val stats = withFp
      .groupBy(col("fingerprint").as("__fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("group_size"))
    withFp.join(stats, col("fingerprint") <=> col("__fp"))
      .drop("__fp")
      .withColumn("is_duplicate", col(idCol) =!= col("canonical_id"))
  }

  /** Soft dedup: instead of REMOVING exact duplicates, every member of
    * a duplicate group keeps a training weight 10⁶ DIV group_size — the
    * group contributes one document's worth of mass in total (the
    * downweight-not-delete curation option: removal loses the natural
    * frequency signal entirely, soft weights cap it). Also reports each
    * doc's weighted token mass so a budgeted sampler can consume the
    * weights directly. Same two-phase groupBy(fp) shape as [[exact]] —
    * the hot-group count collapses map-side.
    */
  def softWeights(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exact(df, idCol, textCol)
      .withColumn("weight_ppm", expr("1000000 DIV group_size"))
      .withColumn("weighted_tokens_ppm",
        TextAnalysis.wsTokenCount(col(textCol)).cast("long")
          * col("weight_ppm"))
      .select(col(idCol), col("group_size"), col("weight_ppm"),
        col("weighted_tokens_ppm"))

  /** Sub-document exact dedup (Lee et al. 2022 span dedup, on the
    * fixed-word-window span unit of [[TextAnalysis.passages]]):
    * first-seen-wins per exact passage — the occurrence with the
    * smallest (doc_id, pidx) keeps the text, every later occurrence
    * (including repeats WITHIN one document) is cut — then documents
    * are rebuilt from their surviving passages. Returns
    * (doc_id, n_passages, n_kept, clean_text).
    *
    * Scale shape mirrors [[exact]]: first-occurrence is a two-phase
    * `groupBy(fp).agg(min(struct(doc_id, pidx)))` whose map-side
    * partial aggregation collapses a mega-duplicated passage (the
    * empty-ish span that appears 10⁹ times) to one row per input
    * partition — never a hot-key window. The join probe back is the
    * only per-key concentration and AQE skew-split handles it.
    */
  def passageDedup(df: DataFrame, idCol: String, textCol: String,
                   passageLen: Int = 8): DataFrame = {
    val pass = TextAnalysis.passages(df, idCol, textCol, passageLen)
      .withColumn("fp", md5(col("passage")))
    val first = pass.groupBy(col("fp").as("__fp"))
      .agg(min(struct(col("doc_id"), col("pidx"))).as("__first"))
    val kept = pass.join(first, col("fp") === col("__fp"))
      .filter(col("doc_id") === col("__first.doc_id") &&
        col("pidx") === col("__first.pidx"))
      .select("doc_id", "pidx", "passage")
    TextAnalysis.reassemblePassages(pass, kept)
  }

  /** Exact any-length duplicate-SPAN detection (the exact-substring
    * dedup of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": substrings of ≥ `windowLen` tokens that
    * occur more than once corpus-wide). The published tool builds a
    * single-node suffix array; the equivalent distributed-by-
    * construction formulation used here is STRIDE-1 window
    * fingerprints: a token span of length ≥ L is duplicated iff every
    * one of its length-L windows is duplicated, so hashing the window
    * at EVERY offset (not [[passageDedup]]'s aligned blocks, which
    * miss spans straddling block boundaries at non-aligned offsets)
    * and merging runs of duplicated offsets yields exactly the maximal
    * duplicated spans — no suffix-array ranks needed, and where
    * prefix-doubling costs O(log n) full-corpus sort rounds, this is
    * ONE map-side hash pass + ONE groupBy(fp).
    *
    * Returns every occurrence of every maximal duplicated span:
    * (doc_id, span_start 0-based token offset, span_tokens ≥ L).
    *
    * Scale shape: windows shuffle as (fp 32B, doc_id, s) — ~34 B per
    * corpus token, independent of L (the window TEXT never leaves the
    * map side); the dup test is the same two-phase
    * `groupBy(fp).agg(count)` + join-probe as [[exact]] (map-side
    * partials collapse a mega-duplicated window before the wire, AQE
    * splits the probe); the run-merge window is per-document and
    * span-scale.
    */
  def exactSubstringSpans(df: DataFrame, idCol: String, textCol: String,
                          windowLen: Int = 16): DataFrame = {
    val dup = dupWindows(df, idCol, textCol, windowLen)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    dup.withColumn("isl", col("s") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("s")).cast("long").as("span_start"),
        (max(col("s")) - min(col("s")) + lit(windowLen)).cast("long")
          .as("span_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_tokens"))
  }

  /** Exact-substring REMOVAL, first-seen-wins: every token covered by a
    * duplicated window whose occurrence is NOT the group's canonical
    * first (min (doc_id, s)) is cut; the first occurrence keeps its
    * text, later occurrences (across documents or within one) lose the
    * whole straddling span at any offset. Documents shorter than
    * `windowLen` tokens are untouched. Returns
    * (doc_id, n_tokens, n_removed, clean_text).
    *
    * Scale shape: removal INTERVALS (not tokens) shuffle — per-doc
    * island merge of the non-canonical duplicated offsets, then one
    * doc-keyed join back to the text and a codegen'd
    * `filter(words, (w, i) => no interval covers i)` cuts map-side; the
    * full token explode never happens.
    */
  def exactSubstringDedup(df: DataFrame, idCol: String, textCol: String,
                          windowLen: Int = 16): DataFrame = {
    val dup = dupWindows(df, idCol, textCol, windowLen)
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("s") === col("first.s")))
    cutCoveredSpans(df, idCol, textCol, dup, windowLen)
  }

  /** Exact-substring DECONTAMINATION: cut every corpus span of
    * ≥ `windowLen` tokens whose text appears ANYWHERE in the benchmark
    * set, at ANY offset on BOTH sides — the stride-1 exact form of
    * [[TextAnalysis.decontaminate]] (whose corpus side is aligned
    * passages: a leaked benchmark span straddling a passage boundary
    * at a non-aligned offset survives it; not this). Returns
    * (doc_id, n_tokens, n_removed, clean_text) over the corpus.
    *
    * Scale shape: the benchmark fingerprint set is eval-suite-sized —
    * it BROADCASTS, and the corpus-side window probe is map-side; only
    * matched offsets (rare by construction) reach the interval merge.
    */
  def exactSubstringDecontaminate(corpus: DataFrame, bench: DataFrame,
                                  idCol: String, textCol: String,
                                  windowLen: Int = 16): DataFrame = {
    val benchFps = slidingWindows(bench, idCol, textCol, windowLen)
      .select(col("fp")).distinct()
    val hits = slidingWindows(corpus, idCol, textCol, windowLen)
      .join(broadcast(benchFps), Seq("fp"))
      .select(col("doc_id"), col("s"))
    cutCoveredSpans(corpus, idCol, textCol, hits, windowLen)
  }

  /** Merge duplicated window offsets (doc_id, s) into per-doc removal
    * intervals and cut the covered tokens map-side — the shared tail of
    * [[exactSubstringDedup]] / [[exactSubstringDecontaminate]].
    */
  private def cutCoveredSpans(df: DataFrame, idCol: String, textCol: String,
                              offsets: DataFrame, windowLen: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val ivals = offsets.withColumn("isl", col("s") - row_number().over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("s")).as("lo"),
        (max(col("s")) + lit(windowLen)).as("hi"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("lo"), col("hi"))).as("cut"))
    graft.ops.Partitioning.spreadScan(df)
      .select(col(idCol).cast("long").as("doc_id"),
        split(TextAnalysis.normalized(col(textCol)), " ").as("words"))
      .join(ivals, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_tokens"),
        when(col("cut").isNull, col("words")).otherwise(
          filter(col("words"), (_, i) =>
            !exists(col("cut"), iv => i >= iv("lo") && i < iv("hi"))))
          .as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  /** Longest repeated substring (in tokens) across the corpus — the
    * classic suffix-array statistic, computed the bounded-dataflow way:
    * L is the answer iff some length-L token window occurs ≥ 2 times
    * and no length-(L+1) window does, so exponential doubling then
    * binary search on "∃ duplicated L-window" finds it in ≤ 2·log₂(max
    * doc tokens) rounds — the same round structure as suffix-array
    * prefix doubling, but each round is ONE map-side hash pass + ONE
    * count(distinct-ish) aggregate instead of a full-corpus sort.
    * Returns one row: (lrs_tokens, n_dup_windows at that length —
    * 0/0 when no token repeats at all).
    *
    * Driver loop is bounded (≤ ~2·log₂ rounds, one scalar count each);
    * every round's heavy work is distributed.
    */
  def longestRepeatedSubstring(df: DataFrame, idCol: String,
                               textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // HIERARCHICAL HASH DOUBLING (the sparse-table trick): each round
    // keeps per-doc arrays where index s holds a 128-bit fingerprint
    // (two independently-salted xxhash64 lanes) of the length-p window
    // starting at s, p a power of two. Doubling composes
    // h_2p(s) = H(h_p(s), h_p(s+p)); an arbitrary binary-search length
    // m in (p, 2p) composes the two OVERLAPPING length-p spans
    // h_m(s) = H(h_p(s), h_p(s+m-p)) — equal windows ⟺ equal span
    // pairs, so equality is preserved exactly (collisions are the only
    // error source, same Monte-Carlo standard as the md5 scheme this
    // replaces). Each round is O(1) hash work per offset instead of
    // O(L) re-slicing, entirely map-side within each doc row; the only
    // shuffle per round is the duplicate-existence partial-agg, and
    // driver work is one scalar count per round (≤ 2·log₂ rounds).
    def shifted(d: Int)(arr: String, salt: String): Column = expr(
      s"CASE WHEN size($arr) > $d THEN transform(" +
        s"sequence(0, size($arr) - ${d + 1}), " +
        s"i -> xxhash64('$salt', element_at($arr, i + 1), " +
        s"element_at($arr, i + 1 + $d))) " +
        s"ELSE CAST(array() AS array<bigint>) END")
    def composed(src: DataFrame, d: Int): DataFrame = src.select(
      shifted(d)("ha", "a").as("ha"), shifted(d)("hb", "b").as("hb"))
    def hasDup(h: DataFrame): Boolean = h
      .select(explode(arrays_zip(col("ha"), col("hb"))).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).limit(1).count() > 0L
    val base = graft.ops.Partitioning.spreadScan(df)
      .select(split(TextAnalysis.normalized(col(textCol)), " ").as("words"))
      .select(expr("transform(words, w -> xxhash64('a', w))").as("ha"),
        expr("transform(words, w -> xxhash64('b', w))").as("hb"))
      .localCheckpoint()
    if (!hasDup(base))
      return Seq((0L, 0L)).toDF("lrs_tokens", "n_dup_windows")
    // double until no duplicate at hi, then binary-search (lo dup, hi not];
    // `cur` stays at the last duplicated power-of-two length p == lo.
    var lo = 1
    var cur = base
    var hi = 2
    var probe = composed(cur, lo).localCheckpoint()
    while (hasDup(probe)) {
      val spent = cur
      lo = hi; cur = probe // cur now holds length-lo fingerprints
      hi *= 2
      probe = composed(cur, lo).localCheckpoint()
      // the advanced-past frame (base or an earlier probe) feeds nothing
      // downstream — everything composes from the CURRENT cur
      if (!(spent eq cur)) graft.core.Checkpoints.release(spent)
    }
    val p = lo // power-of-two anchor; all later lengths compose from it
    while (hi - lo > 1) {
      val mid = (lo + hi) / 2
      if (hasDup(composed(cur, mid - p))) lo = mid else hi = mid
    }
    // distinct duplicated window TEXTS at the answer length
    val atLo = if (lo == p) cur else composed(cur, lo - p)
    val nDup = atLo
      .select(explode(arrays_zip(col("ha"), col("hb"))).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .count()
    // everything was consumed eagerly (counts); the returned frame is a
    // local literal — drop all surviving fingerprint checkpoints
    graft.core.Checkpoints.release(base)
    graft.core.Checkpoints.release(cur)
    graft.core.Checkpoints.release(probe)
    Seq((lo.toLong, nDup)).toDF("lrs_tokens", "n_dup_windows")
  }

  /** Shared core of the exact-substring pair: every stride-1 window
    * occurrence whose fingerprint occurs ≥ 2 times corpus-wide, with
    * the group's canonical first occurrence attached —
    * (doc_id, s 0-based, fp, first(doc_id, s)).
    */
  /** Every stride-1 length-`windowLen` token window of every document:
    * (doc_id, s 0-based offset, fp = md5 of the window text). Map-side
    * explode; only ~34 B/token (hash + ids) ever leaves the task.
    */
  private[graft] def slidingWindows(df: DataFrame, idCol: String, textCol: String,
                             windowLen: Int): DataFrame = {
    require(windowLen > 0, s"windowLen must be positive: got $windowLen")
    // spreadScan: per-window md5 over every stride-1 offset is the
    // heaviest map-side pass in the dedup family
    graft.ops.Partitioning.spreadScan(df)
      .select(col(idCol).cast("long").as("doc_id"),
        split(TextAnalysis.normalized(col(textCol)), " ").as("words"))
      .filter(size(col("words")) >= windowLen)
      .withColumn("s", explode(sequence(lit(0),
        size(col("words")) - windowLen)))
      .select(col("doc_id"), col("s"),
        md5(array_join(slice(col("words"), col("s") + 1, lit(windowLen)), " "))
          .as("fp"))
  }

  private def dupWindows(df: DataFrame, idCol: String, textCol: String,
                         windowLen: Int): DataFrame = {
    val wins = slidingWindows(df, idCol, textCol, windowLen)
    val grp = wins.groupBy(col("fp").as("__fp"))
      .agg(count(lit(1)).as("c"),
        min(struct(col("doc_id"), col("s"))).as("first"))
      .filter(col("c") > 1)
    wins.join(grp, col("fp") === col("__fp"))
      .select(col("doc_id"), col("s"), col("fp"), col("first"))
  }

  /** Exact n-gram-Jaccard near-dup pairs via an inverted shingle index:
    * explode distinct shingles, self-join on shingle (df-filtered to cap
    * skew), count co-occurrences, Jaccard = co / (|A| + |B| − co).
    * Exact (not approximate): any pair with J > 0 shares ≥1 shingle.
    * Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ tau.
    *
    * @param maxShingleDf drop shingles appearing in more than this many
    *   docs (skew cap; boilerplate shingles explode the join otherwise).
    *   Pass Long.MaxValue for fully-exact semantics.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        tau: Double,
                        maxShingleDf: Long = Long.MaxValue): DataFrame = {
    // exploded distinct shingles — the inverted index. Cached BEFORE the
    // df cap: [[SkewCap.dropOverCap]] plans its input twice (partial-agg
    // count pass + broadcast anti-join pass), so the count pass fills
    // the cache and every later pass — anti-join, prefix, verification
    // arrays — reads it; the explode is computed exactly once.
    val sh0 = graft.ops.Partitioning.spreadScan(df)
      .select(col(idCol).as("id"), explode(shingles(col(textCol))).as("shingle"))
      .cache()
    // two-phase df cap: a boilerplate shingle's rows are dropped
    // map-side (broadcast anti-join) and never colocate
    val sh = SkewCap.dropOverCap(sh0, col("shingle"), maxShingleDf)
    // Document frequency attaches via a window AFTER the cap — safe,
    // because every remaining partition key holds ≤ maxShingleDf rows
    // (with cap == MaxValue — fully-exact semantics — the window is
    // unbounded per key; that mode is for small corpora by definition).
    // Only the prefix path reads dfc, so the window rides in front of
    // one consumer, not all of them; the verification arrays below read
    // the capped index directly.
    val shDfc = sh
      .withColumn("dfc", count(lit(1)).over(Window.partitionBy(col("shingle"))))

    // PPJoin-style prefix filter (exact): order each doc's shingles by the
    // global (df, shingle) order; any pair with J >= tau must share one of
    // the first n - ceil(tau*n) + 1 shingles (pigeonhole on the overlap
    // bound o >= ceil(tau*n)). The self-join runs over prefixes only —
    // at corpus scale this is the difference between Σdf² over all
    // shingles and over rare prefix shingles. (df-capped shingles keep
    // their original counts — removal only deletes whole groups — so the
    // dfc computed above IS the prefix-ordering key.)
    val wDoc = Window.partitionBy(col("id")).orderBy(col("dfc").asc, col("shingle").asc)
    // full-partition count on the SAME partition+order spec (explicit
    // unbounded frame) — both functions ride one Window operator and one
    // sort; a bare partitionBy(id) spec would plan a second Window pass
    val wN = wDoc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val prefix = shDfc
      .withColumn("rk", row_number().over(wDoc))
      .withColumn("n", count(lit(1)).over(wN))
      .filter(col("rk") <= col("n") - ceil(lit(tau) * col("n")) + 1)
      .select(col("id"), col("shingle"), col("rk"), col("n"))
      .cache() // self-joined below; uncached each side re-sorts 260k rows
    // PPJoin position filter: a shingle match at prefix positions
    // (rk_a, rk_b) bounds the possible overlap by
    // 1 + min(n_a − rk_a, n_b − rk_b); the pair is viable only if that
    // reaches the Jaccard-implied overlap ⌈τ/(1+τ)·(n_a+n_b)⌉. Plus the
    // size filter n_b ≥ τ·n_a. Together they cut the candidate set ~10×
    // before any verification work.
    val cand = prefix.as("x").join(prefix.as("y"), Seq("shingle"))
      .filter(col("x.id") < col("y.id"))
      .filter(greatest(col("x.n"), col("y.n")) * tau <= least(col("x.n"), col("y.n")))
      .filter(lit(1) + least(col("x.n") - col("x.rk"), col("y.n") - col("y.rk")) >=
        ceil(lit(tau / (1 + tau)) * (col("x.n") + col("y.n"))))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()

    // exact verification on per-doc distinct-shingle ARRAYS: two joins
    // attach the arrays to each candidate pair, then the intersection
    // count is a map-side array op — replaces the round-1 shape (two
    // inverted-index joins + a groupBy re-aggregation per pair, three
    // shuffle stages for a result that is tiny after the PPJoin filters).
    // The per-doc array frame is |docs| rows (small next to the exploded
    // index); AQE broadcasts it when it fits, shuffle-joins otherwise.
    val shArr = sh.groupBy("id")
      .agg(collect_list(col("shingle")).as("sh_arr"), count(lit(1)).as("n"))
    cand
      .join(shArr.select(col("id").as("id_a"), col("sh_arr").as("sa"),
        col("n").as("na")), Seq("id_a"))
      .join(shArr.select(col("id").as("id_b"), col("sh_arr").as("sb"),
        col("n").as("nb")), Seq("id_b"))
      // EvalOnce pins the intersection in its projection — without it the
      // tau-filter's substituted form becomes a post-join condition and
      // the intersection runs a second time for every surviving pair
      .withColumn("co", EvalOnce(size(array_intersect(col("sa"), col("sb")))))
      .withColumn("jaccard", col("co").cast("double") /
        (col("na") + col("nb") - col("co")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Substring-level near-dup pairs via shared winnowing fingerprints
    * (Schleimer et al. 2003 — the granularity word-shingle Jaccard
    * misses: a document that *contains* another wholesale, plus
    * unrelated text, has low Jaccard but near-total fingerprint
    * containment; cf. Lee et al. 2022 on substring-level training-data
    * dup). Same inverted-index shape as [[ngramJaccardPairs]]: explode
    * each doc's winnowing fingerprints, df-cap the boilerplate ones,
    * equi-join on fingerprint, score = shared / min(|A|, |B|)
    * (containment, not Jaccard — deliberately asymmetric-friendly).
    * Returns (id_a, id_b, shared, containment) with id_a < id_b and
    * containment ≥ tau.
    *
    * Scale: the self-join is per-fingerprint — Σdf² bounded by the df
    * cap, never O(n²); sizes attach to the (tiny) surviving pair set
    * after the group-count, not to the exploded index.
    */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                         tau: Double, maxFpDf: Long = Long.MaxValue): DataFrame = {
    // df cap via [[SkewCap]]: partial-agg counts + broadcast anti-join
    // (mirrors the oracle's fq CTE) — a hot boilerplate fingerprint is
    // dropped map-side, never colocated the way the earlier
    // count-over-window cap forced. No window remains in this operator.
    // cached BEFORE the cap so the winnowing compute (normalize + hash +
    // window minimum — the expensive part) runs once: the cap's count
    // pass fills the cache; the anti-join pass, the pair join's two
    // sides, and the per-doc sizes all read it. The anti-join itself is
    // a map-side broadcast, free to re-apply per consumer.
    val fp0 = graft.ops.Partitioning.spreadScan(df)
      .select(col(idCol).as("id"),
        explode(TextAnalysis.winnowingFingerprints(
          TextAnalysis.normalized(col(textCol)))).as("fp"))
      .cache()
    val fp = SkewCap.dropOverCap(fp0, col("fp"), maxFpDf)
    val sizes = fp.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val co = fp.as("x").join(fp.as("y"), Seq("fp"))
      .filter(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    co.join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .filter(col("shared").cast("double") / least(col("na"), col("nb")).cast("double") >= tau)
      .select(col("id_a"), col("id_b"), col("shared"),
        round(col("shared").cast("double") / least(col("na"), col("nb")).cast("double"), 6)
          .as("containment"))
  }

  // ---- MinHash ----------------------------------------------------------
  // Base shingle hash: first 8 hex chars of md5 (32 bits, engine-portable),
  // then K independent affine permutations (a_k·h + b_k) mod P. Coefficient
  // sizes keep every product < 2^53 so no engine can overflow (DuckDB
  // raises on BIGINT overflow; Java wraps — neither may happen).
  val MinhashP = 4294967311L // smallest prime > 2^32
  val MinhashK = 16
  val MinhashBands = 4
  def hashCoeffA(i: Int): Long = 1000003L + 7919L * i
  def hashCoeffB(i: Int): Long = 104729L + 524287L * i

  /** 32-bit portable base hash of a string column. */
  def baseHash(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** LSH banding: split the K-wide signature into [[MinhashBands]] bands
    * of K/bands rows each; band key = md5 of the joined band values. Docs
    * sharing any (band_idx, band_key) are near-dup candidates — the
    * bucket-join is an equi-join, the scale path for 100 TB dedup.
    * Returns (id, band_idx, band_key).
    *
    * Computed relationally (explode shingles once, hash each shingle
    * once, K min-aggregates) rather than via nested array transforms —
    * the array form duplicates the md5 expression tree K times per row
    * and blows up codegen; the explode form is one shuffle by doc id
    * with map-side partial mins.
    */
  def minhashBands(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val r = MinhashK / MinhashBands
    val sh = graft.ops.Partitioning.spreadScan(df)
      .select(col(idCol).as("id"), explode(shingles(col(textCol))).as("shingle"))
      .withColumn("h", baseHash(col("shingle")))
    val minAggs = (0 until MinhashK).map { i =>
      min(pmod(col("h") * hashCoeffA(i) + hashCoeffB(i), lit(MinhashP))).as(s"m$i")
    }
    val sig = sh.groupBy(col("id")).agg(minAggs.head, minAggs.tail: _*)
    // one pass: posexplode the band-key array (a union of 4 selects would
    // recompute the whole signature aggregation per arm)
    val bandKeys = array((0 until MinhashBands).map { b =>
      md5(concat_ws("_", (0 until r).map(i => col(s"m${b * r + i}")): _*))
    }: _*)
    sig.select(col("id"), posexplode(bandKeys).as(Seq("band_idx", "band_key")))
  }

  /** Candidate pairs from shared LSH buckets, verified with exact Jaccard. */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          tau: Double): DataFrame = {
    val b = minhashBands(df, idCol, textCol).cache()
    val cand = b.as("x").join(b.as("y"), Seq("band_idx", "band_key"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val sh = graft.ops.Partitioning.spreadScan(df)
      .select(col(idCol).as("id"), shingles(col(textCol)).as("sh")).cache()
    cand.join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** MinHash calibration: for every LSH band candidate pair, the
    * signature-based Jaccard ESTIMATE (fraction of equal minhash
    * components — Broder's unbiased estimator) next to the EXACT
    * shingle Jaccard, plus the signed error. This is the query a
    * pipeline runs before committing to (k, bands, tau) on a new
    * corpus: it answers "how wrong is the sketch here, and in which
    * direction" with evidence rather than the textbook S-curve.
    *
    * Entirely integer-valued (match count out of k; Jaccards in
    * micro-units via integer division), so the comparison is
    * engine-exact. One signature aggregation feeds both the band keys
    * and the per-pair estimate; the shuffles are all equi-joins on
    * (band key) or (doc id) — same 100 TB shape as the dedup family.
    * Returns (id_a, id_b, est_matches, est_micro, jaccard_micro,
    * err_micro) with id_a < id_b.
    */
  def minhashEstimatePairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val r = MinhashK / MinhashBands
    val sh = graft.ops.Partitioning.spreadScan(df)
      .select(col(idCol).as("id"), explode(shingles(col(textCol))).as("shingle"))
      .withColumn("h", baseHash(col("shingle")))
    val minAggs = (0 until MinhashK).map { i =>
      min(pmod(col("h") * hashCoeffA(i) + hashCoeffB(i), lit(MinhashP))).as(s"m$i")
    }
    val sig = sh.groupBy(col("id")).agg(minAggs.head, minAggs.tail: _*).cache()

    val bandKeys = array((0 until MinhashBands).map { b =>
      md5(concat_ws("_", (0 until r).map(i => col(s"m${b * r + i}")): _*))
    }: _*)
    val bandsDf = sig.select(col("id"), posexplode(bandKeys).as(Seq("band_idx", "band_key")))
    val cand = bandsDf.as("x").join(bandsDf.as("y"), Seq("band_idx", "band_key"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()

    val sigA = sig.select(col("id").as("id_a") +:
      (0 until MinhashK).map(i => col(s"m$i").as(s"a$i")): _*)
    val sigB = sig.select(col("id").as("id_b") +:
      (0 until MinhashK).map(i => col(s"m$i").as(s"b$i")): _*)
    val estMatches = (0 until MinhashK).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)

    val shArr = df.select(col(idCol).as("id"), shingles(col(textCol)).as("sh"))
    cand.join(sigA, Seq("id_a")).join(sigB, Seq("id_b"))
      .withColumn("est_matches", estMatches)
      .select(col("id_a"), col("id_b"), col("est_matches"))
      .join(shArr.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shArr.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("co", EvalOnce(size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")))
      .withColumn("un",
        (size(col("sh_a")) + size(col("sh_b"))).cast("long") - col("co"))
      .withColumn("est_micro", expr(s"est_matches * 1000000 DIV $MinhashK"))
      .withColumn("jaccard_micro", expr("co * 1000000 DIV un"))
      .withColumn("err_micro", col("est_micro") - col("jaccard_micro"))
      .select(col("id_a"), col("id_b"), col("est_matches"), col("est_micro"),
        col("jaccard_micro"), col("err_micro"))
  }

  /** Cross-corpus near-dup pairs: documents in `dfNew` that are
    * near-duplicates (exact Jaccard ≥ tau) of any document in `dfRef` —
    * the "don't retrain on what the last run already used" step, and
    * the doc-level complement of [[contaminationCheck]]'s shingle-level
    * overlap. Same MinHash+LSH shape as [[minhashNearDupPairs]], but
    * the band-bucket join runs ACROSS the two tables, so the candidate
    * set scales with cross-bucket collisions only — neither corpus ever
    * self-joins.
    * Returns (id_new, id_ref, jaccard).
    */
  def crossNearDupPairs(dfNew: DataFrame, dfRef: DataFrame,
                        idCol: String, textCol: String,
                        tau: Double): DataFrame = {
    val bn = minhashBands(dfNew, idCol, textCol)
    val br = minhashBands(dfRef, idCol, textCol)
    val cand = bn.as("x").join(br.as("y"), Seq("band_idx", "band_key"))
      .select(col("x.id").as("id_new"), col("y.id").as("id_ref")).distinct()
    val shNew = dfNew.select(col(idCol).as("id_new"), shingles(col(textCol), 3).as("sh_n"))
    val shRef = dfRef.select(col(idCol).as("id_ref"), shingles(col(textCol), 3).as("sh_r"))
    cand.join(shNew, Seq("id_new")).join(shRef, Seq("id_ref"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_n"), col("sh_r"))).cast("double") /
          size(array_union(col("sh_n"), col("sh_r"))).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("id_new"), col("id_ref"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Near-duplicate CLUSTERS from pairwise edges — the step after pair
    * discovery in every production dedup pipeline: connected components,
    * cluster id = min document id in the component, canonical = the
    * member equal to its cluster id (keep it, drop the rest).
    *
    * Algorithm: HashMin label propagation (the standard large-graph CC
    * shape — Kiveris et al. "Connected Components in MapReduce", SOCC'14
    * describe the family): every node starts labeled with its own id;
    * each round takes the min of its label and its neighbors' labels;
    * converges in ≤ graph-diameter rounds (near-dup components are
    * near-cliques, so 2-3 in practice). Each round is one equi-join +
    * one groupBy — shuffle-by-key only, no driver-side graph. The
    * driver's only job is the convergence check (one count per round);
    * at 100 TB scale insert a checkpoint every few rounds to cut the
    * lineage.
    *
    * Deterministic (exact fixpoint over integer labels), so the result
    * is oracle-reproducible against a recursive-CTE min-reachable-id.
    * Returns (id, cluster, is_canonical) for every id in `ids`
    * (edge-free docs are their own singleton cluster).
    *
    * Each round ends in a checkpoint — iterative plans NEST the
    * previous round's plan (the round's join references it twice), so
    * without lineage truncation the logical tree grows ~3^rounds and the
    * plan serialization alone OOMs around round 8. Checkpointing per
    * round keeps the plan constant-size; it is also what bounds recovery
    * cost on a real cluster.
    *
    * @param checkpointDir when set, rounds use RELIABLE `checkpoint()`
    *   into this fault-tolerant directory (HDFS/object store on a real
    *   cluster) — an executor loss costs one round's recompute, not the
    *   whole fixpoint. The default `localCheckpoint` stores blocks on
    *   executors: fastest, but a lost executor kills the job — fine for
    *   local/bench runs, not for a 1000-executor cluster.
    */
  def nearDupClusters(ids: DataFrame, pairs: DataFrame,
                      aCol: String = "id_a", bCol: String = "id_b",
                      checkpointDir: Option[String] = None): DataFrame = {
    val sc = ids.sparkSession.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    def mark(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(false) else df.localCheckpoint(false)
    def markEager(df: DataFrame): DataFrame =
      graft.core.Checkpoints.eager(df, reliable = checkpointDir.isDefined)
    // Materialize pair discovery ONCE before mirroring: the union puts
    // the (expensive) pairs plan in both arms, so without this the
    // upstream candidate+verify pipeline executes twice.
    val edges = markEager(pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    val mirrored = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    // Only vertices with at least one edge can ever leave cluster==id, so
    // the fixpoint loop runs over the edge-vertex set (∝ #near-dups, a
    // small fraction of the corpus at any scale) — the edge-free majority
    // never enters a propagation round and is labeled in one final
    // left join. This is what keeps the per-round shuffles proportional
    // to the dup graph, not the corpus.
    // Seed labels through the same reliable/local choice as the rounds:
    // in reliable mode a localCheckpoint here would truncate lineage to
    // executor-held blocks, so losing one executor in round 1 would be
    // unrecoverable — exactly what checkpointDir exists to prevent.
    var labels = markEager(
      mirrored.select(col("src").as("id")).distinct()
        .withColumn("cluster", col("id")))
    // one HashMin propagation hop, preserving any carried columns
    def hop(l: DataFrame): DataFrame = {
      val nbrMin = mirrored
        .join(l.select(col("id").as("dst"), col("cluster").as("nc")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("nc")).as("nbc"))
        .withColumnRenamed("src", "id")
      l.join(nbrMin, Seq("id"), "left")
        .withColumn("cluster",
          least(col("cluster"), coalesce(col("nbc"), col("cluster"))))
        .drop("nbc")
    }
    var changed = 1L
    var labelsCk = labels // the checkpoint backing the current round:
    // `labels` itself becomes a projection after round 1, and release()
    // deliberately refuses to reach through derived plans
    while (changed > 0) {
      // TWO hops per materialized round: label propagation is monotone
      // (labels only decrease toward the component min), so batching
      // hops reaches the same fixpoint in half the rounds — and each
      // round is a full driver barrier, which dominates wall time on
      // sparse dup graphs. Two is also the CEILING, not a tuning
      // choice: hop() references its input twice (neighbor-min build +
      // outer join), so k chained hops duplicate the un-materialized
      // subtree 2^k-fold — measured this round, a 2→8 hop escalation
      // ran dd_winnow_clusters 4.4 s → 16.6 s. (A pointer-jumping step
      // per round was likewise measured and reverted: it helps only
      // deep containment chains and costs every shallow graph an extra
      // |V|-scale join per round.) LAZY checkpoint + count: the
      // convergence count IS the action that materializes the round
      // into stored blocks — one job per round. The pre-round label
      // rides along so convergence is a filter over the materialized
      // round, not another join; no-change detection across a 2-hop
      // round is exact (monotonicity: unchanged after 2 hops ⇒
      // fixpoint).
      val next = mark(hop(hop(
        labels.select(col("id"), col("cluster").as("old"))
          .withColumn("cluster", col("old")))))
      changed = next.filter(col("cluster") =!= col("old")).count()
      // the count materialized `next` (lazy checkpoint + action): the
      // superseded round's blocks are dead weight now
      graft.core.Checkpoints.release(labelsCk)
      labelsCk = next
      labels = next.select(col("id"), col("cluster"))
    }
    // the final round's checkpoint backs the returned join; the edge
    // frame does not (labels is self-contained)
    graft.core.Checkpoints.release(edges)
    ids.select(col("id"))
      .join(labels.withColumnRenamed("cluster", "nbc"), Seq("id"), "left")
      .select(col("id"), coalesce(col("nbc"), col("id")).as("cluster"))
      .withColumn("is_canonical", col("id") === col("cluster"))
  }

  /** Benchmark-contamination check — the decontamination step of a
    * training-data pipeline: for every corpus document, how many of its
    * distinct k-shingles also appear anywhere in an evaluation set
    * (benchmark prompts/answers), and what fraction of the document that
    * is. Downstream, docs above a threshold are dropped or flagged
    * before training.
    *
    * Scale shape: the eval side collapses to its DISTINCT shingle set —
    * benchmark suites are tiny next to a 100 TB corpus, so that set is
    * explicitly `broadcast` and the probe is a map-side hash lookup over
    * the corpus shingles; the only shuffle is the final groupBy doc id
    * (map-side partial counts). Never a shuffle of the corpus by
    * shingle.
    *
    * Returns (id, n_shingles, n_contaminated, contamination) for every
    * corpus doc with ≥1 shingle (docs under k words have none, as in
    * [[minhashBands]]).
    */
  def contaminationCheck(corpus: DataFrame, evalSet: DataFrame,
                         idCol: String, textCol: String): DataFrame = {
    val evalSh = evalSet
      .select(explode(shingles(col(textCol))).as("shingle")).distinct()
      .withColumn("hit", lit(1L))
    corpus
      .select(col(idCol).as("id"), explode(shingles(col(textCol))).as("shingle"))
      .join(broadcast(evalSh), Seq("shingle"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination",
        round(col("n_contaminated").cast("double") / col("n_shingles").cast("double"), 6))
  }

  // ---- SimHash ----------------------------------------------------------

  /** Relational 32-bit SimHash (Charikar 2002): explode shingles, hash
    * each once, fold the 32 bit-votes as plain long-sum aggregates in one
    * groupBy — one shuffle by doc id with map-side partial aggregation,
    * fully codegen'd. (A Column-expression fold over a 32-long vote
    * array runs its lambdas interpreted: 23 s against this shape's
    * ~2.5 s on the round-1 bench.)
    *
    * Docs with fewer than k words have no shingles and are absent from
    * the output (same semantics as [[minhashBands]]).
    * Returns (id, simhash).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sh = df.select(col(idCol).as("id"), explode(shingles(col(textCol))).as("shingle"))
      .withColumn("h", baseHash(col("shingle")))
    val voteAggs = (0 until 32).map { i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$i")
    }
    val votes = sh.groupBy(col("id")).agg(voteAggs.head, voteAggs.tail: _*)
    val value = (0 until 32)
      .map(i => when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(col("id"), value.cast("long").as("simhash"))
  }
}
