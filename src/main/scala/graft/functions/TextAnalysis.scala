package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, language id, quality scoring, fingerprinting. All are
  * built from Column expressions (codegen'd, no UDFs) over a `text` column —
  * at 100 TB these run map-side with zero shuffle.
  */
object TextAnalysis {

  /** Whitespace tokens (after trim). */
  def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  def wsTokenCount(text: Column): Column = size(wsTokens(text))

  /** Flesch Reading Ease (Flesch 1948) in integer micro-units over the
    * standard heuristic counts: words = whitespace tokens, sentences =
    * maximal `[.!?]+` runs (floored at 1 so unpunctuated text reads as
    * one sentence), syllables = maximal `[aeiouy]+` vowel groups of the
    * lowercased text (the classic no-dictionary estimator).
    * flesch_micro = 206_835_000 − (1_015_000·W) DIV S −
    * (84_600_000·Y) DIV W — truncating integer division, identical in
    * DuckDB, so the score replays bit-exactly. Pure Column expressions:
    * map-side, zero shuffle at any scale.
    */
  def fleschOnto(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = wsTokenCount(col(textCol)).cast("long")
    val sents = greatest(
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0)))
        .cast("long"), lit(1L))
    val syll = size(regexp_extract_all(lower(col(textCol)),
      lit("[aeiouy]+"), lit(0))).cast("long")
    df.select(col(idCol).as("doc_id"), words.as("n_words"),
        sents.as("n_sentences"), syll.as("n_syllables"))
      .withColumn("flesch_micro",
        expr("206835000 - 1015000 * n_words DIV n_sentences" +
          " - 84600000 * n_syllables DIV n_words"))
  }

  /** BPE-ish token proxy: word pieces OR single non-word-non-space chars —
    * the standard pre-tokenizer shape (`\w+|[^\w\s]`), written with an
    * explicit class so Java and RE2 regex dialects agree.
    */
  val BpeTokenRe = "[A-Za-z0-9_]+|[^A-Za-z0-9_ \\t\\n]"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenRe), lit(0)))

  /** Normalization for fingerprinting: lowercase, collapse whitespace. */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Exact-dup fingerprint = md5 of the normalized text. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Karp-Rabin polynomial base/modulus for the winnowing gram hash.
    * B > any code point in play, P a 30-bit prime: h < P keeps every
    * Horner step (h*B + c) far inside int64, and `%` on non-negative
    * operands is identical in Spark and DuckDB — pure integer
    * arithmetic both engines evaluate bit-identically, unlike the
    * round-1 md5-per-gram version (one md5 per character position was
    * the single worst BENCH line).
    */
  val WinnowB = 257L
  val WinnowP = 1000000007L
  /** Gram length and window width of [[winnowingFingerprints]]. */
  val WinnowK = 8
  val WinnowW = 16

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03): hash every [[WinnowK]]-char gram of the normalized text
    * with a polynomial (Karp-Rabin) hash, then keep the minimum hash of
    * each sliding window of [[WinnowW]] grams — the classic fingerprint
    * set whose overlap estimates local similarity. Texts shorter than a
    * gram are right-padded with spaces to yield exactly one gram.
    * Returns a sorted distinct array<long>.
    */
  def winnowingFingerprints(normText: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      WinnowFingerprintsExpr(
        org.apache.spark.sql.GraftExpressionBridge.expression(normText), WinnowK, WinnowW))

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately minimal and deterministic.
    */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "des"),
    "es" -> Seq("el", "los", "las", "y", "una")
  )

  /** Count of tokens that are in `words`. */
  def stopwordHits(text: Column, words: Seq[String]): Column = {
    val arr = array(words.map(lit): _*)
    size(filter(wsTokens(text), t => array_contains(arr, t)))
  }

  /** Tiny per-language character-trigram profiles for the n-gram
    * language-ID heuristic (the classic Cavnar-Trenkle shape, minimal
    * deterministic instantiation).
    */
  val TrigramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "ing", "and", "ion", "ent"),
    "de" -> Seq("der", "sch", "ein", "ich", "und"),
    "fr" -> Seq("les", "ent", "des", "que", "ait"),
    "es" -> Seq("que", "los", "ado", "nte", "con")
  )

  /** Occurrence count of a literal substring: (len − len(text without
    * g)) / |g| — exact, engine-portable integer arithmetic (replace is
    * replace-all in both Spark and DuckDB).
    */
  def substrCount(text: Column, g: String): Column =
    (length(text) - length(replace(text, lit(g), lit("")))) / g.length

  // The language-ID and quality operators pin each per-language count
  // behind an EvalOnce column and fold over attribute references: an
  // argmax fold references the running best twice per step, so folding
  // over the count expressions themselves would copy each count's regex
  // split / HOF filter up to 2^|langs| times per row, and
  // CollapseProject re-inlines any plain intermediate projection.

  private def argmaxOverCols(langs: Seq[String], hitCol: String => Column): Column =
    langs.foldLeft((lit("und"), lit(0))) { case ((bl, bh), l) =>
      (when(hitCol(l) > bh, lit(l)).otherwise(bl),
        when(hitCol(l) > bh, hitCol(l)).otherwise(bh))
    }._1

  /** Language-ID: argmax of per-language stopword hits; zero hits resolve
    * to "und" (undetermined). Deterministic: languages compared in sorted
    * order, strictly-greater wins, so a tie goes to the first language.
    */
  def langIdOnto(df: DataFrame, out: String, text: Column): DataFrame = {
    val langs = Stopwords.keys.toSeq.sorted
    val withHits = langs.foldLeft(df)((d, l) =>
      d.withColumn(s"__sw_$l", EvalOnce(stopwordHits(text, Stopwords(l)))))
    withHits.withColumn(out, argmaxOverCols(langs, l => col(s"__sw_$l")))
      .drop(langs.map(l => s"__sw_$l"): _*)
  }

  /** Language-ID via character-trigram profile hits (n-gram heuristic):
    * argmax of Σ trigram occurrences over the normalized text; zero hits
    * resolve to "und". Same sorted strictly-greater fold as [[langIdOnto]].
    */
  def langIdNgramOnto(df: DataFrame, out: String, text: Column): DataFrame = {
    val langs = TrigramProfiles.keys.toSeq.sorted
    val withNorm = df.withColumn("__lin_norm", EvalOnce(normalized(text)))
    val withHits = langs.foldLeft(withNorm)((d, l) =>
      d.withColumn(s"__tg_$l", EvalOnce(
        TrigramProfiles(l).map(g => substrCount(col("__lin_norm"), g)).reduce(_ + _))))
    withHits.withColumn(out, argmaxOverCols(langs, l => col(s"__tg_$l")))
      .drop("__lin_norm" +: langs.map(l => s"__tg_$l"): _*)
  }

  /** Quality score in [0,1]: blend of length band, alpha ratio, stopword
    * ratio, and mean word length band — the shape of a classic heuristic
    * document-quality filter (Gopher/C4-style rules), deterministic and
    * SQL-expressible. The token count feeds three terms, so it is
    * evaluated once.
    */
  def qualityScoreOnto(df: DataFrame, out: String, text: Column): DataFrame = {
    val n = col("__q_n")
    val chars = length(text).cast("double")
    val alpha = length(regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    val meanWordLen = chars / greatest(n, lit(1.0))
    val lenOk = when(n >= 5 && n <= 10000, lit(1.0)).otherwise(lit(0.0))
    val alphaRatio = alpha / greatest(chars, lit(1.0))
    val swRatio = least(col("__q_sw") / greatest(n, lit(1.0)) * 10.0, lit(1.0))
    val wordLenOk = when(meanWordLen >= 2.0 && meanWordLen <= 12.0, lit(1.0))
      .otherwise(lit(0.0))
    df.withColumn("__q_n", EvalOnce(wsTokenCount(text).cast("double")))
      .withColumn("__q_sw", EvalOnce(stopwordHits(text, Stopwords("en")).cast("double")))
      .withColumn(out, round((lenOk + alphaRatio + swRatio + wordLenOk) / 4.0, 6))
      .drop("__q_n", "__q_sw")
  }

  /** Rule-based hard quality filter (Gopher-style — Rae et al. 2021
    * table A1's shape): per-document boolean verdicts for each rule
    * plus the combined keep decision. Unlike [[qualityScoreOnto]]'s soft
    * blend, these are the hard gates a corpus pipeline applies before
    * any scoring: 20-90 words, mean word length 3-10 characters, at
    * least 2 English stopwords (a proxy for "is natural language at
    * all"), and at least half the characters alphabetic (drops
    * markup/number dumps).
    *
    * Pure map-side Column arithmetic over one EvalOnce'd token count —
    * no shuffle, rides the scan at any corpus size. Rule verdicts are
    * emitted individually (not just the conjunction) because pipeline
    * dashboards track WHICH rule kills documents per source.
    */
  def gopherFilterOnto(df: DataFrame, textCol: Column): DataFrame = {
    val n = col("__gf_n")
    val chars = length(textCol).cast("double")
    val meanWordLen = chars / greatest(n.cast("double"), lit(1.0))
    val alphaFrac = length(regexp_replace(textCol, "[^A-Za-z]", ""))
      .cast("double") / greatest(chars, lit(1.0))
    df.withColumn("__gf_n", EvalOnce(wsTokenCount(textCol)))
      .withColumn("r_len_ok", n >= 20 && n <= 90)
      .withColumn("r_mwl_ok", meanWordLen >= 3.0 && meanWordLen <= 10.0)
      .withColumn("r_sw_ok", stopwordHits(textCol, Stopwords("en")) >= 2)
      .withColumn("r_alpha_ok", alphaFrac >= 0.5)
      .withColumn("keep",
        col("r_len_ok") && col("r_mwl_ok") && col("r_sw_ok") && col("r_alpha_ok"))
      .drop("__gf_n")
  }

  // PII patterns: explicit character classes only — Java (Spark) and RE2
  // (DuckDB) disagree on some shorthand classes (`\s` includes \x0B in
  // Java but not RE2), so the patterns avoid every shorthand except the
  // portable `\b`.
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val PiiPhoneRe = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"
  val PiiIpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII scrub — redact emails, phone-shaped digit runs and IPv4s with
    * typed placeholders, and count the redactions. Pure map-side Column
    * work, the standard pre-training cleanup step. Email first: an
    * address must not first lose digit runs to the phone pass.
    *
    * Each stage's count is taken on THAT stage's input (the previous
    * stage's output), so n_pii is exactly the number of placeholder
    * insertions in clean_text — counting all three patterns on the
    * original text would double-count overlaps (the digit run inside an
    * email also matches the phone pattern) and disagree with what was
    * actually redacted.
    */
  def piiScrubOnto(df: DataFrame, textCol: Column): DataFrame = {
    def n(c: Column, re: String) = size(regexp_extract_all(c, lit(re), lit(0)))
    df.withColumn("__p_t1", EvalOnce(regexp_replace(textCol, PiiEmailRe, "<EMAIL>")))
      .withColumn("__p_t2", EvalOnce(regexp_replace(col("__p_t1"), PiiPhoneRe, "<PHONE>")))
      .withColumn("n_pii",
        (n(textCol, PiiEmailRe) + n(col("__p_t1"), PiiPhoneRe)
          + n(col("__p_t2"), PiiIpRe)).cast("long"))
      .withColumn("clean_text", regexp_replace(col("__p_t2"), PiiIpRe, "<IP>"))
      .drop("__p_t1", "__p_t2")
  }

  /** Corpus vocabulary: per-token total occurrences and document
    * frequency over the normalized token stream, top `k` by
    * (occurrences desc, token asc — deterministic ties). The groupBy
    * gets map-side partial aggregation, so token skew (stopwords) is
    * absorbed before the shuffle; the top-k is a global sort LIMIT,
    * which Spark executes as per-partition partial top-k + merge.
    */
  def vocabTopK(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    vocabTopK(df, idCol, textCol, k, exactDocFreq = true)

  /** `exactDocFreq = false` is the 100 TB dashboard path: document
    * frequency via `approx_count_distinct` (HyperLogLog++, ~2% default
    * relative error). Exact `countDistinct` rewrites the plan to a
    * two-phase Expand/aggregate whose first shuffle carries one row per
    * DISTINCT (token, doc) pair — for stopwords that is nearly one row
    * per document, the dominant shuffle at corpus scale. The HLL sketch
    * aggregates map-side into a fixed-width buffer per token, so the
    * shuffle shrinks to one sketch row per token per map task, the same
    * shape as the plain `count`. Keep the exact form where counts feed
    * an oracle or billing-grade report.
    */
  def vocabTopK(df: DataFrame, idCol: String, textCol: String, k: Int,
                exactDocFreq: Boolean): DataFrame =
    df.select(col(idCol).as("id"),
      explode(split(normalized(col(textCol)), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_total"),
        (if (exactDocFreq) countDistinct(col("id"))
         else approx_count_distinct(col("id"))).as("n_docs"))
      .orderBy(col("n_total").desc, col("token").asc)
      .limit(k)

  /** Per-source quality selection: keep exactly
    * `ceil(n_source · keepNum/keepDen)` documents per source, best
    * quality first (FineWeb-style top-fraction curation with a hard
    * per-source budget). Returns (doc_id, source, score_micro, kept).
    *
    * Scale shape — the naive form is `row_number() OVER (PARTITION BY
    * source ORDER BY score)`, a full sort of each source's documents
    * (sources are few, so partitions are huge: the classic skewed-window
    * killer). Instead the score domain is finite (micro-quantized to
    * [0, 10^6]), so an exact threshold comes from a HISTOGRAM:
    * one groupBy per (source, score) — bounded at 10^6 rows per source
    * regardless of corpus size — a tiny per-source cumulative window
    * over that histogram, and a row_number only WITHIN each
    * (source, score) bucket for deterministic tie-splitting at the
    * threshold (fine-grained partitions, no skew). The doc-side join
    * and the tie window share the (source, score) key. All-integer
    * arithmetic: budget = `(n·keepNum + keepDen − 1) DIV keepDen`,
    * engine-exact.
    */
  def qualitySelect(df: DataFrame, idCol: String, textCol: String,
                    srcCol: String, keepNum: Long, keepDen: Long): DataFrame = {
    require(keepNum >= 0 && keepDen > 0)
    val scored = qualityScoreOnto(
      df.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        col(textCol).as("text")), "__q", col("text"))
      .select(col("doc_id"), col("source"),
        (col("__q").cast("decimal(25,6)") * lit(1000000)).cast("long")
          .as("score_micro"))
    val budgets = scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .withColumn("budget", expr(s"(n * $keepNum + $keepDen - 1) DIV $keepDen"))
      .select(col("source"), col("budget"))
    // docs with STRICTLY higher score than this bucket, per source:
    // exclusive cumulative count over the score histogram
    val hist = scored.groupBy(col("source"), col("score_micro"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("source"))
      .orderBy(col("score_micro").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("higher", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .select(col("source"), col("score_micro"), col("higher"))
    val wTie = Window.partitionBy(col("source"), col("score_micro"))
      .orderBy(col("doc_id").asc)
    scored
      .withColumn("rk", row_number().over(wTie).cast("long"))
      .join(cum, Seq("source", "score_micro"))
      .join(broadcast(budgets), Seq("source"))
      .withColumn("kept", col("higher") + col("rk") <= col("budget"))
      .select(col("doc_id"), col("source"), col("score_micro"), col("kept"))
  }

  /** Within-document repetition metrics — the Gopher/C4-style repetition
    * signals a quality filter cuts on: duplicate-token fraction, most-
    * frequent-token fraction, duplicate-bigram fraction. High values mark
    * boilerplate, keyword stuffing and degenerate generations.
    *
    * Relational shape (scales with corpus size, not document length):
    * bigrams are a map-side `zip_with` over two shifted slices (no
    * per-element lambda re-evaluation — the slices are materialized
    * array columns); the counts are two codegen'd groupBys keyed by
    * (doc, token) then doc, with map-side partials.
    *
    * Returns (id, n_tokens, dup_token_frac, top_token_frac,
    * dup_bigram_frac); the bigram fraction is NULL for one-token docs.
    */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      split(normalized(col(textCol)), " ").as("words"))
      .withColumn("bigrams",
        zip_with(
          slice(col("words"), lit(1), size(col("words")) - 1),
          slice(col("words"), lit(2), size(col("words")) - 1),
          (a, b) => concat(a, lit(" "), b)))
    val tc = base.select(col("id"), explode(col("words")).as("token"))
      .groupBy(col("id"), col("token")).agg(count(lit(1)).as("c"))
    val tstats = tc.groupBy(col("id")).agg(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      max(col("c")).as("top_c"))
    val bstats = base.select(col("id"), explode(col("bigrams")).as("bg"))
      .groupBy(col("id")).agg(
        count(lit(1)).as("n_bigrams"),
        countDistinct(col("bg")).as("nd_bigrams"))
    tstats.join(bstats, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        round(lit(1.0) - col("n_distinct").cast("double")
          / col("n_tokens").cast("double"), 6).as("dup_token_frac"),
        round(col("top_c").cast("double")
          / col("n_tokens").cast("double"), 6).as("top_token_frac"),
        round(lit(1.0) - col("nd_bigrams").cast("double")
          / col("n_bigrams").cast("double"), 6).as("dup_bigram_frac"))
  }

  /** Fixed-size token chunks with overlap — training-sequence prep:
    * split each document's (normalized, whitespace-tokenized) token
    * stream into windows of `chunkSize` tokens starting every
    * `chunkSize - overlap` tokens, so consecutive chunks share `overlap`
    * tokens of context. The trailing chunk may be shorter.
    *
    * Entirely map-side: tokenize → explode the start offsets
    * (`sequence`) → `slice` per start. No shuffle, no state — at corpus
    * scale this is a pure narrow transformation that rides whatever
    * partitioning the scan produced, and the output is ~n_tokens/stride
    * rows per doc regardless of document skew.
    *
    * Returns (id, chunk_idx, n_tokens, chunk_text); every document
    * yields at least one chunk (the tokenizer maps empty text to a
    * single empty token, same as the oracle's regexp_split_to_array).
    */
  def tokenChunks(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap must be in [0, chunkSize): got overlap=$overlap chunkSize=$chunkSize")
    val stride = chunkSize - overlap
    df.select(col(idCol).as("id"), split(normalized(col(textCol)), " ").as("words"))
      .withColumn("s", explode(sequence(lit(0), size(col("words")) - 1, lit(stride))))
      .withColumn("toks", slice(col("words"), col("s") + 1, lit(chunkSize)))
      .select(col("id"),
        (col("s") / stride).cast("int").as("chunk_idx"),
        size(col("toks")).as("n_tokens"),
        array_join(col("toks"), " ").as("chunk_text"))
  }

  /** Consecutive non-overlapping `len`-word passages of the normalized
    * text — (doc_id, pidx, passage), the last one possibly short. The
    * exact-span unit for sub-document dedup: Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * deduplicate fixed-length token spans, and CCNet (Wenzek et al.
    * 2020) deduplicates lines; the corpus here is single-line text, so
    * fixed word windows are the span unit for both. Map-side explode —
    * zero shuffle on its own.
    */
  def passages(df: DataFrame, idCol: String, textCol: String,
               len: Int): DataFrame = {
    require(len > 0, s"passage length must be positive: got $len")
    df.select(col(idCol).as("doc_id"),
        split(normalized(col(textCol)), " ").as("words"))
      .withColumn("s", explode(sequence(lit(0), size(col("words")) - 1, lit(len))))
      .select(col("doc_id"),
        (col("s") / len).cast("long").as("pidx"),
        array_join(slice(col("words"), col("s") + 1, lit(len)), " ").as("passage"))
  }

  /** Rebuild documents from a surviving subset of their passages:
    * (doc_id, n_passages, n_kept, clean_text) with passages rejoined in
    * original order. Documents that lost every passage survive with
    * n_kept = 0 and empty clean_text (the caller decides whether an
    * emptied doc is dropped — that's a curation-gate decision, not a
    * dedup decision). One shuffle per side keyed by doc_id; the
    * collect_list is bounded by words/len per doc, the same per-doc
    * bound the source text already had.
    */
  def reassemblePassages(all: DataFrame, kept: DataFrame): DataFrame = {
    val tot = all.groupBy("doc_id").agg(count(lit(1)).as("n_passages"))
    val k = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("pidx"), col("passage")))),
        x => x("passage")), " ").as("clean_text"))
    tot.join(k, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_passages"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** CCNet-style boilerplate removal: drop every passage whose exact
    * text appears in more than `maxDf` distinct documents (navigation
    * chrome, license headers, cookie banners — the spans that repeat
    * corpus-wide), then rebuild the documents. Returns
    * (doc_id, n_passages, n_kept, clean_text).
    *
    * Scale shape: the boilerplate key set is bounded by
    * corpus_passages / (maxDf + 1) — genuinely small for the
    * production maxDf regime (boilerplate = crosses MANY documents)
    * but corpus-scale at maxDf = 1 on a heavily-duplicated corpus, so
    * the anti-join carries NO forced broadcast hint (the k-core
    * lesson): AQE broadcasts it when its measured size allows — the
    * map-side prune, hot passages never colocate — and otherwise runs
    * a shuffled anti-join whose hot fp partitions AQE skew-splits. The
    * df count itself is a partial-aggregating groupBy (the mega-hot
    * passage collapses to one row per map task before shuffling).
    */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
                        passageLen: Int = 8, maxDf: Long = 1L): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1: got $maxDf")
    val pass = passages(df, idCol, textCol, passageLen)
      .withColumn("fp", md5(col("passage")))
    val boiler = pass.groupBy(col("fp").as("__fp"))
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") > maxDf)
      .select("__fp")
    val kept = pass
      .join(boiler, col("fp") === col("__fp"), "left_anti")
      .select("doc_id", "pidx", "passage")
    reassemblePassages(pass, kept)
  }

  /** C4-style cleaning rules (Raffel et al. 2020 §2.2), the other
    * canonical rule battery next to the Gopher gates: code-page
    * heuristic (curly braces), placeholder text ("lorem ipsum"),
    * boilerplate-warning marker ("javascript"), and a word-count
    * band standing in for C4's sentence-count floor (the corpus here
    * is single-line). Emits one verdict column per rule plus the
    * combined `keep` — per-rule columns are what a curation dashboard
    * tracks (WHICH rule kills documents). Pure Column expressions:
    * map-side, zero shuffle.
    */
  def c4Filters(df: DataFrame, idCol: String, textCol: String,
                minWords: Int = 5, maxWords: Int = 100000): DataFrame = {
    val text = col(textCol)
    val lower0 = lower(text)
    val n = wsTokenCount(text)
    df.select(col(idCol).as("doc_id"),
        (!text.contains("{") && !text.contains("}")).as("r_braces_ok"),
        (!lower0.contains("lorem ipsum")).as("r_lorem_ok"),
        (!lower0.contains("javascript")).as("r_policy_ok"),
        (n >= minWords && n <= maxWords).as("r_words_ok"))
      .withColumn("keep",
        col("r_braces_ok") && col("r_lorem_ok") &&
          col("r_policy_ok") && col("r_words_ok"))
  }

  /** Linear quality-classifier inference — the fastText-style learned
    * filter of production curation pipelines, reduced to what inference
    * actually is at scale: a dot product of per-document features
    * against a broadcast weight vector. Features are the integer
    * signals the rule gates already compute (token count, char count,
    * alpha chars, English stopword hits, mean word length in
    * milli-chars); weights and bias arrive in micro units, the logit
    * stays in integer micro space (a monotone function of the sigmoid,
    * so `keep = logit ≥ 0` IS the classifier decision — no libm exp,
    * bit-portable in any engine). Returns
    * (doc_id, n_tokens, logit_micro, keep), map-side, zero shuffle.
    *
    * Train wherever you like (sklearn, fastText, a Spark LR fit);
    * serve here by passing the learned coefficients.
    */
  def linearQualityScore(df: DataFrame, idCol: String, textCol: String,
                         wTokensMicro: Long, wCharsMicro: Long,
                         wAlphaMicro: Long, wStopMicro: Long,
                         wMwlMicro: Long, biasMicro: Long): DataFrame = {
    val text = col(textCol)
    df.select(col(idCol).as("doc_id"),
        wsTokenCount(text).cast("long").as("n_tokens"),
        length(text).cast("long").as("__nc"),
        length(regexp_replace(text, "[^A-Za-z]", "")).cast("long").as("__na"),
        stopwordHits(text, Stopwords("en")).cast("long").as("__ns"))
      // logit entirely in int64 (mean word length as integer
      // milli-chars) — `div`, never `/` (double division)
      .selectExpr("doc_id", "n_tokens",
        s"${biasMicro}L + ${wTokensMicro}L * n_tokens + ${wCharsMicro}L * __nc" +
          s" + ${wAlphaMicro}L * __na + ${wStopMicro}L * __ns" +
          s" + ${wMwlMicro}L * (__nc * 1000L div greatest(n_tokens, 1L))" +
          " AS logit_micro")
      .withColumn("keep", col("logit_micro") >= 0L)
  }

  /** Benchmark decontamination, the REMOVAL form of
    * [[Dedup.contaminationCheck]] (which only flags): cut from every
    * corpus document each passage whose exact `passageLen`-word text
    * appears ANYWHERE in the benchmark — at any token offset, because
    * the benchmark side is indexed by its overlapping `passageLen`-gram
    * shingles (stride 1), not by aligned windows — then rebuild the
    * documents. Returns (doc_id, n_passages, n_kept, clean_text).
    * Passages shorter than `passageLen` (document tails) can never
    * equal a full-length shingle and are always kept.
    *
    * Scale shape: benchmark shingle fingerprints are distinct-reduced
    * (partial agg) and broadcast — eval sets are small next to the
    * corpus — so the cut is a map-side left-anti; a huge eval set would
    * swap in a Bloom-filter probe. The corpus side stays one explode +
    * the reassembly groupBy.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String,
                    passageLen: Int = 8): DataFrame = {
    val pass = passages(corpus, idCol, textCol, passageLen)
      .withColumn("fp", md5(col("passage")))
    val bench = benchmark
      .select(explode(Dedup.shingles(col(textCol), passageLen)).as("g"))
      .select(md5(col("g")).as("__fp")).distinct()
    val kept = pass.join(broadcast(bench), col("fp") === col("__fp"), "left_anti")
      .select("doc_id", "pidx", "passage")
    reassemblePassages(pass, kept)
  }

  /** Unigram-frequency-rank quality proxy: rank every vocabulary token
    * by corpus frequency (1 = most frequent; ties broken by token text),
    * then score each document by the mean rank of its tokens — a
    * perplexity-like "how surprising is this document under the corpus
    * unigram distribution" signal with NO floating-point transcendentals
    * (log/pow are libm calls whose last bits differ across engines; an
    * integer rank sum is bit-portable everywhere). Returns
    * (doc_id, n_tokens, sum_rank, mean_rank_micro), all BIGINT.
    *
    * Scale shape: vocab build is a partial-aggregating groupBy (hot
    * tokens collapse map-side). The global row_number over the vocab is
    * a single-partition window — correct because vocab cardinality is
    * corpus-sublinear (Heaps' law: ~millions of types for trillions of
    * tokens), so it is the small frame in the plan; the rank table then
    * joins back to the exploded token stream where AQE's skew-join
    * splitting absorbs the stopword keys.
    *
    * Contract: sum_rank × 1e6 must fit in int64 — holds through
    * vocab ≤ 1e6 with docs ≤ 9e6 tokens (and far beyond in practice).
    */
  def tokenRankScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = df.select(col(idCol).as("doc_id"),
      explode(split(normalized(col(textCol)), " ")).as("token"))
    val vocab = tk.groupBy("token").agg(count(lit(1)).as("cnt"))
    val rank = vocab.withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("token").asc)))
      .select("token", "rank")
    tk.join(rank, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("rank").as("sum_rank"))
      .withColumn("mean_rank_micro", expr("sum_rank * 1000000 div n_tokens"))
  }

  /** T5-style span corruption (Raffel et al. 2020's denoising
    * objective): the document's words are cut into fixed-length slots,
    * a deterministic hash selects ~1/selectMod of them, each selected
    * slot is replaced by a numbered sentinel in the corrupted text, and
    * the training target lists sentinel + masked words in order — the
    * (inputs, targets) pair generation pass of a denoising-LM data
    * pipeline. The slot hash keys on (doc, slot), so the masking is a
    * pure function of the row: map-side, zero shuffle, and the oracle
    * replays it with the same md5-prefix hash the sampling family uses.
    * Sentinel ranks come from an O(k²)-in-selected-slots prefix count —
    * selected slots per doc are ~L/(spanLen·selectMod), so the quadratic
    * term is negligible against the tokenize cost at any real doc size.
    */
  def spanCorruption(df: DataFrame, idCol: String, textCol: String,
                     spanLen: Int = 3, selectMod: Int = 7): DataFrame = {
    require(spanLen >= 1 && selectMod >= 2)
    val L = spanLen
    val M = selectMod
    df.select(col(idCol).cast("long").as("doc_id"),
        split(normalized(col(textCol)), " ").as("w"))
      .withColumn("slots", expr(s"sequence(0, (size(w) - 1) DIV $L)"))
      .withColumn("sel", expr(
        s"""filter(slots, s -> CAST(conv(substring(md5(concat('span',
           | CAST(doc_id AS STRING), ':', CAST(s AS STRING))), 1, 8),
           | 16, 10) AS BIGINT) % $M = 0)""".stripMargin.replace("\n", "")))
      .select(col("doc_id"),
        expr("size(sel)").cast("long").as("n_spans"),
        expr(s"""CAST(aggregate(sel, 0,
             | (a, s) -> a + size(slice(w, s * $L + 1, $L))) AS BIGINT)"""
          .stripMargin.replace("\n", "")).as("n_masked_words"),
        expr(s"""array_join(transform(slots, s ->
             | CASE WHEN array_contains(sel, s)
             | THEN concat('<extra_id_',
             |   CAST(size(filter(sel, p -> p < s)) AS STRING), '>')
             | ELSE array_join(slice(w, s * $L + 1, $L), ' ')
             | END), ' ')""".stripMargin.replace("\n", "")).as("corrupted"),
        expr(s"""array_join(transform(sel, s ->
             | concat('<extra_id_',
             |   CAST(size(filter(sel, p -> p < s)) AS STRING), '> ',
             |   array_join(slice(w, s * $L + 1, $L), ' '))), ' ')"""
          .stripMargin.replace("\n", "")).as("targets"))
  }
}
