package graft

import graft.functions.{Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Training-data prep operators: deterministic sampling, token chunking,
  * contamination check.
  */
class SamplingChunkingSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val docs = (1L to 400L).map { i =>
    val lang = Seq("en", "fr", "zh")(((i % 3)).toInt)
    (i, lang, s"document $i body with several words about topic ${i % 17}")
  }.toDF("doc_id", "lang", "text")

  /** One rate for every stratum: a plain hash (Bernoulli) sample. */
  private def hashSample(df: org.apache.spark.sql.DataFrame, rate: Double, salt: String) =
    Sampling.stratifiedSample(df, $"doc_id", $"lang", Map.empty, rate, salt)
      .select($"doc_id").collect().map(_.getLong(0)).toSet

  test("hash sample: deterministic, order-independent, ~rate sized") {
    val a = hashSample(docs, 0.5, "s1")
    val b = hashSample(docs.repartition(7), 0.5, "s1")
    assert(a == b) // membership is a pure function of (salt, key)
    assert(a.size > 120 && a.size < 280) // ~200 expected, md5-uniform
    val c = hashSample(docs, 0.5, "s2")
    assert(a != c) // a different salt draws a different sample
  }

  test("hash sample: rate monotonicity — raising the rate only adds rows") {
    assert(hashSample(docs, 0.2, "s1").subsetOf(hashSample(docs, 0.6, "s1")))
  }

  test("stratified sample: per-stratum rates honored independently") {
    val out = Sampling.stratifiedSample(docs, $"doc_id", $"lang",
      rates = Map("en" -> 1.0, "fr" -> 0.0), defaultRate = 0.5, salt = "s1")
    val byLang = out.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enTotal = docs.filter($"lang" === "en").count()
    assert(byLang("en") == enTotal) // rate 1.0 keeps every row
    assert(!byLang.contains("fr")) // rate 0.0 keeps none
    val zh = byLang.getOrElse("zh", 0L).toDouble
    val zhTotal = docs.filter($"lang" === "zh").count().toDouble
    assert(zh / zhTotal > 0.3 && zh / zhTotal < 0.7) // default 0.5
    // a stratum's membership is unchanged by other strata's rates
    val zhAlone = Sampling.stratifiedSample(docs, $"doc_id", $"lang",
      rates = Map.empty, defaultRate = 0.5, salt = "s1")
      .filter($"lang" === "zh").select($"doc_id").collect().map(_.getLong(0)).toSet
    val zhMixed = out.filter($"lang" === "zh")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(zhAlone == zhMixed)
  }

  test("token chunks: overlap contract and full coverage") {
    val d = Seq((1L, (1 to 150).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = TextAnalysis.tokenChunks(d, "doc_id", "text",
      chunkSize = 64, overlap = 16)
      .orderBy($"chunk_idx")
      .select($"chunk_idx", $"n_tokens", $"chunk_text").collect()
    // starts every 48: 0, 48, 96, 144 => 4 chunks; last has 150-144=6 toks
    assert(chunks.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3))
    assert(chunks.map(_.getInt(1)).toSeq == Seq(64, 64, 54, 6))
    val toks = chunks.map(_.getString(2).split(" ").toSeq)
    assert(toks(0).takeRight(16) == toks(1).take(16)) // shared context
    assert(toks(0).head == "w1" && toks(3).last == "w150")
    // coverage: the union of chunk tokens is exactly the document
    assert(toks.flatten.toSet == (1 to 150).map(i => s"w$i").toSet)
  }

  test("token chunks: doc shorter than one chunk => single short chunk") {
    val d = Seq((1L, "only three words"), (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenChunks(d, "doc_id", "text", 64, 16)
      .orderBy($"id").select($"id", $"chunk_idx", $"n_tokens").collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq((1L, 0, 3), (2L, 0, 1))) // empty text tokenizes to one empty token
  }

  test("fixed-k per stratum: exact k, deterministic, WindowGroupLimit plan") {
    val out = Sampling.fixedKPerStratum(docs, $"doc_id", $"lang", k = 7, salt = "s1")
    val counts = out.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.toSet == Set(7L)) // every stratum has >7 rows here
    val again = Sampling.fixedKPerStratum(docs.repartition(5), $"doc_id", $"lang",
      k = 7, salt = "s1").select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(again == out.select($"doc_id").collect().map(_.getLong(0)).toSet)
    // small stratum: returns all rows when fewer than k exist
    val small = Sampling.fixedKPerStratum(docs.filter($"doc_id" <= 2), $"doc_id",
      $"lang", k = 7, salt = "s1").count()
    assert(small == 2L)
    // the rank filter plans as a group limit pushed ahead of the shuffle
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"))
  }

  test("pii scrub: emails, phones, ips redacted and counted; clean text untouched") {
    val d = Seq(
      (1L, "contact john.doe@example.com or +32 475 123 456 today"),
      (2L, "server at 192.168.10.250 rebooted"),
      (3L, "no personal data in this sentence")).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrubOnto(d, $"text")
      .orderBy($"doc_id").select($"doc_id", $"n_pii", $"clean_text").collect()
    assert(out(0).getLong(1) == 2L)
    assert(out(0).getString(2) == "contact <EMAIL> or <PHONE> today")
    assert(out(1).getLong(1) == 1L)
    assert(out(1).getString(2) == "server at <IP> rebooted")
    assert(out(2).getLong(1) == 0L)
    assert(out(2).getString(2) == "no personal data in this sentence")
  }

  test("vocab top-k: counts, document frequency, deterministic tie order") {
    val d = Seq(
      (1L, "spark spark scala data"),
      (2L, "spark data data engine")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabTopK(d, "doc_id", "text", k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // spark: 3 occurrences in 2 docs; data: 3 in 2; then engine/scala (1 in 1) — tie
    // at the k boundary breaks by token asc => "engine"
    assert(out.toSeq == Seq(("data", 3L, 2L), ("spark", 3L, 2L), ("engine", 1L, 1L)))
  }

  test("vocab top-k approx doc-frequency: same results at small cardinality, " +
    "no Expand-based distinct in the plan") {
    val d = (1L to 200L)
      .map(i => (i, s"common token${i % 7} tail$i")).toDF("doc_id", "text")
    val exact = TextAnalysis.vocabTopK(d, "doc_id", "text", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val approx = TextAnalysis.vocabTopK(d, "doc_id", "text", k = 10,
        exactDocFreq = false)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // the ranking key (token, n_total) is exact in both variants; only
    // n_docs is sketched, within HLL++'s default 5% relative error
    assert(approx.map(t => (t._1, t._2)).toSeq == exact.map(t => (t._1, t._2)).toSeq)
    exact.zip(approx).foreach { case ((tok, _, ed), (_, _, ad)) =>
      assert(math.abs(ad - ed) <= math.max(2L, (ed * 0.1).toLong),
        s"$tok: approx n_docs $ad vs exact $ed")
    }
    // the point of the variant: the exact plan carries one row per
    // DISTINCT (token, id) pair into its first aggregate level — the
    // sketch plan must aggregate by token only, with no distinct pass
    val exactPlan = TextAnalysis.vocabTopK(d, "doc_id", "text", k = 10)
      .queryExecution.executedPlan.toString
    val approxPlan = TextAnalysis.vocabTopK(d, "doc_id", "text", k = 10,
        exactDocFreq = false)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("count(distinct"))
    assert("keys=\\[token#\\d+, id#".r.findFirstIn(exactPlan).isDefined)
    assert(approxPlan.contains("approx_count_distinct"))
    assert(!approxPlan.contains("count(distinct"))
    assert("keys=\\[token#\\d+, id#".r.findFirstIn(approxPlan).isEmpty)
  }

  test("quality select: exact per-source budget, best-first, deterministic ties") {
    // 30 docs across 2 sources; src A has 10 IDENTICAL texts (one score
    // bucket — the tie-split stress), src B a quality gradient
    val a = (1L to 10L).map(i => (i, "A", "the quick brown fox jumps over the lazy dog again"))
    val b = (11L to 30L).map { i =>
      val good = "the quick brown fox jumps over the lazy dog and runs to town"
      val junk = Seq.fill((i - 10).toInt)("zxqj01").mkString(" ")
      (i, "B", if (i % 2 == 0) good else junk)
    }
    val df = (a ++ b).toDF("doc_id", "source", "text")
    val out = TextAnalysis.qualitySelect(df, "doc_id", "text", "source",
        keepNum = 1L, keepDen = 3L) // keep ceil(n/3) per source
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    // hard budget: ceil(10/3)=4 for A, ceil(20/3)=7 for B — exactly
    assert(out.count(t => t._2 == "A" && t._4) == 4)
    assert(out.count(t => t._2 == "B" && t._4) == 7)
    // A is one all-tied score bucket: the 4 lowest doc_ids win
    assert(out.filter(t => t._2 == "A" && t._4).map(_._1).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // best-first: within a source no dropped doc outscores a kept one
    Seq("A", "B").foreach { s =>
      val kept = out.filter(t => t._2 == s && t._4).map(_._3)
      val dropped = out.filter(t => t._2 == s && !t._4).map(_._3)
      if (kept.nonEmpty && dropped.nonEmpty) assert(kept.min >= dropped.max)
    }
  }

  test("gopher filter: each rule trips on its own pathology, clean text keeps") {
    val tok200 = (1 to 200).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, "the quick brown fox and a dog of the hill went to town and " +
        "sat by the road to watch the sun go down over a quiet field"), // clean
      (2L, "too short a text"), // word count below min
      (3L, tok200 + " the a of and to the a of and to"), // word count above max
      (4L, "the a of and to " + Seq.fill(20)("abcdefghijklmnopqrstuvwxyz")
        .mkString(" ")), // mean word length above max
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"), // no stopwords
      (6L, "the 1 a 2 of 3 and 4 to 5 " + Seq.fill(18)("1234 56789")
        .mkString(" ")) // alphabetic fraction below min
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilterOnto(d, $"text")
      .select($"doc_id", $"r_len_ok", $"r_mwl_ok", $"r_sw_ok", $"r_alpha_ok", $"keep")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5))).toMap
    assert(out(1L) == ((true, true, true, true, true)))
    assert(!out(2L)._1 && !out(2L)._5)
    assert(!out(3L)._1 && !out(3L)._5)
    assert(!out(4L)._2 && !out(4L)._5)
    assert(!out(5L)._3 && !out(5L)._5)
    assert(!out(6L)._4 && !out(6L)._5)
  }

  test("repetition metrics: degenerate repetition scores high, varied text low") {
    val d = Seq(
      (1L, "spam spam spam spam spam"), // one token repeated 5x
      (2L, "every word here is completely different"),
      (3L, "ab ab cd ab ab cd"), // repeated bigrams
      (4L, "solo")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionMetrics(d, "doc_id", "text")
      .orderBy($"id").collect()
    // doc 1: 5 tokens, 1 distinct => dup 0.8, top 1.0; bigrams all "spam spam"
    assert(out(0).getLong(1) == 5L)
    assert(out(0).getDouble(2) == 0.8 && out(0).getDouble(3) == 1.0)
    assert(out(0).getDouble(4) == 0.75) // 4 bigrams, 1 distinct
    // doc 2: all distinct
    assert(out(1).getDouble(2) == 0.0 && out(1).getDouble(4) == 0.0)
    // doc 3: 6 tokens {ab:4, cd:2}; bigrams: 5 total, distinct {ab ab, ab cd, cd ab} = 3
    assert(out(2).getDouble(3) == round6(4.0 / 6.0))
    assert(out(2).getDouble(4) == round6(1.0 - 3.0 / 5.0))
    // doc 4: single token => no bigrams => NULL fraction
    assert(out(3).getLong(1) == 1L && out(3).isNullAt(4))
  }

  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  test("contamination: overlap counted against the eval shingle set") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // shares a 3-run with eval
      (2L, "totally unrelated words here now folks"),
      (3L, "alpha beta gamma delta something else")).toDF("doc_id", "text")
    val evalSet = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val out = Dedup.contaminationCheck(corpus, evalSet, "doc_id", "text")
      .orderBy($"id")
      .select($"id", $"n_shingles", $"n_contaminated", $"contamination").collect()
    // eval shingles: {alpha beta gamma, beta gamma delta}
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 4L, 2L), (2L, 4L, 0L), (3L, 4L, 2L)))
    assert(out(0).getDouble(3) == 0.5 && out(1).getDouble(3) == 0.0)
  }

  test("near-dup clusters: edge-free docs stay singletons (vertex-restricted loop)") {
    val ids = (1L to 50L).toDF("id")
    val pairs = Seq((3L, 7L), (7L, 9L), (20L, 21L)).toDF("id_a", "id_b")
    val byId = Dedup.nearDupClusters(ids.select($"id"), pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(byId(3L) == ((3L, true)) && byId(7L) == ((3L, false)) && byId(9L) == ((3L, false)))
    assert(byId(20L) == ((20L, true)) && byId(21L) == ((20L, false)))
    // every edge-free doc is its own canonical singleton
    val others = (1L to 50L).toSet -- Set(3L, 7L, 9L, 20L, 21L)
    assert(others.forall(i => byId(i) == ((i, true))))
  }

  test("priority sample: deterministic top-k, estimator = max(w, tau), " +
    "estimator total tracks true byte mass") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run() = Sampling.prioritySample(docs, col("doc_id"), col("n_chars"),
      k = 50, salt = "prio1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getLong(4))).sortBy(_._4)
    val a = run()
    assert(a.toSeq == run().toSeq) // hash-decided: repeatable exactly
    assert(a.map(_._4).toSeq == (1 to 50)) // contiguous ranks
    val tau = a.map(t => t._5 - math.max(t._2 - t._5, 0)).head // est>=w
    assert(a.forall(t => t._5 >= t._2), s"est >= w everywhere; tau=$tau")
    // unbiasedness in expectation; this single deterministic draw must
    // land within a loose factor of the true total
    val trueTotal = docs.agg(sum(col("n_chars"))).collect()(0).getLong(0)
    val estTotal = a.map(_._5).sum
    assert(estTotal > trueTotal / 3 && estTotal < trueTotal * 3,
      s"estimator $estTotal vs true $trueTotal")
    // the global rank-filter prunes per partition before the final sort
    val plan = Sampling.prioritySample(docs, col("doc_id"), col("n_chars"),
      k = 50, salt = "prio1").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must run as a distributed limit, not a global sort:\n$plan")
  }

  test("per-stratum priority sample: exact k per big stratum, all rows + " +
    "tau=0 for small strata, WindowGroupLimit plan") {
    val s2 = spark; import s2.implicits._
    // stratum A: 30 rows (> k); stratum B: 3 rows (< k)
    val rows = (1 to 30).map(i => (i.toLong, "A", (i * 7 % 13 + 1).toLong) ) ++
      Seq((101L, "B", 5L), (102L, "B", 9L), (103L, "B", 2L))
    val df = rows.toDF("doc_id", "src", "n")
    val got = Sampling.prioritySamplePerStratum(df, col("doc_id"),
        col("src"), col("n"), k = 10, salt = "ps1")
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2),
        r.getInt(4), r.getLong(5)))
    val byStratum = got.groupBy(_._1)
    assert(byStratum("A").length == 10 &&
      byStratum("A").map(_._4).sorted.toSeq == (1 to 10))
    // under-full stratum: every row kept, tau = 0 -> est_w == w exactly
    assert(byStratum("B").length == 3)
    byStratum("B").foreach { case (_, _, w, _, est) => assert(est == w) }
    // over-full stratum: estimator never below the raw weight
    byStratum("A").foreach { case (_, _, w, _, est) => assert(est >= w) }
    // per-stratum top-k must pre-trim per task (WindowGroupLimit)
    val plan = Sampling.prioritySamplePerStratum(df, col("doc_id"),
      col("src"), col("n"), 10, "ps1").queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-stratum rank must pre-trim map-side:\n$plan")
  }
}
