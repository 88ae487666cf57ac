package graft

import graft.functions.Dsir
import org.scalatest.matchers.should.Matchers

/** DSIR importance resampling (Xie et al. 2023): hashed-n-gram
  * importance weights of target vs raw, deterministic top-fraction
  * selection from the raw pool.
  */
class DsirSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val docs = Seq(
    // target slice: about cats
    (1L, "cat sat mat", "t"),
    (2L, "cat ate fish", "t"),
    (3L, "cat cat cat", "t"),
    // raw pool: two catty docs, two about stocks
    (10L, "cat sat mat", "r"),
    (11L, "fish ate cat", "r"),
    (12L, "stock price fell", "r"),
    (13L, "price rose stock", "r")
  ).toDF("doc_id", "text", "grp")

  private def run(keepNum: Long, keepDen: Long) =
    Dsir.dsirSelect(docs, "doc_id", "text", isTarget = $"grp" === "t",
      buckets = 4096, keepNum = keepNum, keepDen = keepDen)

  test("target-like raw docs outscore off-distribution ones; budget exact") {
    val got = run(1L, 2L).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(3), r.getBoolean(4)))
      .toMap
    // budget = ceil(4 * 1/2) = 2 selected raw docs
    got.count { case (_, (_, _, sel)) => sel } shouldBe 2
    // target docs are never selected
    Seq(1L, 2L, 3L).foreach(id => got(id)._3 shouldBe false)
    // the two cat-docs outscore the two stock-docs and take the budget
    val score = (id: Long) => got(id)._2
    score(10L) should be > score(12L)
    score(11L) should be > score(13L)
    got(10L)._3 shouldBe true
    got(11L)._3 shouldBe true
    got(12L)._3 shouldBe false
    got(13L)._3 shouldBe false
  }

  test("every input doc returns exactly one row; n_feats = 2*len-1") {
    val got = run(1L, 4L).collect()
    got.length shouldBe 7
    // 3 words => 3 unigrams + 2 bigrams = 5 features
    got.map(r => r.getLong(0) -> r.getLong(2)).toMap.apply(1L) shouldBe 5L
  }

  test("selection is independent of partitioning") {
    val a = run(1L, 2L).orderBy("doc_id").collect().toSeq
    val b = Dsir.dsirSelect(docs.repartition(7, $"grp"), "doc_id", "text",
        isTarget = $"grp" === "t", buckets = 4096,
        keepNum = 1L, keepDen = 2L)
      .orderBy("doc_id").collect().toSeq
    a shouldBe b
  }

  test("keepNum = 0 selects nothing; keepDen = 1 selects the whole raw pool") {
    run(0L, 1L).filter($"selected").count() shouldBe 0L
    run(1L, 1L).filter($"selected").count() shouldBe 4L
  }
}
