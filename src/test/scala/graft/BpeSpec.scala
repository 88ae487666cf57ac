package graft

import graft.functions.{Bpe, TextAnalysis}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** BPE subword tokenizer: greedy longest-match apply (native
  * expression).
  */
class BpeSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private def enc(text: String, vocab: Bpe.Vocab): Seq[Int] =
    Seq(text).toDF("t")
      .select(Bpe.encode(col("t"), vocab).as("ids"))
      .collect()(0).getSeq[Int](0)

  test("greedy longest-match: longest piece wins, ids are 1-based vocab order") {
    // vocab: a=1 b=2 c=3 ab=4 abc=5 bc=6
    val v = Bpe.Vocab(IndexedSeq("a", "b", "c", "ab", "abc", "bc"))
    enc("abc", v) shouldBe Seq(5) // whole-word piece beats ab+c
    enc("abca", v) shouldBe Seq(5, 1)
    enc("ababc", v) shouldBe Seq(4, 5) // greedy: ab, then abc
    enc("cab", v) shouldBe Seq(3, 4)
    enc("bcb", v) shouldBe Seq(6, 2)
  }

  test("words segment independently; spaces emit nothing; empty text is empty") {
    val v = Bpe.Vocab(IndexedSeq("a", "b", "ab"))
    enc("ab ab", v) shouldBe Seq(3, 3)
    enc("a b", v) shouldBe Seq(1, 2)
    // a piece can never straddle the space: "a b" is not "ab"
    enc("", v) shouldBe Seq.empty
    enc("   ", v) shouldBe Seq.empty // normalized input wouldn't have these, but safe
  }

  test("unknown characters emit id 0 and advance one char") {
    val v = Bpe.Vocab(IndexedSeq("a", "b"))
    enc("axb", v) shouldBe Seq(1, 0, 2)
    enc("xyz", v) shouldBe Seq(0, 0, 0)
  }

  test("encode is map-side: the projection plans with zero Exchanges") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        Bpe.encode(TextAnalysis.normalized(col("text")), Bpe.demoVocab).as("ids"))
    val exchanges = df.queryExecution.executedPlan.collect { case e: Exchange => e }
    exchanges shouldBe empty
    // and the ids are real: every doc tokenizes to at least one id
    df.filter(org.apache.spark.sql.functions.size(col("ids")) === 0)
      .count() shouldBe 0L
  }
}
