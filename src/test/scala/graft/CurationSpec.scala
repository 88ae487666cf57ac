package graft

import graft.pipeline.Curation
import org.scalatest.matchers.should.Matchers

/** End-to-end curation chain: a synthetic corpus where EVERY gate
  * fires (the testdata corpus has no exact dups or PII, so the declared
  * query exercises dedup_ok/pii_ok structurally but not behaviorally —
  * this spec pins their semantics in composition).
  */
class CurationSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val goodText = "the quick brown fox jumps over the lazy dog and " +
    "then runs back to the old stone house by the river where it sleeps " +
    "while the sun goes down over a quiet green field far away"

  test("each gate kills its own pathology; survivors pass all four") {
    val docs = Seq(
      (1L, goodText),                       // clean: kept
      (2L, goodText),                       // exact dup of 1: dedup kill
      (3L, "too short a text"),             // gopher kill (length)
      (4L, goodText + " mail me at someone@example.com please today ok"), // pii kill
      (5L, Seq.fill(30)("12345").mkString(" ")) // digit junk: quality+gopher kill
    ).toDF("doc_id", "text")
    val out = Curation.curate(docs, "doc_id", "text",
        minQualityMicro = 700000L, maxPii = 0L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

    assert(out(1L).getAs[Boolean]("keep"))
    // 2 is identical text: canonical is 1, so 2 dies to dedup ONLY
    assert(!out(2L).getAs[Boolean]("dedup_ok") && !out(2L).getAs[Boolean]("keep"))
    assert(out(2L).getAs[Boolean]("gopher_ok")) // same text, same other gates
    assert(!out(3L).getAs[Boolean]("r_len_ok") && !out(3L).getAs[Boolean]("keep"))
    assert(!out(4L).getAs[Boolean]("pii_ok") && out(4L).getAs[Long]("n_pii") == 1L)
    assert(!out(4L).getAs[Boolean]("keep"))
    assert(!out(5L).getAs[Boolean]("quality_ok") && !out(5L).getAs[Boolean]("keep"))
  }

  test("composition adds no shuffle beyond the dedup window Exchange") {
    val docs = Seq((1L, goodText)).toDF("doc_id", "text")
    val plan = Curation.curate(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // exactly one Exchange (the fingerprint window); every other gate is
    // map-side on top of it
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }
}
