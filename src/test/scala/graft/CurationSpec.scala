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

  test("gateStats rollup matches per-row verdicts") {
    val docs = Seq(
      (1L, goodText), (2L, goodText), (3L, "too short a text")
    ).toDF("doc_id", "text")
    val curated = Curation.curate(docs, "doc_id", "text",
      minQualityMicro = 700000L, maxPii = 0L)
    val s = Curation.gateStats(curated).head()
    assert(s.getAs[Long]("n_docs") == 3L)
    assert(s.getAs[Long]("killed_dedup") == 1L)
    assert(s.getAs[Long]("killed_gopher") == 1L)
    assert(s.getAs[Long]("killed_pii") == 0L)
    assert(s.getAs[Long]("n_kept") == 1L)
  }

  test("streaming curation emits exactly the batch survivors (id-ordered arrival)") {
    val docs = Seq(
      (1L, goodText),
      (2L, goodText),                       // dup: dropped by first-seen
      (3L, "too short a text"),             // gopher kill
      (4L, goodText + " mail me at someone@example.com please today ok"),
      (5L, goodText.replace("river", "harbor")) // distinct clean doc: kept
    )
    val dir = java.nio.file.Files.createTempDirectory("stream_cur").toString
    docs.toDF("doc_id", "text").repartition(1)
      .sortWithinPartitions($"doc_id") // arrival order = id order
      .write.mode("overwrite").parquet(dir)
    val schema = docs.toDF("doc_id", "text").schema
    val out = Curation.curateStream(
      spark.readStream.schema(schema).parquet(dir), "doc_id", "text",
      minQualityMicro = 700000L, maxPii = 0L)
    // one step: the corpus is already in place
    val streamed = runMemorySink(out)(() => ()).map(_.getAs[Long]("doc_id")).toSet
    val batch = Curation.curate(docs.toDF("doc_id", "text"), "doc_id", "text",
        minQualityMicro = 700000L, maxPii = 0L)
      .filter($"keep").select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    assert(batch == Set(1L, 5L))
  }

  test("writeTrainingShards: curated corpus lands as bucketed fixed-length sequences") {
    import org.apache.spark.sql.functions._
    // 3 clean docs (one a dup, killed) → enough tokens for several
    // 16-token sequences; the junk/PII docs must not reach the shards
    val docs = Seq(
      (1L, goodText),
      (2L, goodText),                       // dup of 1: dropped
      (3L, goodText.replace("river", "harbor")),
      (4L, "too short a text"),             // gopher kill
      (5L, goodText + " mail me at someone@example.com please today ok")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("shards").toString
    val n = graft.pipeline.Curation.writeTrainingShards(
      docs, "doc_id", "text", "train_shards", path,
      seqLen = 16, nBuckets = 4, seqsPerShard = 2, tableBuckets = 4,
      minQualityMicro = 700000L, maxPii = 0L)
    try {
      val back = spark.table("train_shards")
      assert(back.count() == n && n > 0)
      // survivors are docs 1 and 3 only: total tokens = 2 × |goodText|
      val totalTokens = back.agg(sum(org.apache.spark.sql.functions.size($"tokens"))).head().getLong(0)
      val expected = 2L * goodText.trim.split("\\s+").length
      assert(totalTokens == expected, s"shards carry $totalTokens of $expected tokens")
      // every sequence is exactly seqLen except the single global tail
      val lens = back.select(org.apache.spark.sql.functions.size($"tokens").as("n")).collect().map(_.getInt(0))
      assert(lens.count(_ != 16) <= 1 && lens.forall(_ <= 16))
      // shard ids tile seq_ids in order: shard == seq_id / seqsPerShard
      assert(back.filter($"shard" =!= ($"seq_id" / 2).cast("long")).isEmpty)
      // the at-rest layout is the bucketed table writeBucketed promises
      val cat = spark.sql("DESCRIBE TABLE EXTENDED train_shards")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(cat.get("Num Buckets").exists(_.trim == "4"), cat)
      assert(cat.get("Bucket Columns").exists(_.contains("shard")), cat)
    } finally spark.sql("DROP TABLE IF EXISTS train_shards")
  }

  test("writeTrainingShards with a BPE vocab emits integer token ids") {
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, goodText), (3L, goodText.replace("river", "harbor")))
      .toDF("doc_id", "text")
    val vocab = graft.functions.Bpe.learn(docs, "text", nMerges = 20)
    val path = java.nio.file.Files.createTempDirectory("shards_bpe").toString
    val n = graft.pipeline.Curation.writeTrainingShards(
      docs, "doc_id", "text", "train_shards_bpe", path,
      seqLen = 16, nBuckets = 4, seqsPerShard = 2, tableBuckets = 4,
      minQualityMicro = 700000L, maxPii = 0L, bpeVocab = Some(vocab))
    try {
      val back = spark.table("train_shards_bpe")
      assert(back.count() == n && n > 0)
      // the token column is integer ids now, not words (parquet reads
      // list elements back as optional, so only the element type is
      // asserted)
      assert(back.schema("tokens").dataType.asInstanceOf[
        org.apache.spark.sql.types.ArrayType].elementType ==
        org.apache.spark.sql.types.IntegerType)
      // total ids across shards == total ids of the two docs' encodes
      // (packing reorders/splits but never drops or fabricates tokens)
      val totalIds = back.agg(sum(org.apache.spark.sql.functions.size($"tokens")))
        .head().getLong(0)
      val direct = docs.select(org.apache.spark.sql.functions.size(
          graft.functions.Bpe.encode(
            graft.functions.TextAnalysis.normalized($"text"), vocab)).as("n"))
        .agg(sum($"n")).head().getLong(0)
      assert(totalIds == direct, s"shards carry $totalIds of $direct ids")
      // the learned alphabet covers the corpus: no <unk> in the shards
      assert(back.filter(array_contains($"tokens", 0)).isEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS train_shards_bpe")
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
