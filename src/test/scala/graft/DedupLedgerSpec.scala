package graft

import graft.functions.Dedup
import org.scalatest.matchers.should.Matchers

/** Cross-run dedup ledger: persisted fingerprint history, bucketed on
  * the join key so incremental ingests never reshuffle history.
  */
class DedupLedgerSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("ledger").toString

  test("ledger lifecycle: history dedup, in-batch dedup, idempotent re-ingest") {
    val table = "led_t1"
    try {
      val corpusA = Seq(
        (1L, "alpha text body one"), (2L, "beta text body two"),
        (3L, "gamma text body three"), (4L, "alpha text body one")
      ).toDF("doc_id", "text")
      Dedup.writeDedupLedger(corpusA, "text", table, freshDir(), buckets = 4)
      spark.table(table).count() shouldBe 3L   // dup fp stored once

      val batchB = Seq(
        (10L, "alpha text body one"),     // already in history → dropped
        (11L, "delta fresh text"),        // canonical of the in-batch pair
        (12L, "delta fresh text"),        // in-batch dup → dropped
        (13L, "epsilon fresh text")       // fresh
      ).toDF("doc_id", "text")
      val fresh = Dedup.dedupAgainstLedger(batchB, "doc_id", "text", table)
      fresh.select($"doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(11L, 13L)
      spark.table(table).count() shouldBe 5L   // ledger grew by the survivors

      // idempotence: the same batch again yields nothing and adds nothing
      val again = Dedup.dedupAgainstLedger(batchB, "doc_id", "text", table)
      again.count() shouldBe 0L
      spark.table(table).count() shouldBe 5L
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("compaction: 5 appends -> one file per bucket, same plan, same answers") {
    val table = "led_t3"
    try {
      val base = (1L to 50L).map(i => (i, s"seed doc $i")).toDF("doc_id", "text")
      Dedup.writeDedupLedger(base, "text", table, freshDir(), buckets = 4)
      // five daily ingests, each appending a file-set into every bucket
      (0 until 5).foreach { day =>
        val batch = (1L to 20L)
          .map(i => (1000L * (day + 1) + i, s"day $day doc $i"))
          .toDF("doc_id", "text")
        Dedup.dedupAgainstLedger(batch, "doc_id", "text", table).count()
      }
      val fpsBefore = spark.table(table).collect().map(_.getString(0)).sorted
      fpsBefore.length shouldBe (50 + 5 * 20)

      val (before, after) = Dedup.compactLedger(spark, table, freshDir())
      assert(before > 4 && after == 4,
        s"expected 4 post-compaction files (one per bucket), got $before -> $after")

      // same answers: identical fingerprint set...
      spark.table(table).collect().map(_.getString(0)).sorted shouldBe fpsBefore
      // ...same bucket spec in the catalog...
      val spec = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).bucketSpec
      spec.map(_.numBuckets) shouldBe Some(4)
      spec.map(_.bucketColumnNames) shouldBe Some(Seq("fingerprint"))
      // ...and the ingest plan is still Exchange-free on the history side
      val batch = (1L to 10L).map(i => (9000L + i, s"day 2 doc $i"))
        .toDF("doc_id", "text")
      val withFp = batch.withColumn("fingerprint",
        graft.functions.TextAnalysis.fingerprint($"text"))
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val plan = try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val anti = withFp.join(spark.table(table), Seq("fingerprint"), "left_anti")
        anti.collect()
        anti.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      assert(plan.linesIterator.count(_.contains("+- Exchange ")) == 1, plan)
      assert(plan.contains("Bucketed: true"), plan)
      // and a re-ingest of day-2 content still dedups to nothing
      Dedup.dedupAgainstLedger(batch, "doc_id", "text", table).count() shouldBe 0L
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__compacting")
    }
  }

  test("ingest shuffles only the batch: ledger side reads bucketed, no Exchange") {
    val table = "led_t2"
    try {
      val corpusA = (1L to 200L).map(i => (i, s"history doc $i"))
        .toDF("doc_id", "text")
      Dedup.writeDedupLedger(corpusA, "text", table, freshDir(), buckets = 4)
      val batch = (1000L to 1040L).map(i => (i, s"new doc $i"))
        .toDF("doc_id", "text")
      val withFp = batch.withColumn("fingerprint",
        graft.functions.TextAnalysis.fingerprint($"text"))
      // at real scale the ledger is far past any broadcast threshold;
      // force that regime so the plan under test is the bucketed SMJ
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val plan = try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val anti = withFp.join(spark.table(table), Seq("fingerprint"), "left_anti")
        anti.collect()
        anti.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      val exchanges = plan.linesIterator.count(_.contains("+- Exchange "))
      assert(exchanges == 1, s"expected only the batch-side Exchange:\n$plan")
      assert(plan.contains("Bucketed: true"), s"ledger scan not bucketed:\n$plan")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
