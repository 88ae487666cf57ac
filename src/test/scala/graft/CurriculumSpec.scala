package graft

import graft.functions.{Curriculum, EmbAudit}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Round-11 additions beyond the verdict backlog: curriculum ordering
  * (two-phase global position), truncation-fidelity audit, and the
  * IVF index-health audit.
  */
class CurriculumSpec extends SparkSpec with Matchers {
  import spark.implicits._

  test("curriculum order: dense 0..n-1, bands contiguous easy->hard, " +
    "pure function of (salt, ids, bands) — partitioning-invariant") {
    val df = (0L until 300L).map(i => (i, (i % 4).toInt)).toDF("doc_id", "band")
    def run(d: org.apache.spark.sql.DataFrame) =
      Curriculum.order(d, col("doc_id"), col("band"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val got = run(df)
    // dense positions
    got.map(_._3).sorted.toSeq shouldBe (0L until 300L)
    // band blocks are contiguous and ordered: sort by pos, bands
    // nondecreasing with exactly 75 docs each
    val byPos = got.sortBy(_._3)
    byPos.map(_._2).toSeq shouldBe byPos.map(_._2).sorted.toSeq
    byPos.map(_._2).count(_ == 0) shouldBe 75
    // partitioning cannot move a document
    run(df.repartition(11)).toSet shouldBe got.toSet
    // within a band the order is the salted hash, not the id: the
    // easy band's ids must NOT come out id-sorted (hash shuffle)
    val band0 = byPos.filter(_._2 == 0).map(_._1).toSeq
    band0.sorted should not equal band0
  }

  test("truncation audit: exact partial-energy ratios, zero-norm rows " +
    "excluded, full width scores exactly 1e6") {
    // vector A: all energy in dim 0 -> every width scores 1e6;
    // vector B: equal energy in dims 0..31 -> width 8 = 250000,
    // 16 = 500000, 32 = 1e6; vector C: zero -> excluded
    val a = (0 until 64).map(i => if (i == 0) 1f else 0f)
    val b = (0 until 64).map(i => if (i < 32) 1f else 0f)
    val c = (0 until 64).map(_ => 0f)
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("vec_id", "embedding")
    val got = EmbAudit.truncationAudit(df, "embedding")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    got(8) shouldBe ((2L, (1000000L + 250000L) / 2, 250000L))
    got(16) shouldBe ((2L, (1000000L + 500000L) / 2, 500000L))
    got(32) shouldBe ((2L, 1000000L, 1000000L))
  }

  test("index health: occupancy sums to the corpus, lists match the " +
    "derived width, a planted mega-list shows in skew") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val ix = java.nio.file.Files.createTempDirectory("graft_health_ix").toString
    graft.functions.Similarity.writeIvfPqIndex(emb, "vec_id", "embedding",
      ix, nCoarse = 0, coarseIters = 1, m = 8, subDim = 8, nCentroids = 4,
      pqIters = 1, dim = 64)
    val h = graft.functions.Similarity.indexHealth(spark, ix).collect()(0)
    h.getAs[Long]("n_vectors") shouldBe emb.count()
    h.getAs[Long]("n_lists") shouldBe 16L // autoCoarseLists(500)
    h.getAs[Long]("lists_used") + h.getAs[Long]("lists_empty") shouldBe 16L
    h.getAs[Long]("max_list") should be >= h.getAs[Long]("mean_list")
    h.getAs[Long]("skew_ppm") should be >= 1000000L
  }
}
