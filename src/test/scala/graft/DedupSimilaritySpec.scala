package graft

import graft.functions.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Training-data operators: dedup family + similarity search. */
class DedupSimilaritySpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The quick  brown fox jumps over the lazy dog"), // exact dup after normalize
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup (1 word)
    (4L, "completely different text about spark engines and scala"),
    (5L, "hi")).toDF("doc_id", "text")

  test("normalize + fingerprint: case/whitespace-insensitive md5") {
    val fp = docs.select(TextAnalysis.fingerprint($"text").as("f")).collect().map(_.getString(0))
    assert(fp(0) == fp(1) && fp(0) != fp(2))
  }

  test("exact dedup: groups, canonical id, duplicate marking") {
    val out = Dedup.exact(docs, "doc_id", "text").orderBy($"doc_id")
      .select($"doc_id", $"canonical_id", $"group_size", $"is_duplicate").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq ==
      Seq((1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 3L, 1L, false),
        (4L, 4L, 1L, false), (5L, 5L, 1L, false)))
  }

  test("shingles: distinct 3-word windows; short docs => empty") {
    val sh = docs.select($"doc_id", Dedup.shingles($"text").as("sh")).orderBy($"doc_id").collect()
    assert(sh(0).getSeq[String](1).head == "the quick brown")
    assert(sh(0).getSeq[String](1).length == 7)
    assert(sh(4).getSeq[String](1).isEmpty) // "hi" has < 3 words
  }

  test("ngram jaccard pairs: dup and near-dup pairs found, unrelated not") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", tau = 0.3)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical => J=1
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // 4/10 shared
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram df cap: boilerplate-driven pairs removed, genuine near-dups kept") {
    // every doc carries the same boilerplate tail — the skew shape that
    // makes the shingle self-join quadratic at corpus scale. Because the
    // boilerplate is in BOTH docs of every pair, dropping it can only
    // LOWER jaccard ((co-1)/(u-1) <= co/u), so capped pairs are a subset
    // of uncapped pairs here.
    val boiler = "please subscribe to our newsletter for updates today"
    val base = (1 to 24).map(i =>
      (i.toLong, s"unique document number $i talks about topic ${i * 7} extensively " + boiler))
    val corpus = (base
      :+ (100L, "the quick brown fox jumps over the lazy dog " + boiler)
      :+ (101L, "the quick brown fox jumps over the sleepy dog " + boiler))
      .toDF("doc_id", "text")
    def pairs(cap: Long): Set[(Long, Long)] =
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", tau = 0.2, maxShingleDf = cap)
        .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(Long.MaxValue)
    val capped = pairs(10L)
    assert(capped.subsetOf(uncapped))
    assert(capped.contains((100L, 101L))) // real near-dup survives the cap
    // uncapped drowns in boilerplate-only pairs (every base-doc pair
    // shares the tail); the cap removes exactly those
    assert(uncapped.size > 100 && capped == Set((100L, 101L)))
  }

  test("minhash bands: exact dups share all bands; near-dups some; unrelated none") {
    val bands = Dedup.minhashBands(docs, "doc_id", "text")
    val byDoc = bands.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSet).toMap
    assert(byDoc(1L) == byDoc(2L)) // identical signature
    assert((byDoc(1L) intersect byDoc(4L)).isEmpty)
  }

  test("minhash near-dup pairs: candidates verified with exact jaccard") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", tau = 0.9)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L))) // only the exact dup survives tau=0.9
  }

  test("minhash estimate calibration: exact dups estimate 1.0; est in [0,k]; " +
    "errors bounded") {
    val out = Dedup.minhashEstimatePairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("est_matches"), r.getAs[Long]("est_micro"),
          r.getAs[Long]("jaccard_micro"), r.getAs[Long]("err_micro"))).toMap
    // exact duplicate pair: identical shingle sets => identical signature
    // AND exact jaccard 1 => zero error
    assert(out((1L, 2L)) == ((16L, 1000000L, 1000000L, 0L)))
    out.values.foreach { case (m, em, jm, err) =>
      assert(m >= 0L && m <= 16L)
      assert(em >= 0L && em <= 1000000L && jm >= 0L && jm <= 1000000L)
      assert(err == em - jm)
    }
    // every verified near-dup pair appears among the calibration pairs
    // (same band candidates, no tau cut here)
    val verified = Dedup.minhashNearDupPairs(docs, "doc_id", "text", tau = 0.9)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(out.keySet))
  }

  test("near-dup clusters: connected components with min-id canonical") {
    // chain 1-2, 2-3 (one component through transitivity), pair 10-11,
    // singletons 20, 21 — exercises multi-hop propagation
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(ids, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got == Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false),
      10L -> (10L, true), 11L -> (10L, false),
      20L -> (20L, true), 21L -> (21L, true)))
    // a longer path needs more propagation rounds — still exact
    val chain = (1L to 9L).toDF("id")
    val chainPairs = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labs = Dedup.nearDupClusters(chain, chainPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labs.values.toSet == Set(1L) && labs.size == 9)
  }

  test("near-dup clusters: reliable-checkpoint mode matches the local default") {
    // the fault-tolerant cluster path: checkpointDir set => rounds write
    // reliable checkpoints (recoverable after executor loss) instead of
    // executor-stored localCheckpoint blocks; labels must be identical
    val ckDir = java.nio.file.Files.createTempDirectory("graft_cc_ck").toString
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val local = Dedup.nearDupClusters(ids, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // Reliable mode must not create ANY localCheckpoint (= persisted,
    // executor-block-backed) RDDs — edges, labels seed, and rounds all go
    // through the reliable path, else an executor loss at that step is
    // unrecoverable despite checkpointDir being set.
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val reliable = Dedup.nearDupClusters(ids, pairs, checkpointDir = Some(ckDir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val persistedNew = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(persistedNew.isEmpty,
      s"reliable mode left localCheckpoint/persisted RDDs behind: $persistedNew")
    assert(reliable == local)
    // and the checkpoint actually landed in the requested directory
    val wrote = new java.io.File(ckDir).listFiles()
    assert(wrote != null && wrote.nonEmpty, s"no reliable checkpoint written under $ckDir")
  }

  test("persisted PQ index: search-from-disk equals in-query training bit for bit") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val ix = java.nio.file.Files.createTempDirectory("graft_pq_ix").toString
    graft.functions.Similarity.writePqIndex(emb, "vec_id", "embedding", ix,
      m = 8, subDim = 8, nCentroids = 4, iters = 1)
    val fromDisk = graft.functions.Similarity
      .searchPqIndex(spark, ix, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val inQuery = graft.functions.Similarity
      .pqTopK(emb, queries, "vec_id", "embedding", k = 5,
        m = 8, subDim = 8, nCentroids = 4, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(fromDisk == inQuery)
    // the index really is the compact artifact: codes + codebooks on disk
    assert(new java.io.File(s"$ix/codes").exists() &&
      new java.io.File(s"$ix/codebooks").exists())
    // rerank served from the same index == the train-in-query rerank
    val rerankDisk = graft.functions.Similarity
      .rerankPqIndex(spark, ix, emb, queries, "vec_id", "embedding",
        k = 5, candK = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val rerankQuery = graft.functions.Similarity
      .pqRerankTopK(emb, queries, "vec_id", "embedding", k = 5, candK = 20,
        m = 8, subDim = 8, nCentroids = 4, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(rerankDisk == rerankQuery)
  }

  test("persisted IVF-PQ index: search-from-disk equals in-query training bit for bit") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val ix = java.nio.file.Files.createTempDirectory("graft_ivfpq_ix").toString
    graft.functions.Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", ix,
      nCoarse = 4, coarseIters = 1, m = 8, subDim = 8, nCentroids = 4,
      pqIters = 1, dim = 64)
    val fromDisk = graft.functions.Similarity
      .searchIvfPqIndex(spark, ix, queries, "vec_id", "embedding", k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val inQuery = graft.functions.Similarity
      .ivfPqTopK(emb, queries, "vec_id", "embedding", k = 5,
        nCoarse = 4, coarseIters = 1, m = 8, subDim = 8, nCentroids = 4,
        pqIters = 1, nProbe = 2, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(fromDisk == inQuery)
  }

  test("cross-corpus near-dups: incoming vs reference only, no self-join pairs") {
    val ref = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (12L, "unrelated reference content about spark engines today")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "The quick  brown fox jumps over the lazy dog"), // dup of ref 10
      (3L, "the quick brown fox jumps over the lazy dog extended slightly"),
      (5L, "totally novel text with no reference match at all")).toDF("doc_id", "text")
    val pairs = Dedup.crossNearDupPairs(incoming, ref, "doc_id", "text", tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 10L))) // exact dup shares every band
    assert(pairs.find(p => p._1 == 1L && p._2 == 10L).get._3 == 1.0)
    assert(!ids.exists(_._1 == 5L)) // novel doc matches nothing
    // direction is strictly new->ref: no ref ids on the left side
    assert(ids.forall { case (a, b) => Set(1L, 3L, 5L)(a) && Set(10L, 12L)(b) })
  }

  test("simhash: identical texts equal; near-dups hamming-close; unrelated far") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val h = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L))
    assert(hamming(h(1L), h(3L)) < hamming(h(1L), h(4L)))
  }

  test("cosine brute-force top-k: orthogonal/parallel toy vectors") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 1L)
    val top = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 2)
      .orderBy($"rank").select($"match_id").collect().map(_.getLong(0)).toSeq
    assert(top == Seq(2L, 3L))
  }

  test("lsh bucketed top-k: decent recall vs brute force on real embeddings") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val q = real.filter($"vec_id" % 100 === 0)
    // three planted near-copies of each query vector (±2e-4 per
    // dimension): the neighbors an LSH index exists to find, which at
    // 12 planes share the query's bucket
    val copies = (1 to 3).map { j =>
      q.select(($"vec_id" * 10 + 1000000 + j).as("vec_id"),
        transform($"embedding", (x, i) => (x + ((i * 7 + j) % 5 - 2) * 1e-4).cast("float"))
          .as("embedding"))
    }
    val emb = copies.foldLeft(real)(_ union _)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      .select($"query_id", $"match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, q, "vec_id", "embedding", 10)
      .select($"query_id", $"match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucket = emb.select($"vec_id", Similarity.lshBucket($"embedding").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // candidates come only from the query's own bucket, and every exact
    // neighbor that shares it is found
    assert(approx.forall { case (qi, m) => bucket(qi) == bucket(m) })
    val inBucket = exact.filter { case (qi, m) => bucket(qi) == bucket(m) }
    assert(inBucket.subsetOf(approx), s"missed ${inBucket -- approx}")
    val recall = (exact intersect approx).size.toDouble / exact.size
    recall should be >= 0.2 // the 3 planted copies of each query's top 10
  }

  test("ivf top-k: probing more centroid lists improves recall vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" % 100 === 0)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      .select($"query_id", $"match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nProbe: Int): Double = {
      val approx = Similarity.ivfTopKTrained(emb, q, "vec_id", "embedding", 10,
        nCentroids = 8, iters = 3, nProbe = nProbe)
        .select($"query_id", $"match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val r1 = recallAt(1)
    val rAll = recallAt(8) // probe every list => brute force => full recall
    assert(rAll == 1.0, s"full-probe recall $rAll should be exact")
    assert(r1 > 0.0 && r1 <= rAll, s"recall@1=$r1 should be within (0, $rAll]")
  }

  test("trained IVF quantizer: deterministic, and recall not worse than seed centroids") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" % 100 === 0)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      .select($"query_id", $"match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val approx = df.select($"query_id", $"match_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val c1 = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", k = 8, iters = 3)
    val c2 = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", k = 8, iters = 3)
    assert(c1.toSeq == c2.toSeq) // deterministic seeding + assignment
    val trained = recall(Similarity.ivfTopKTrained(emb, q, "vec_id", "embedding", 10,
      nCentroids = 8, iters = 3, nProbe = 2))
    assert(trained > 0.0 && trained <= 1.0)
  }

  test("cosine near-dup pairs: maxBucketSize cap bounds a stuffed bucket") {
    // degenerate corpus: 40 near-identical vectors (failed-encoder shape)
    // all collapse into ONE lsh bucket + 4 genuinely distinct vectors in
    // other buckets. Uncapped, the stuffed bucket alone yields
    // 40*39/2 = 780 candidate pairs; the cap drops the whole bucket.
    val stuffed = (1L to 40L).map(i =>
      (i, Array.tabulate(8)(d => 1.0f + (i % 3) * 1e-6f + d * 0f)))
    val distinct = Seq(
      (100L, Array(1f, -1f, 1f, -1f, 1f, -1f, 1f, -1f)),
      (101L, Array(1f, -1f, 1f, -1f, 1f, -1f, 1f, -0.9f)), // near-dup of 100
      (102L, Array(-1f, 1f, -1f, 1f, -1f, 1f, -1f, 1f)),
      (103L, Array(-1f, 1f, -1f, 1f, -1f, 1f, -1f, 0.9f))) // near-dup of 102
    val df = (stuffed ++ distinct).toDF("vec_id", "embedding")
    def pairs(cap: Long) =
      Similarity.cosineNearDupPairs(df, "vec_id", "embedding", tau = 0.9,
        nPlanes = 4, dim = 8, maxBucketSize = cap)
        .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(Long.MaxValue)
    val capped = pairs(10L)
    assert(uncapped.size >= 780) // the stuffed bucket went quadratic
    assert(capped.subsetOf(uncapped))
    // cap removes exactly the stuffed bucket's pairs; real near-dups in
    // small buckets survive
    assert(capped.contains((100L, 101L)) && capped.contains((102L, 103L)))
    assert(!capped.exists { case (a, b) => a <= 40L || b <= 40L })
  }

  test("semantic dedup: lowest id represents each near-dup group; " +
    "overflowing clusters skip pair generation") {
    // two tight near-dup groups + two singletons, in opposite half-spaces
    // so the trained quantizer separates them
    def v(base: Array[Float], eps: Float) = base.map(_ + eps)
    val g1 = Array(1f, 1f, 1f, 1f, 0f, 0f, 0f, 0f)
    val g2 = Array(-1f, -1f, -1f, -1f, 0f, 0f, 0f, 0f)
    val df = Seq(
      (1L, v(g1, 0f)), (2L, v(g1, 1e-4f)), (3L, v(g1, 2e-4f)), // group: keep 1
      (10L, v(g2, 0f)), (11L, v(g2, 1e-4f)),                   // group: keep 10
      (20L, Array(0f, 0f, 0f, 0f, 1f, -1f, 1f, -1f)),          // singletons
      (21L, Array(0f, 0f, 0f, 0f, -1f, 1f, -1f, 1f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, "vec_id", "embedding",
        tau = 0.99, nCentroids = 4, iters = 2, dim = 8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.size == 7)
    assert(out.filter(_._2).keySet == Set(1L, 10L, 20L, 21L))

    // a cluster over the cap contributes no pairs: everything stays kept
    val capped = Similarity.semanticDedup(df, "vec_id", "embedding",
        tau = 0.99, nCentroids = 1, iters = 1, dim = 8, maxClusterSize = 3L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(capped.size == 7 && capped.values.forall(identity))
  }

  test("native array exprs: null elements match oracle NULL semantics") {
    // parquet list slots are nullable; a null element must behave like
    // the oracle's explicit a[i]*b[i] sum (whole sum NULL), not read
    // garbage from the slot: cosine => NULL, lsh bucket => 0 (every
    // `NULL > 0` bit false), nearest centroid => 0 (NULLs sort last)
    val rows = Seq(
      (1L, Seq[java.lang.Float](1f, 2f, 3f, 4f)),
      (2L, Seq[java.lang.Float](1f, null, 3f, 4f))).toDF("id", "emb")
    val cos = rows.select(Similarity.cosine($"emb", $"emb")).collect()
    assert(math.abs(cos(0).getDouble(0) - 1.0) < 1e-12 && cos(1).isNullAt(0))
    val bk = rows.select(Similarity.lshBucket($"emb", nPlanes = 4, dim = 4)).collect()
    assert(bk(1).getLong(0) == 0L && bk(0).getLong(0) != 0L)
    import org.apache.spark.sql.GraftExpressionBridge.{column => exprCol, expression => colExpr}
    val cents = Array(0.0, 0.0, 0.0, 1.0, 1.0, 2.0, 3.0, 4.0)
    val nc = rows.select(exprCol(graft.functions.NearestCentroidExpr(
      colExpr($"emb"), cents, 4))).collect()
    assert(nc(0).getInt(0) == 1 && nc(1).getInt(0) == 0)
  }

  test("winnowing fingerprints: identical texts equal, near-dups overlap heavily") {
    val wf = docs.withColumn("norm", TextAnalysis.normalized($"text"))
      .select($"doc_id", TextAnalysis.winnowingFingerprints($"norm").as("wf"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(wf(1L) == wf(2L)) // normalization-invariant
    val overlap13 = (wf(1L) intersect wf(3L)).size.toDouble / (wf(1L) union wf(3L)).size
    val overlap14 = (wf(1L) intersect wf(4L)).size.toDouble / (wf(1L) union wf(4L)).size
    assert(overlap13 > overlap14) // near-dup shares more fingerprints than unrelated
    assert(wf(5L).nonEmpty) // short doc still fingerprints
  }

  test("text metrics: token counts and langid are deterministic") {
    // German, French, a stopword tie (es 2 = en 2: the first language in
    // sorted order wins), a stopword-free doc the trigrams still place,
    // and a doc whose stopword ratio stays under the quality clamp
    val more = Seq(
      (6L, "der hund und die katze sind nicht hier"),
      (7L, "les chats et les chiens de la maison"),
      (8L, "y el gato of the"),
      (9L, "consulting station"),
      (10L, "the northern lights shimmer above quiet frozen lakes during long winter nights"))
      .toDF("doc_id", "text")
    val withLang = TextAnalysis.langIdOnto(docs.union(more), "l", $"text")
    val withNgram = TextAnalysis.langIdNgramOnto(withLang, "lg", $"text")
    val m = TextAnalysis.qualityScoreOnto(withNgram, "q", $"text")
      .select($"doc_id", TextAnalysis.wsTokenCount($"text").as("n"), $"l", $"lg", $"q")
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3), r.getDouble(4)))
    // (doc, tokens, stopword lang, trigram lang, quality)
    m.toSeq shouldBe Seq(
      (1L, 9, "en", "en", 0.953488),
      (2L, 9, "en", "en", 0.948864),
      (3L, 9, "en", "en", 0.955556),
      (4L, 8, "en", "en", 0.968182),
      (5L, 1, "und", "und", 0.5),
      (6L, 8, "de", "de", 0.703947),
      (7L, 8, "fr", "fr", 0.701389),
      (8L, 5, "en", "en", 0.9375),
      (9L, 2, "und", "en", 0.486111),
      (10L, 12, "en", "en", 0.923077))
  }

  test("winnow overlap pairs: wholesale containment found where jaccard fails") {
    val core = "the migratory patterns of arctic terns span both polar circles"
    val filler = (1 to 30).map(i => s"unrelated filler sentence number $i about nothing").mkString(" ")
    val corpus = Seq(
      (1L, core),                 // the contained document
      (2L, core + " " + filler),  // contains doc 1 wholesale + 6× more text
      (3L, "completely different prose on spark catalyst optimizer internals"))
      .toDF("doc_id", "text")
    // word-shingle jaccard misses the inclusion (shared/union is tiny) ...
    val jac = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)))
    // ... fingerprint containment catches it: doc 1's fingerprints are a
    // near-subset of doc 2's (window alignment differs at the splice edge)
    val pairs = Dedup.winnowOverlapPairs(corpus, "doc_id", "text", tau = 0.7)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) >= 0.7)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnow overlap df cap: boilerplate fingerprints dropped before the join") {
    // every doc shares one boilerplate sentence; with the cap at df <= 3
    // the boilerplate fingerprints vanish from the index and only the
    // genuine near-dup pair (100, 101) survives
    val boiler = "standard legal disclaimer applies to all content herein"
    val base = (1 to 10).map(i =>
      (i.toLong, s"document $i discusses subject ${i * 13} in depth. " + boiler))
    val corpus = (base
      :+ (100L, "identical twin text about winnowing fingerprints. " + boiler)
      :+ (101L, "identical twin text about winnowing fingerprints! " + boiler))
      .toDF("doc_id", "text")
    val capped = Dedup.winnowOverlapPairs(corpus, "doc_id", "text",
      tau = 0.8, maxFpDf = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((100L, 101L)))
    assert(capped.forall { case (a, b) => a >= 100L && b >= 100L })
  }

  test("scalar quantization: integral codes in [-127, 127]") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.select(explode(Similarity.scalarQuantize($"embedding")).as("c"))
      .agg(min($"c"), max($"c"), sum(when($"c" =!= floor($"c"), 1).otherwise(0)))
      .collect()(0)
    assert(q.getDouble(0) >= -127.0 && q.getDouble(1) <= 127.0 && q.getLong(2) == 0L)
  }

  test("product quantization: deterministic codebooks, bounded codes, useful recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb1 = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 8, subDim = 8, k = 8, iters = 2)
    val cb2 = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 8, subDim = 8, k = 8, iters = 2)
    assert(cb1.map(_.toSeq).toSeq == cb2.map(_.toSeq).toSeq) // bit-reproducible training
    assert(cb1.length == 8 && cb1.forall(_.length == 8 * 8))
    val codes = emb.select(explode(Similarity.pqEncode($"embedding", cb1, 8)).as("c"))
      .agg(min($"c"), max($"c")).collect()(0)
    assert(codes.getInt(0) >= 0 && codes.getInt(1) < 8)
    // reconstruction keeps vectors on their own side of the sphere —
    // the distortion metric PQ actually optimizes
    val selfSim = emb.select(Similarity.cosine($"embedding",
      Similarity.pqReconstruct(Similarity.pqEncode($"embedding", cb1, 8), cb1, 8)).as("c"))
      .agg(avg($"c"), min($"c")).collect()(0)
    assert(selfSim.getDouble(0) >= 0.5 && selfSim.getDouble(1) > 0.25,
      s"self-similarity avg=${selfSim.getDouble(0)} min=${selfSim.getDouble(1)}")
    // Per-query-subset recall on these ISOTROPIC random vectors — the
    // PQ worst case (no inter-dim correlation for subspace codebooks to
    // exploit; real encoder output fares far better, OPQ rotation is
    // the published fix) — swings 0.10–0.30 across query permutations
    // (measured round 14: 0.14/0.10/0.24/0.18/0.30 for offsets 0–4), so
    // a single-subset floor either flakes or degrades into no-guard.
    // Average over 5 disjoint query subsets instead: measured mean
    // 0.192, pinned ≥ 0.14 — stable against sampling noise, and a
    // collapsed codebook (the breakage this guards) scores near zero.
    def recallAt(off: Int): (Double, Set[(Long, Long)], Set[(Long, Long)]) = {
      val q = emb.filter($"vec_id" % 100 === off)
      val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
        .select($"query_id", $"match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pq = Similarity.pqTopK(emb, q, "vec_id", "embedding", 10)
        .select($"query_id", $"match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ((exact intersect pq).size.toDouble / exact.size, exact, pq)
    }
    val recalls = (0 until 5).map(recallAt(_)._1)
    (recalls.sum / recalls.size) should be >= 0.14
    val (recall, exact, _) = recallAt(0)
    val q = emb.filter($"vec_id" % 100 === 0)
    // the two-stage cure: 50 PQ candidates + exact rerank recovers most
    // of what the approximate scores scramble, touching only
    // nQueries×candK float vectors
    val rr = Similarity.pqRerankTopK(emb, q, "vec_id", "embedding", 10, candK = 50)
      .select($"query_id", $"match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rerankRecall = (exact intersect rr).size.toDouble / exact.size
    rerankRecall should be >= recall
    rerankRecall should be >= 0.4
  }

  test("ivf-pq: residual codes reconstruct tighter than flat PQ; probing works") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // flat-PQ reconstruction fidelity (baseline)
    val flat = Similarity.trainPqCodebooks(emb, "vec_id", "embedding", 8, 8, 8, 2)
    val flatSim = emb.select(Similarity.cosine($"embedding",
        Similarity.pqReconstruct(Similarity.pqEncode($"embedding", flat, 8), flat, 8)).as("c"))
      .agg(avg($"c")).collect()(0).getDouble(0)
    // ivf-pq approximation fidelity: same code budget over RESIDUALS
    import org.apache.spark.sql.GraftExpressionBridge.{column => exprCol, expression => colExpr}
    val coarse = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", 8, 2)
    val coarseLit = typedLit(coarse.toSeq)
    val withC = emb
      .withColumn("coarse_c", exprCol(graft.functions.NearestCentroidExpr(
        colExpr($"embedding"), coarse, 64)))
      .withColumn("resid", zip_with($"embedding".cast("array<double>"),
        slice(coarseLit, $"coarse_c" * 64 + 1, lit(64)), (x, c) => x - c))
    val rcbs = Similarity.trainPqCodebooks(
      withC.select($"vec_id", $"resid"), "vec_id", "resid", 8, 8, 8, 2)
    val ivfpqSim = withC.select(Similarity.cosine($"embedding",
        zip_with(slice(coarseLit, $"coarse_c" * 64 + 1, lit(64)),
          Similarity.pqReconstruct(
            Similarity.pqEncode($"resid", rcbs, 8), rcbs, 8), (a, b) => a + b)).as("c"))
      .agg(avg($"c")).collect()(0).getDouble(0)
    assert(ivfpqSim > flatSim,
      s"residual coding should reconstruct tighter: ivfpq=$ivfpqSim flat=$flatSim")

    // probing: full-probe search is exhaustive over the approximation;
    // 2-probe recall is positive and bounded by it
    val q = emb.filter($"vec_id" % 100 === 0)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      .select($"query_id", $"match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nProbe: Int): Double = {
      val got = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", 10, nProbe = nProbe)
        .select($"query_id", $"match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val r2 = recallAt(2)
    val rAll = recallAt(100)
    assert(r2 > 0.0 && r2 <= rAll + 1e-9, s"recall@2=$r2 should be within (0, $rAll]")
  }

  test("quantized top-k: high recall vs exact cosine at 4x fewer index bytes") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" % 100 === 0)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      .select($"query_id", $"match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizedTopK(emb, q, "vec_id", "embedding", 10)
      .select($"query_id", $"match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect quant).size.toDouble / exact.size
    recall should be >= 0.8 // ~7.6 bits/dim keeps neighborhoods nearly intact
  }

  test("binary quantization: words pack sign bits exactly; self-distance 0") {
    // 4 dims set positive in lo word (0,3,31 within range via 64-dim pad)
    val e = Array.fill(64)(-1.0f)
    e(0) = 0.5f; e(3) = 2.0f; e(31) = 1e-9f; e(32) = 1.0f; e(63) = 0.1f
    val df = Seq((1L, e)).toDF("vec_id", "embedding")
      .select($"vec_id",
        Similarity.binaryWord($"embedding", 0, 32).as("lo"),
        Similarity.binaryWord($"embedding", 32, 64).as("hi"))
    val r = df.collect()(0)
    assert(r.getLong(1) == ((1L << 0) | (1L << 3) | (1L << 31)))
    assert(r.getLong(2) == ((1L << 0) | (1L << 31)))
    // exact zero is NOT positive: no bit
    val z = Seq((2L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
      .select(Similarity.binaryWord($"embedding", 0, 32).as("lo")).collect()(0)
    assert(z.getLong(0) == 0L)
  }

  test("binary hamming top-k: deterministic, and rerank recovers most of exact") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" % 100 === 0)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      .select($"query_id", $"match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bq = Similarity.binaryTopK(emb, q, "vec_id", "embedding", 10)
    // pure-integer scores: re-running gives identical rows (no float ties)
    assert(bq.collect().toSeq == Similarity.binaryTopK(emb, q, "vec_id",
      "embedding", 10).collect().toSeq)
    val bqSet = bq.select($"query_id", $"match_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bqRecall = (exact intersect bqSet).size.toDouble / exact.size
    bqRecall should be >= 0.3 // 1 bit/dim: coarse but informative
    val rr = Similarity.binaryRerankTopK(emb, q, "vec_id", "embedding", 10, cand = 40)
      .select($"query_id", $"match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rrRecall = (exact intersect rr).size.toDouble / exact.size
    rrRecall should be >= bqRecall // exact rerank can only help at equal candidates
    rrRecall should be >= 0.6 // 4× candidate over-fetch recovers most neighbors
  }
}
