package graft.tools

import graft.core.Sessions
import graft.functions.{Retrieval, Similarity}

/** Build-cost ledger for every persisted-index family (round-14
  * verdict #3 demand: the bench headline is the WARM-SERVING number by
  * construction — per-query MIN over reps means rep 1 absorbs the
  * build — so the amortized build wall must be visible somewhere).
  * Builds each family FRESH into a temp dir at the given sf and prints
  * one JSON line per family: build seconds + the index's on-disk size.
  * Results land as the build-cost table in BASELINE.md.
  *
  * Families (geometry = what the declared queries serve):
  *   - pq: flat PQ codes, m8/sub8/k8/i2 (sim_pq_* below the swap bound)
  *   - ivfpq_auto: auto-geometry IVF-PQ (sim_ivfpq_search/_auto and the
  *     swapped serve path — lists derive from corpus count)
  *   - ivfpq_sharded: auto shard count × auto lists (sim_ivfpq_sharded
  *     production tier)
  *   - bm25: term-clustered postings + stats (t_bm25_search)
  *
  * Usage: tools/bench_java.sh graft.tools.IndexBuildCost /tmp/graft_sf1b
  */
object IndexBuildCost {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Sessions.local()

    val tmp = java.nio.file.Files.createTempDirectory("graft_ixcost_").toString
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nVec = emb.count(); val nDoc = docs.count()

    def dirBytes(p: String): Long = {
      val root = new java.io.File(p)
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
      if (root.exists()) walk(root) else 0L
    }
    def row(family: String, f: => Unit): Unit = {
      val path = s"$tmp/$family"
      val t0 = System.nanoTime(); f
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"""{"family":"$family","sf":"$sfDir","n_vectors":$nVec,"n_docs":$nDoc,"build_sec":${"%.1f".format(sec)},"index_bytes":${dirBytes(path)}}""")
    }

    row("pq", Similarity.writePqIndex(emb, "vec_id", "embedding", s"$tmp/pq"))
    row("ivfpq_auto", Similarity.writeIvfPqIndex(emb, "vec_id", "embedding",
      s"$tmp/ivfpq_auto"))
    row("ivfpq_sharded", Similarity.writeIvfPqIndexSharded(emb, "vec_id",
      "embedding", s"$tmp/ivfpq_sharded"))
    row("bm25", Retrieval.writeIndex(docs, "doc_id", "text", s"$tmp/bm25"))
    spark.stop()
  }
}
