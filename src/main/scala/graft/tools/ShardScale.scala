package graft.tools

import graft.functions.Similarity
import org.apache.spark.sql.functions._

/** Scale measurement for the sharded IVF-PQ serving tier (BASELINE.md
  * century rows): builds an `nShards`-way sharded index over an sf
  * dir's embeddings, serves a query fan-out, audits per-shard
  * occupancy, and prints one JSON line with the three timings —
  * `sbt 'runMain graft.tools.ShardScale /tmp/graft_sf1b 4 /tmp/ix_sf1'`.
  *
  * Separate from Bench because the declared `sim_ivfpq_sharded` query
  * is oracle-pinned at 2 shards (the DuckDB oracle enumerates shard
  * CTEs); the scale question — does the build parallelize across
  * shards, does serve stay flat as shards grow — needs the shard count
  * free.
  */
object ShardScale {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ShardScale <sfDir> <nShards> <ixDir>")
    val (sfDir, nShards, ix) = (args(0), args(1).toInt, args(2))
    val spark = graft.core.Sessions.local()
    def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    def f3(v: Double): String = "%.3f".format(v)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()
    val queries = emb.filter(pmod(col("vec_id"), lit(1000)) === 0).cache()
    val nQ = queries.count()

    val tB = System.nanoTime()
    Similarity.writeIvfPqIndexSharded(emb, "vec_id", "embedding", ix,
      nShards = nShards, nCoarse = 0, coarseIters = 2, m = 8, subDim = 8,
      nCentroids = 8, pqIters = 2, dim = 64)
    val buildSec = secs(tB)

    val tS = System.nanoTime()
    val served = Similarity.searchIvfPqIndexSharded(spark, ix, nShards,
      queries, "vec_id", "embedding", k = 10, nProbe = 2).count()
    val serveSec = secs(tS)

    val tH = System.nanoTime()
    val health = Similarity.indexHealthSharded(spark, ix, nShards)
      .collect()
    val healthSec = secs(tH)
    val occ = health.map(r =>
      s"""{"shard":${r.getLong(r.fieldIndex("shard"))},"n":${r.getLong(r.fieldIndex("n_vectors"))},"lists":${r.getLong(r.fieldIndex("n_lists"))},"skew_ppm":${r.getLong(r.fieldIndex("skew_ppm"))}}""")
      .mkString("[", ",", "]")
    spark.stop()
    println(s"""{"metric":"shard_scale","sf":"$sfDir","n":$n,"n_queries":$nQ,"n_shards":$nShards,"build_sec":${f3(buildSec)},"serve_sec":${f3(serveSec)},"health_sec":${f3(healthSec)},"served_rows":$served,"occupancy":$occ}""")
  }
}
