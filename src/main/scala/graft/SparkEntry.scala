package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every declared operator from SURVEY §2 appears as a `queries` entry;
  * entries with DuckDB-expressible semantics also declare `oracleSql`
  * (the driver's t2 correctness gate at sf0.01). Column names and types
  * match between the two sides by construction.
  */
object SparkEntry {

  val all: Seq[QDef] =
    QueriesTpch.defs ++ QueriesQcEvents.defs ++ QueriesText.defs ++ QueriesEmb.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The config join followed by `QcMain`'s value checks (range →
    * gradient → z-score, worst-wins merged), collapsed to a per-stream
    * flag histogram.
    */
  def entry(spark: SparkSession): DataFrame =
    QueriesQcEvents.qcPipeline(spark, "/root/testdata/sf0.001")
      .groupBy(col("datastream_id"), col("flag"))
      .agg(count(lit(1)).as("n"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.query).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every declared query has an oracle since
    * round 3: round 2 made the LSH/IVF candidate sets oracle-checkable
    * (portable-integer buckets/quantizer); round 3 closed the last gap
    * by porting the stub media codec's byte arithmetic (mm_features) and
    * the trained k-means quantizer (sim_ivf_topk) to SQL.
    */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Corpus-size-aware oracle selection: queries that geometry-swap
    * above [[graft.queries.QueriesEmb.DeclaredBruteSwap]] (the PQ-brute
    * quartet + sim_ivfpq_rerank) emit the oracle of the SWAPPED form
    * when the sf dir's embeddings table exceeds the bound — so a
    * Verify/manifest run at any scale hash-checks the branch that
    * actually executed. At every driver-gate SF (≤ sf1, ≤ 20k vectors)
    * this returns exactly [[oracleSql]].
    */
  def oracleSqlFor(spark: SparkSession, sfDir: String): Map[String, String] = {
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val swapped = n > QueriesEmb.DeclaredBruteSwap
    all.flatMap { q =>
      val o = if (swapped) q.oracleSwapped.orElse(q.oracle) else q.oracle
      o.map(q.name -> _)
    }.toMap
  }
}
