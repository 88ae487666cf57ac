package graft.queries

import graft.core.Obs
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: the Spark implementation plus (optionally) the
  * equivalent DuckDB SQL used by the driver's correctness oracle.
  * Column names MUST match between the two (the compare sorts columns by
  * name and hashes values).
  *
  * `oracleSwapped`: for queries whose Spark side geometry-swaps to a
  * different (scale-safe) algorithm above
  * [[QueriesEmb.DeclaredBruteSwap]] corpus rows, the oracle of the
  * SWAPPED form. [[graft.SparkEntry.oracleSqlFor]] picks it when the
  * sf dir's embeddings table exceeds the bound, so a scaled Verify run
  * hash-checks the branch that actually executed instead of reporting
  * false mismatches against the small-corpus oracle.
  */
final case class QDef(name: String,
                      query: (SparkSession, String) => DataFrame,
                      oracle: Option[String],
                      oracleSwapped: Option[String] = None)

object Q {
  /** Read a testdata table. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Serialized check-then-build for persisted indexes: under
    * SPARK_GRAFT_VERIFY_PAR > 1 (or any concurrent caller) two queries
    * sharing an index dir would otherwise both see `_SUCCESS` missing
    * and build into the same path concurrently, corrupting the index or
    * flaking the run. One JVM-wide lock per success-file path (striped
    * by the path itself), double-checked so the warm path stays a
    * single `File.exists`. Spark writes are same-JVM in local mode, so
    * a JVM-level monitor is the correct scope.
    */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def buildOnce(successPath: String)(build: => Unit): Unit =
    if (!new java.io.File(successPath).exists()) {
      val lock = buildLocks.computeIfAbsent(successPath, _ => new Object)
      lock.synchronized {
        if (!new java.io.File(successPath).exists()) build
      }
    }

  /** Content signature of a testdata table: file names, lengths and
    * mtimes — cheap (no data read) and invalidated by any regeneration.
    */
  def contentSig(dir: String, table: String): String = {
    val root = new java.io.File(s"$dir/$table.parquet")
    val files =
      if (root.isDirectory) root.listFiles().sortBy(_.getName) else Array(root)
    root.getAbsolutePath + "|" + files
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
  }

  /** Content-fingerprinted persisted-index path for `table` under this
    * sf dir: neither a regenerated dataset nor a parameter change can
    * silently reuse a stale index (the sim_*_search cache-key rule).
    */
  def indexDir(kind: String, dir: String, table: String,
               params: String): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(contentSig(dir, table).getBytes("UTF-8"))
    val hex = md5.take(8).map(b => f"$b%02x").mkString
    System.getProperty("java.io.tmpdir") + s"/graft_${kind}_index_${hex}_$params"
  }

  /** Shared SQL fragment: the events table adapted to the observations
    * shape (mirrors [[graft.core.Obs.eventsAsObservations]] exactly —
    * integer-rational coordinate synthesis, epoch µs time).
    */
  val ObsCte: String =
    s"""obs AS (
      |  SELECT event_id AS iot_id,
      |         value AS result,
      |         epoch_us(ts) AS t_us,
      |         user_id AS datastream_id,
      |         event_type AS observation_type,
      |         ${Obs.synthLatSql("event_id")} AS lat,
      |         ${Obs.synthLonSql("event_id")} AS lon
      |  FROM events)""".stripMargin

  /** Shared SQL fragment: the per-stream QC bounds config (literal
    * integer bounds per datastream; streams ≡ 4 (mod 5) get null bounds
    * to exercise the flag_on_nan path). Mirrors `confDf` in QueriesQc.
    */
  val ConfCte: String =
    """conf AS (
      |  SELECT DISTINCT user_id AS datastream_id,
      |         CASE WHEN user_id % 5 = 4 THEN NULL
      |              ELSE CAST(20 + 2 * user_id AS DOUBLE) END AS qc_range_min,
      |         CASE WHEN user_id % 5 = 4 THEN NULL
      |              ELSE CAST(150 + user_id AS DOUBLE) END AS qc_range_max
      |  FROM events)""".stripMargin
}
