package graft.core

import org.apache.spark.sql.SparkSession

/** One place for the session settings every entry point (Verify, Bench,
  * tests) must share so plans and results are identical everywhere.
  */
object Sessions {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // let every shuffle START wide and have AQE coalesce it down to
      // the data's actual size: at small SFs this is a no-op (AQE
      // merges the small partitions back, advisory target unchanged),
      // while at 100× data the heavy shuffles (the ngram inverted
      // index, candidate joins) keep the width they need instead of
      // squeezing through `shufflePartitions` fixed-size buckets —
      // the same setting a real cluster sizes to executors×cores
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        math.max(shufflePartitions * 8, 64))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet carries TIMESTAMP(NANOS); read as raw ns longs
      // (truncated to µs in Obs.eventsAsObservations)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // let AQE size CACHED plans too (default false): without it every
      // .cache() materializes at the static `shufflePartitions` width and
      // each of its N downstream consumers schedules that many tasks per
      // stage — measured 5,709 tasks for one t_bm25_prf run at sf0.1
      // (32-partition cached postings × ~20 consumer stages). With AQE
      // sizing, a cache holds advisory-sized partitions at EVERY scale:
      // few at bench SFs, hundreds on a 100 TB corpus — the same
      // data-adaptive rule the uncached exchanges already follow. Only
      // partitioning changes; results are identical.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // JVM-wide cache of compiled generated classes (default 100). One
      // QcMain.runFrom window (60 streams, stabilization and a dependent
      // pair) compiles ~180 classes; one pass of q_pagerank,
      // dd_winnow_pairs, w2_zscore and w4_spatial_outlier ~118. At 100
      // the LRU evicts a window's classes before the next same-shaped
      // window asks for them, so a cron session recompiled all of them
      // every window; at 2048 a steady-state window compiles none, with
      // room for configs with many more dependent pairs. Static conf:
      // Spark sizes CodeGenerator's cache from it once, when that class
      // first loads, so it is set here, where every entry point's session
      // is built, and not in any one entry point.
      .config("spark.sql.codegen.cache.maxEntries", 2048)

  /** Generated classes this JVM has compiled so far: the count of Spark's
    * codegen compile-time histogram. Read twice around a run for the
    * number of classes the run compiled (a cache hit compiles none); it
    * reads a static counter and submits no job.
    */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Spark's spillable on-disk state store for Structured Streaming. */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Point every streaming query STARTED AFTER this call at the RocksDB
    * state store (the provider class is captured per query at start).
    * The default HDFS-backed store keeps all keyed state on the executor
    * heap — fine at test scale, a memory wall for production ingest
    * state (term stats, open sessions, dedup fingerprints); RocksDB
    * keeps a bounded block cache in memory, spills the rest to local
    * disk, and checkpoints per-batch CHANGELOGS instead of full
    * snapshots, which is the state lifecycle a 100 TB ingest needs.
    */
  def useRocksDbStateStore(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      RocksDbProvider)
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled", "true")
  }

  /** Commit-cost tuning for stateful ingest queries (streaming dedup
    * and the other one-stateful-stage twins). Apply BEFORE `.start()`
    * of the stream — two of these are captured per query at start.
    *
    *   - `stateParts` becomes the state-store partition count (fixed at
    *     the query's FIRST start, forever): every micro-batch commits
    *     one RocksDB instance per partition, so an oversized default
    *     (200, or even this project's 32) multiplies pure commit
    *     overhead. Size it to the parallelism the ingest actually
    *     needs — state volume / executor memory, not the session's
    *     batch shuffle width.
    *   - no-data micro-batches off: with them on, every watermark
    *     advance appends an EXTRA empty batch that still commits every
    *     state store — near 2× the commit count for dedup-shaped
    *     queries. Cost: watermark-driven state eviction waits for the
    *     next data batch; survivors are unchanged (eviction timing is
    *     not answer-bearing for first-seen-wins dedup).
    *   - RocksDB per-put row counting off: drops numRowsTotal metric
    *     bookkeeping from the hot put path (observability trade,
    *     recoverable from state-store files offline).
    *
    * Chosen by a four-lever sweep at sf10 recorded in BASELINE.md;
    * [[graft.StreamBench]]'s `dedup_tuned` row re-measures it with
    * survivor parity. Trigger SIZE is the other half of the budget —
    * see [[graft.streaming.StreamingDedup.minBatchRows]].
    */
  def tuneStatefulIngest(spark: SparkSession, stateParts: Int): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions", stateParts)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb." +
      "trackTotalNumberOfRows", "false")
  }

  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    builder(s"local[$cpus]", cpus.toInt).getOrCreate()
  }
}
