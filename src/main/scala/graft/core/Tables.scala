package graft.core

import org.apache.spark.sql.DataFrame

/** Bucketed-at-rest table layout — the co-location lever for repeated
  * big-big equi-joins and aggregations at 100 TB: both sides bucketed
  * (and sorted) on the join key read straight into a sort-merge join
  * with NO Exchange and NO per-query Sort; the one-time shuffle happens
  * at write time instead of on every query.
  *
  * (Reference counterpart: the TimescaleDB hypertables the reference
  * writes into are chunked by time+stream — `crontab/sta_raw_to_sta_prod
  * _transfer 1.sh:37-44`; bucketing is the Spark-native equivalent of
  * that at-rest partitioning.)
  */
object Tables {

  /** Write `df` as a bucketed, sorted parquet table. `path` keeps the
    * files external (e.g. a temp dir in tests); bucket count should be
    * sized so one bucket ≈ one task's worth of data at the target scale.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    keys: Seq[String], buckets: Int,
                    sortCols: Seq[String] = Seq.empty): Unit = {
    require(keys.nonEmpty, "bucketing needs at least one key")
    val sorted = if (sortCols.isEmpty) keys else sortCols
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(sorted.head, sorted.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Snapshot diff — the table-versioning primitive (what a data
    * platform runs between yesterday's and today's extract): full
    * outer join on the key, per-row status
    * (added/removed/changed/unchanged) and, for changed rows, the
    * sorted list of differing columns (null-safe comparison, so
    * null→value and value→null count as changes). ONE key-hash
    * shuffle per side; the status/changed-cols logic is pure Column
    * expressions on the joined row — at 100 TB this is the classic
    * co-partitionable join (bucket both snapshots by the key to run it
    * Exchange-free, see [[writeBucketed]]).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
                   compareCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    def side(df: DataFrame, p: String) =
      df.select((col(keyCol).as("__k") +: lit(1).as(s"${p}present") +:
        compareCols.map(c => col(c).as(s"$p$c"))): _*)
    val j = side(oldDf, "__o_").join(side(newDf, "__n_"), Seq("__k"), "full_outer")
    val same = compareCols.map(c => col(s"__o_$c") <=> col(s"__n_$c"))
    val allSame = same.reduce(_ && _)
    val changedList = filter(
      array(compareCols.zip(same).map { case (c, s) =>
        when(!s, lit(c)).otherwise(lit(null).cast("string")) }: _*),
      x => x.isNotNull)
    j.select(col("__k").as(keyCol),
      when(col("__o_present").isNull, lit("added"))
        .when(col("__n_present").isNull, lit("removed"))
        .when(allSame, lit("unchanged"))
        .otherwise(lit("changed")).as("status"),
      when(col("__o_present").isNotNull && col("__n_present").isNotNull
        && !allSame, array_join(changedList, ","))
        .otherwise(lit(null).cast("string")).as("changed_cols"))
  }
}
