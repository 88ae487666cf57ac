package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Entity resolution, matching stage: find pairs of near-identical
  * names (typos, word-level variants) without the all-pairs compare.
  * Classic record-linkage shape (Fellegi-Sunter blocking + edit-
  * distance verify):
  *
  *  1. collapse rows to the DISTINCT name universe first — at 100 TB
  *     the row count is data-scale but the name vocabulary is not
  *     (same two-phase trick as exact dedup): the expensive fuzzy
  *     compare never touches the row universe;
  *  2. multi-pass token blocking — a name enters one block per token
  *     position (pass 1: first token, pass 2: second token), so a
  *     single-token edit still shares a block through the other
  *     token's pass;
  *  3. within-block candidate pairs (a < b), de-duplicated ACROSS
  *     passes before any distance is computed;
  *  4. Levenshtein verify at `maxDist`.
  *
  * Blocks larger than `blockCap` names are dropped from pairing (LIVE
  * when a token is near-universal — the quadratic-blowup guard every
  * blocking scheme needs; dropped blocks are the low-information ones
  * by construction). Output carries each matched name's row count so
  * the caller can route canonical-id decisions (survivorship) or feed
  * pairs into the clustering ops.
  */
object EntityResolution {

  /** Candidate near-duplicate name pairs with edit distance and the
    * row support of each side: (name_a, name_b, dist, rows_a, rows_b),
    * name_a < name_b.
    */
  def nameMatchPairs(df: DataFrame, nameCol: String, maxDist: Int = 2,
                     blockCap: Long = 500L): DataFrame = {
    require(maxDist >= 0 && blockCap > 0)
    // phase 1: the distinct-name universe with row support
    val names = df.groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).as("n_rows"))
    val toks = names.select(col("name"), split(col("name"), " ").as("toks"))
    def pass(i: Int): DataFrame = toks.select(col("name"),
      concat(lit(s"t$i:"), try_element_at(col("toks"), lit(i))).as("blk"))
    // a null token (name shorter than the pass position) nulls the
    // block key, and null keys drop out of the equi-joins below
    val blocks = pass(1).unionByName(pass(2))
    val okBlocks = blocks.groupBy(col("blk"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") <= blockCap)
      .select(col("blk"))
    val inCap = blocks.join(okBlocks, Seq("blk"))
    val cand = inCap.as("a").join(inCap.as("b"), Seq("blk"))
      .filter(col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct() // across passes, BEFORE the distance is computed
    val verified = cand
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
    verified
      .join(broadcast(names.select(col("name").as("name_a"),
        col("n_rows").as("rows_a"))), Seq("name_a"))
      .join(broadcast(names.select(col("name").as("name_b"),
        col("n_rows").as("rows_b"))), Seq("name_b"))
      .select(col("name_a"), col("name_b"), col("dist"),
        col("rows_a"), col("rows_b"))
  }
}
