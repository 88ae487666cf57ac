package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** In-engine training of the cheap quality classifier — the
  * distillation pass of a curation pipeline (Brown et al. 2020 §2.2 /
  * CCNet train a small linear model on heuristic or LLM labels, then
  * score the full corpus with it): the expensive teacher labels a
  * corpus once, the trained linear model scores everything map-side
  * forever after ([[TextAnalysis.linearQualityScore]] is the inference
  * face; this produces its weights).
  *
  * Algorithm: batch POCKET perceptron (Gallant 1990) in pure int64 —
  * per round, ONE distributed aggregate computes the misclassified
  * gradient sums and ONE computes training accuracy (both 1-row
  * bounded collects); the driver holds the 5 weights and keeps the
  * best-accuracy round (ties → earliest, round 0 = zero weights
  * included). Every operation is integer with truncation-toward-zero
  * division, so the DuckDB oracle replays the whole training run
  * bit-exactly by unrolling the rounds. Plain batch gradient descent
  * under a hard-sigmoid was tried first and cycles on band-shaped
  * labels (saturation makes it a perceptron anyway, without the
  * pocket's monotonicity) — the pocket rule guarantees the returned
  * weights are the best any round achieved.
  */
object Train {

  /** Integer feature SQL exprs over (nt, nc, na) — centered to similar
    * scales so no single feature's gradient dominates. Shared with the
    * oracle text verbatim.
    */
  private[graft] val FeatureExprs: Seq[String] = Seq(
    "256",
    "least(nt, 1024) - 45",
    "na * 1024 DIV greatest(nc, 1) - 800",
    "least(nc * 1000 DIV greatest(nt, 1), 4096) DIV 16 - 120",
    "abs(nt - 45) - 25")

  // The teacher label's thresholds (MinTok ≤ tokens ≤ MaxTok AND
  // alpha-ratio ≥ MinAlphaQ10/1024) and the schedule (Rounds rounds,
  // learning rate 1/LrDen), read by the trainer and its oracle alike.
  private val MinTok = 20L
  private val MaxTok = 70L
  private val MinAlphaQ10 = 700L
  private val Rounds = 32
  private val LrDen = 8L

  /** Train on `df`, teacher label = the integer heuristic
    * (20 ≤ tokens ≤ 70 AND alpha-ratio ≥ 700/1024), 32 rounds.
    * Returns ONE row: (best_round, n_docs, n_correct, w0..w4).
    */
  def pocketPerceptron(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val feats = FeatureExprs.zipWithIndex
      .map { case (e, j) => s"CAST($e AS BIGINT) AS x$j" }
    val feat = df
      .select(
        TextAnalysis.wsTokenCount(col(textCol)).cast("long").as("nt"),
        length(col(textCol)).cast("long").as("nc"),
        length(regexp_replace(col(textCol), "[^A-Za-z]", ""))
          .cast("long").as("na"))
      .selectExpr(feats :+
        (s"CASE WHEN nt >= $MinTok AND nt <= $MaxTok AND " +
          s"na * 1024 DIV greatest(nc, 1) >= $MinAlphaQ10 " +
          "THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y"): _*)
      .localCheckpoint()
    def zExpr(w: Array[Long]): String =
      w.zipWithIndex.map { case (wj, j) => s"CAST($wj AS BIGINT) * x$j" }
        .mkString(" + ")
    def signMatches(w: Array[Long]): String =
      s"(CASE WHEN ${zExpr(w)} >= 0 THEN 1 ELSE -1 END) = y"
    // FUSED per-round pass: the accuracy of the CURRENT weights and the
    // gradient over the CURRENT weights ride one aggregate job (they
    // share the sign-match subexpression), instead of the original
    // grad(w_{r-1}) job followed by a separate acc(w_r) job — 1 + rounds
    // + 1 driver round-trips instead of 1 + 2·rounds (measured: 135
    // jobs → 69 for the declared 32-round query; the training data is
    // scanned half as often at ANY scale). Values are identical: the
    // same aggregates run over the same checkpointed rows, just
    // co-scheduled; OptEquivalenceSpec pins fused == two-pass. n_docs
    // rides the same pass (count(1)) instead of a separate count job.
    def roundStats(w: Array[Long]): (Long, Long, Array[Long]) = {
      val r = feat.selectExpr(
        Seq("coalesce(count(1), 0) AS n",
          s"coalesce(sum(CASE WHEN ${signMatches(w)} THEN 1 " +
            "ELSE 0 END), 0) AS ok") ++
          (0 until 5).map(j =>
            s"coalesce(sum(CASE WHEN NOT (${signMatches(w)}) THEN y * x$j " +
              s"ELSE CAST(0 AS BIGINT) END), 0) AS g$j"): _*).first()
      (r.getLong(0), r.getLong(1),
        (0 until 5).map(j => r.getLong(2 + j)).toArray)
    }
    val w = Array.fill(5)(0L)
    val (n, acc0, grads0) = roundStats(w)
    var bestAcc = acc0
    var bestW = w.clone()
    var bestRound = 0
    var grads = grads0
    for (r <- 1 to Rounds) {
      (0 until 5).foreach(j => w(j) += grads(j) / LrDen)
      val (_, a, g) = roundStats(w)
      grads = g
      if (a > bestAcc) { bestAcc = a; bestW = w.clone(); bestRound = r }
    }
    Seq((bestRound.toLong, n, bestAcc,
      bestW(0), bestW(1), bestW(2), bestW(3), bestW(4)))
      .toDF("best_round", "n_docs", "n_correct", "w0", "w1", "w2", "w3", "w4")
  }

  /** The full unrolled-rounds DuckDB oracle for [[pocketPerceptron]]
    * over the `documents` table — generated, because 32 rounds × (grad,
    * weight, accuracy) CTEs + the pocket CASE chain is mechanical.
    */
  def pocketPerceptronOracleSql(rawTokensSql: String): String = {
    val fx = Seq(
      "256",
      "least(nt, 1024) - 45",
      "na * 1024 // greatest(nc, 1) - 800",
      "least(nc * 1000 // greatest(nt, 1), 4096) // 16 - 120",
      "abs(nt - 45) - 25")
      .zipWithIndex.map { case (e, j) => s"CAST($e AS BIGINT) AS x$j" }
    def z(k: Int): String =
      (0 until 5).map(j => s"(SELECT w$j FROM w$k) * x$j").mkString(" + ")
    def ok(k: Int): String =
      s"(CASE WHEN ${z(k)} >= 0 THEN 1 ELSE -1 END) = y"
    val roundCtes = (1 to Rounds).map { k =>
      val g = (0 until 5).map(j =>
        s"coalesce(sum(CASE WHEN NOT (${ok(k - 1)}) THEN y * x$j ELSE 0 END), 0) AS g$j")
        .mkString(", ")
      val wNew = (0 until 5).map(j =>
        s"CAST((SELECT w$j FROM w${k - 1}) + (SELECT g$j FROM g$k) // $LrDen AS BIGINT) AS w$j")
        .mkString(", ")
      s"""g$k AS MATERIALIZED (SELECT $g FROM feat),
         |w$k AS MATERIALIZED (SELECT $wNew),
         |a$k AS MATERIALIZED (SELECT coalesce(sum(CASE WHEN ${ok(k)} THEN 1 ELSE 0 END), 0) AS ok FROM feat)""".stripMargin
    }.mkString(",\n")
    val accRows = (0 to Rounds)
      .map(k => s"SELECT $k AS r, (SELECT ok FROM a$k) AS ok")
      .mkString(" UNION ALL ")
    def pick(col: String): String =
      "CASE (SELECT r FROM best) " +
        (0 to Rounds).map(k => s"WHEN $k THEN (SELECT $col FROM w$k)")
          .mkString(" ") + " END"
    s"""WITH d AS MATERIALIZED (SELECT
       |    CAST(len($rawTokensSql) AS BIGINT) AS nt,
       |    CAST(length(text) AS BIGINT) AS nc,
       |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS na
       |  FROM documents),
       |feat AS MATERIALIZED (SELECT ${fx.mkString(", ")},
       |    CASE WHEN nt >= $MinTok AND nt <= $MaxTok AND
       |      na * 1024 // greatest(nc, 1) >= $MinAlphaQ10
       |      THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y
       |  FROM d),
       |w0 AS MATERIALIZED (SELECT ${(0 until 5).map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ")}),
       |a0 AS MATERIALIZED (SELECT coalesce(sum(CASE WHEN ${ok(0)} THEN 1 ELSE 0 END), 0) AS ok FROM feat),
       |$roundCtes,
       |accs AS ($accRows),
       |best AS MATERIALIZED (SELECT r, ok FROM accs ORDER BY ok DESC, r ASC LIMIT 1)
       |SELECT CAST((SELECT r FROM best) AS BIGINT) AS best_round,
       |  (SELECT count(*) FROM feat) AS n_docs,
       |  CAST((SELECT ok FROM best) AS BIGINT) AS n_correct,
       |  ${(0 until 5).map(j => s"CAST(${pick(s"w$j")} AS BIGINT) AS w$j").mkString(", ")}""".stripMargin
  }
}
