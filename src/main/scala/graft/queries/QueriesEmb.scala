package graft.queries

import graft.functions.{Audio, MediaContainers, Multimodal, Similarity}
import org.apache.spark.sql.functions._

/** Similarity-search queries over `embeddings` (64-dim float vectors) and
  * multimodal plumbing over `documents`-as-media.
  *
  * Dot products are emitted as a fixed-order left-associated 64-term sum
  * in both engines (Spark's sequential `aggregate` fold == SQL's
  * left-associative `+` chain), so doubles match bit-for-bit.
  */
object QueriesEmb {

  private[queries] val Dim = 64

  /** a·b as an explicit left-assoc sum over array columns (1-based). */
  private def dotSqlN(a: String, b: String, n: Int): String =
    (1 to n).map(i => s"(CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE))")
      .mkString("(", " + ", ")")

  private[queries] def dotSql(a: String, b: String): String = dotSqlN(a, b, Dim)

  private def cosSqlN(a: String, b: String, n: Int): String =
    s"(${dotSqlN(a, b, n)} / (sqrt(${dotSqlN(a, a, n)}) * sqrt(${dotSqlN(b, b, n)})))"

  private def cosSql(a: String, b: String): String = cosSqlN(a, b, Dim)

  /** Oracle mirror of `Pca.leadingEigen`: quantization, raw moments,
    * integer-centered covariance and `rounds` unrolled power-iteration
    * CTEs, ending in `vf (i, v)` (sign-fixed eigenvector), `mn (i, s,
    * m)` (sums/means) and `st (n)`. Every division is `//` on BIGINT —
    * truncation toward zero, identical to the Scala driver loop.
    */
  private def pcaCtes(rounds: Int): String = {
    val base =
      s"""q AS MATERIALIZED (SELECT vec_id, label,
         |  list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 16384.0) AS BIGINT)) AS q
         |  FROM embeddings),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
         |sums AS (SELECT i, CAST(sum(q[i + 1]) AS BIGINT) AS s
         |         FROM q, range(0, $Dim) t(i) GROUP BY 1),
         |mn AS MATERIALIZED (SELECT i, s, s // n AS m FROM sums, st),
         |p AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
         |        CAST(sum(q[a.i + 1] * q[b.i + 1]) AS BIGINT) AS p
         |      FROM q, range(0, $Dim) a(i), range(0, $Dim) b(i)
         |      GROUP BY 1, 2),
         |cv AS MATERIALIZED (SELECT p.i, p.j,
         |         (p.p - mi.m * mj.s - mj.m * mi.s + st.n * mi.m * mj.m)
         |           // st.n AS c
         |       FROM p JOIN mn mi ON mi.i = p.i
         |         JOIN mn mj ON mj.i = p.j, st),
         |v0 AS MATERIALIZED (SELECT i, 4096::BIGINT AS v FROM range(0, $Dim) t(i))"""
        .stripMargin
    val iter = (1 to rounds).map { r =>
      s"""w$r AS MATERIALIZED (SELECT cv.i AS i, CAST(sum(cv.c * v${r - 1}.v) AS BIGINT)
         |          AS w
         |        FROM cv JOIN v${r - 1} ON cv.j = v${r - 1}.i GROUP BY 1),
         |x$r AS (SELECT max(abs(w)) AS mx FROM w$r),
         |v$r AS MATERIALIZED (SELECT w$r.i AS i,
         |          CASE WHEN mx = 0 THEN v${r - 1}.v
         |               ELSE (w * 4096) // mx END AS v
         |        FROM w$r JOIN v${r - 1} ON w$r.i = v${r - 1}.i, x$r)"""
        .stripMargin
    }.mkString(",\n")
    val sign =
      s"""sg AS (SELECT CASE WHEN coalesce((SELECT v FROM v$rounds
         |          WHERE v <> 0 ORDER BY i LIMIT 1), 1) < 0
         |        THEN -1 ELSE 1 END AS sg),
         |vf AS MATERIALIZED (SELECT i, CAST(v * sg AS BIGINT) AS v FROM v$rounds, sg)"""
        .stripMargin
    s"$base,\n$iter,\n$sign"
  }

  private val PcaRounds = 24

  /** Deterministic Lloyd's k-means as chained SQL CTEs — the oracle
    * mirror of `Similarity.trainIvfCentroids`, ending in CTE
    * `cent$iters (c, ce)`. Parity hinges on three invariants shared
    * with the Spark side: hash seeding — the k smallest
    * (md5(id-as-decimal), id), robust to banded/sparse id spaces where
    * the old range-stride rule collapsed — assignment by the identical
    * left-assoc cosine fold
    * with first-best tie-breaks (`ORDER BY cos DESC, c ASC`), and the
    * quantized-integer update — per-cell sums of floor(x·2^20) are
    * integers, so DuckDB's aggregation order cannot perturb the mean,
    * and `(CAST(s AS DOUBLE) / cnt) / 2^20` is the same IEEE-exact op
    * sequence as the Scala `s.toDouble / cnt / 1048576.0`.
    */
  private def kmeansCentsCte(k: Int, iters: Int): String =
    kmeansCentsCteExpr(k.toString, iters)

  /** The self-scaling coarse-list count as a SQL scalar — the exact
    * mirror of `Similarity.autoCoarseLists`: the largest power of two ≤
    * floor(√N), floored at 8. The pow2 floor is a max over exact
    * integer powers (2^b is exact in double for b < 63, so the ≤
    * comparison never sees rounding), not floor(log2(·)), keeping the
    * two engines bit-identical at every N.
    */
  private[queries] def autoCoarseKSqlFrom(src: String): String =
    s"""(SELECT CAST(least(65536, greatest(8, max(CASE
       |    WHEN CAST(power(2, t.b) AS BIGINT) <= s.s
       |    THEN CAST(power(2, t.b) AS BIGINT) ELSE 1 END))) AS INT)
       |  FROM (SELECT CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)
       |          AS s FROM $src) s, range(0, 40) t(b))"""
      .stripMargin.linesIterator.map(_.trim).mkString(" ")

  private[queries] val autoCoarseKSql: String = autoCoarseKSqlFrom("embeddings")

  /** The self-scaling LSH plane count as a SQL scalar — the exact
    * mirror of `Bitext.autoPlanes`: the smallest p with
    * target · 2^p ≥ N, clamped to [4, 24]. Pure integer comparisons
    * over exact powers of two, so both engines derive the identical
    * width at every N.
    */
  /** Resolve the self-scaling LSH plane count ONCE per embeddings-table
    * CONTENT (file names/lengths/mtimes): emb_bitext_mine and
    * emb_bitext_saturation share the same derived geometry, so without
    * this each of the pair re-counted the corpus per run for the same
    * value. Content-keyed (the [[Q.indexDir]] rule), so regenerated
    * data re-derives; a stale count can never survive a data change.
    */
  private val planesMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def resolvedPlanes(s: org.apache.spark.sql.SparkSession,
                             dir: String, target: Long): Int =
    planesMemo.computeIfAbsent(
      Q.contentSig(dir, "embeddings") + s"|t=$target",
      _ => Int.box(graft.functions.Bitext.autoPlanes(
        Q.table(s, dir, "embeddings").count(), target))).intValue()

  private def autoPlanesSql(target: Int): String =
    s"""(SELECT least(24, greatest(4, CAST(min(CASE
       |    WHEN CAST(power(2, t.b) AS BIGINT) * $target >= n.n
       |    THEN t.b ELSE 99 END) AS INT)))
       |  FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings) n,
       |    range(0, 25) t(b))"""
      .stripMargin.linesIterator.map(_.trim).mkString(" ")

  /** The ten best matches per query by the score `sim` of `from`
    * (match id breaks ties), the score rounded to 6 places as `out`.
    */
  private def top10Sql(sim: String, out: String, from: String = "s"): String =
    s"""SELECT query_id, match_id, rank, round($sim, 6) + 0.0e0 AS $out FROM (
       |  SELECT query_id, match_id, $sim,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY $sim DESC, match_id ASC) AS INT) AS rank
       |  FROM $from) r
       |WHERE rank <= 10""".stripMargin

  /** Occupancy of the self-scaling coarse quantizer trained over `src`
    * — mirrors Similarity.indexHealth: k-means (2 iterations), each
    * vector's nearest centroid, and one row of list statistics; `shard`
    * adds the shard number as a column.
    */
  private def indexHealthSql(src: String, shard: Option[Int]): String = {
    val shardCol = shard.fold("")(i => s",\n  CAST($i AS BIGINT) AS shard")
    s"""WITH ${kmeansCentsCteExpr(autoCoarseKSqlFrom(src), 2, src = src)},
       |ccent AS MATERIALIZED (SELECT c, ce FROM cent2),
       |ca AS (
       |  SELECT e.vec_id, s.c,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.embedding", "s.ce")} DESC, s.c ASC) AS rn
       |  FROM $src e, ccent s),
       |casg AS (SELECT vec_id, c AS coarse_c FROM ca WHERE rn = 1),
       |g AS (SELECT coarse_c, CAST(count(*) AS BIGINT) AS cnt
       |      FROM casg GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $src),
       |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lists FROM ccent)
       |SELECT t.n AS n_vectors, nl.n_lists,
       |  CAST(count(*) AS BIGINT) AS lists_used,
       |  CAST(nl.n_lists - count(*) AS BIGINT) AS lists_empty,
       |  CAST(max(g.cnt) AS BIGINT) AS max_list,
       |  CAST(t.n // nl.n_lists AS BIGINT) AS mean_list,
       |  CAST(max(g.cnt) * 1000000 // greatest(t.n // nl.n_lists, 1)
       |    AS BIGINT) AS skew_ppm$shardCol
       |FROM g, tot t, nl
       |GROUP BY t.n, nl.n_lists""".stripMargin
  }

  /** [[kmeansCentsCte]] with the centroid count as an arbitrary SQL
    * scalar expression (`kk` CTE) — a literal for the pinned test
    * shapes, [[autoCoarseKSql]] for the self-scaling geometry. The
    * seed-row LIMIT becomes a row_number filter (same rows: identical
    * ORDER BY and count); everything downstream is already
    * centroid-count-agnostic because centroids live as ROWS.
    */
  private def kmeansCentsCteExpr(kSql: String, iters: Int,
                                 src: String = "embeddings"): String = {
    val seed =
      s"""dims AS (SELECT CAST(unnest(range(0, $Dim)) AS INT) AS d),
         |kk AS (SELECT $kSql AS k),
         |seedrows AS (
         |  SELECT c, se FROM (
         |    SELECT CAST(row_number() OVER (
         |        ORDER BY md5(CAST(e.vec_id AS VARCHAR)), e.vec_id) - 1
         |      AS INT) AS c,
         |      e.embedding AS se
         |    FROM $src e WHERE e.vec_id IS NOT NULL) t
         |  WHERE c < (SELECT k FROM kk)),
         |cent0 AS MATERIALIZED (SELECT c,
         |  list_transform(range(1, ${Dim + 1}), i -> CAST(se[i] AS DOUBLE)) AS ce
         |  FROM seedrows)""".stripMargin
    val iterCtes = (1 to iters).map { it =>
      val prev = s"cent${it - 1}"
      s"""a$it AS (
         |  SELECT e.vec_id, e.embedding, s.c,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "s.ce")} DESC, s.c ASC) AS rn
         |  FROM $src e, $prev s),
         |asg$it AS MATERIALIZED (SELECT vec_id, embedding, c FROM a$it WHERE rn = 1),
         |m$it AS (
         |  SELECT g.c, dims.d,
         |    CAST(SUM(CAST(floor(CAST(g.embedding[dims.d + 1] AS DOUBLE)
         |      * 1048576.0) AS BIGINT)) AS BIGINT) AS s,
         |    COUNT(*) AS cnt
         |  FROM asg$it g, dims GROUP BY g.c, dims.d),
         |cc$it AS (
         |  SELECT p.c, dims.d,
         |    COALESCE((CAST(m.s AS DOUBLE) / CAST(m.cnt AS DOUBLE)) / 1048576.0,
         |             p.ce[dims.d + 1]) AS v
         |  FROM $prev p CROSS JOIN dims
         |  LEFT JOIN m$it m ON m.c = p.c AND m.d = dims.d),
         |cent$it AS MATERIALIZED (SELECT c, list(v ORDER BY d) AS ce FROM cc$it GROUP BY c)""".stripMargin
    }
    (seed +: iterCtes).mkString(",\n")
  }

  /** Prefixed k-means CTE chain over an arbitrary slice of `embedding` —
    * the per-subspace mirror of `Similarity.trainPqCodebooks` (which runs
    * `trainIvfCentroids` on each slice): same hash seeding (k smallest
    * (md5(id), id)), same left-assoc cosine assignment with first-best
    * ties, same quantized-integer update. Ends in `${p}cent$iters (c, ce)`
    * with the working slice in `${p}src (vec_id, se)`.
    */
  private def kmeansSubCte(p: String, sliceSql: String, sub: Int, k: Int,
                           iters: Int, src: String = "embeddings"): String = {
    val seed =
      s"""${p}dims AS (SELECT CAST(unnest(range(0, $sub)) AS INT) AS d),
         |${p}src AS (SELECT vec_id, $sliceSql AS se FROM $src),
         |${p}seedrows AS (
         |  SELECT c, se FROM (
         |    SELECT CAST(row_number() OVER (
         |        ORDER BY md5(CAST(e.vec_id AS VARCHAR)), e.vec_id) - 1
         |      AS INT) AS c,
         |      e.se
         |    FROM ${p}src e WHERE e.vec_id IS NOT NULL) t
         |  WHERE c < $k),
         |${p}cent0 AS MATERIALIZED (SELECT c,
         |  list_transform(range(1, ${sub + 1}), i -> CAST(se[i] AS DOUBLE)) AS ce
         |  FROM ${p}seedrows)""".stripMargin
    val iterCtes = (1 to iters).map { it =>
      val prev = s"${p}cent${it - 1}"
      s"""${p}a$it AS (
         |  SELECT e.vec_id, e.se, s.c,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSqlN("e.se", "s.ce", sub)} DESC, s.c ASC) AS rn
         |  FROM ${p}src e, $prev s),
         |${p}asg$it AS MATERIALIZED (SELECT vec_id, se, c FROM ${p}a$it WHERE rn = 1),
         |${p}m$it AS (
         |  SELECT g.c, dims.d,
         |    CAST(SUM(CAST(floor(CAST(g.se[dims.d + 1] AS DOUBLE)
         |      * 1048576.0) AS BIGINT)) AS BIGINT) AS s,
         |    COUNT(*) AS cnt
         |  FROM ${p}asg$it g, ${p}dims dims GROUP BY g.c, dims.d),
         |${p}cc$it AS (
         |  SELECT p.c, dims.d,
         |    COALESCE((CAST(m.s AS DOUBLE) / CAST(m.cnt AS DOUBLE)) / 1048576.0,
         |             p.ce[dims.d + 1]) AS v
         |  FROM $prev p CROSS JOIN ${p}dims dims
         |  LEFT JOIN ${p}m$it m ON m.c = p.c AND m.d = dims.d),
         |${p}cent$it AS MATERIALIZED (SELECT c, list(v ORDER BY d) AS ce
         |  FROM ${p}cc$it GROUP BY c)""".stripMargin
    }
    (seed +: iterCtes).mkString(",\n")
  }

  /** The PQ retrieve-and-rerank oracle — shared by `sim_pq_rerank`
    * (train-in-query) and `sim_pq_rerank_search` (persisted index).
    */
  /** The PQ top-10 oracle — shared by `sim_pq_topk` (train-in-query)
    * and `sim_pq_search` (persisted index).
    */
  private lazy val pqTopKOracleSql: String =
    s"""WITH ${pqScoreCtes(m = 8, sub = 8, kc = 8, iters = 2)}
       |${top10Sql("sim_pq", "sim_pq")}""".stripMargin

  private lazy val pqRerankOracleSql: String =
    rerankOracleSql(pqScoreCtes(m = 8, sub = 8, kc = 8, iters = 2), "sim_pq")

  /** Retrieve-and-rerank over approximate scores `s (query_id,
    * match_id, <sim>)` from `scoreBody`: the 50 best candidates per
    * query are exactly re-scored by cosine over their float vectors.
    */
  private def rerankOracleSql(scoreBody: String, sim: String): String = {
    val dqq = dotSql("q.e", "q.e")
    val dee = dotSql("e.embedding", "e.embedding")
    val dqe = dotSql("q.e", "e.embedding")
    s"""WITH $scoreBody,
       |cand AS (SELECT query_id, match_id FROM (
       |  SELECT query_id, match_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY $sim DESC, match_id ASC) AS INT) AS rank
       |  FROM s) t WHERE rank <= 50),
       |x AS (
       |  SELECT c.query_id, c.match_id,
       |    $dqe / (sqrt($dqq) * sqrt($dee)) AS sim
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.match_id
       |  JOIN q ON q.query_id = c.query_id)
       |${top10Sql("sim", "sim", from = "x")}""".stripMargin
  }

  /** The IVF-PQ oracle CTE body — coarse k-means chain + residual CTE +
    * 8 subspace chains trained on residuals + probe-list pruning —
    * ending in `s (query_id, match_id, sim_ivfpq)`, the approximate
    * scores of every probed candidate for the `vec_id % 50 = 0` query
    * set. Shared by `sim_ivfpq_topk` / `sim_ivfpq_search` (rank ≤ 10
    * tail below) and by `t_hybrid_ann` in [[QueriesText]], whose dense
    * leg takes the ANN top-20 into reciprocal-rank fusion.
    */
  private[queries] lazy val ivfPqScoreBody: String = ivfPqScoreBodyK(8)

  /** [[ivfPqScoreBody]] generalized over the coarse-list count — the
    * production scale knob (lists ∝ √N keeps candidates/query flat as
    * the corpus grows; the default 8 is the oracle-tractable test
    * shape). `sim_ivfpq_wide` measures the knob at 32 lists.
    */
  private[queries] def ivfPqScoreBodyK(kCoarse: Int): String =
    ivfPqScoreBodyExpr(kCoarse.toString)

  /** [[ivfPqScoreBodyK]] with the coarse-list count SELF-SCALING from
    * the corpus size ([[autoCoarseKSql]]) — the oracle of the
    * production geometry: at sf0.01 (N=500) it replays 16 lists, at
    * sf0.1 (N=2 000) 32, at the century point (N=200 000) 256. Shared
    * by `sim_ivfpq_auto` and the auto-geometry serving queries
    * (`t_hybrid_ann` / `t_mining_ann` in [[QueriesText]]).
    */
  private[queries] lazy val ivfPqScoreBodyAuto: String =
    ivfPqScoreBodyExpr(autoCoarseKSql)

  private def ivfPqScoreBodyExpr(kCoarseSql: String,
                                 src: String = "embeddings",
                                 qSrc: String = "embeddings"): String = {
    val m = 8; val sub = 8; val kc = 8; val iters = 2
    val subCtes = (0 until m).map { i =>
      kmeansSubCte(s"p${i}_",
        s"list_slice(re, ${i * sub + 1}, ${(i + 1) * sub})",
        sub, kc, iters, src = "resid")
    }.mkString(",\n")
    val reconJoins = (1 until m).map(i =>
      s"  JOIN f$i ON f$i.vec_id = f0.vec_id JOIN p${i}_cent$iters c$i ON c$i.c = f$i.c")
      .mkString("\n")
    val reconList = (0 until m).map(i => s"c$i.ce").mkString(" || ")
    val dqq = dotSql("q.e", "q.e")
    val dap = dotSql("q.e", "a.ap")
    val dapap = dotSql("a.ap", "a.ap")
    s"""${kmeansCentsCteExpr(kCoarseSql, iters = 2, src = src)},
       |ccent AS MATERIALIZED (SELECT c, ce FROM cent2),
       |ca AS (
       |  SELECT e.vec_id, e.embedding, s.c,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.embedding", "s.ce")} DESC, s.c ASC) AS rn
       |  FROM $src e, ccent s),
       |casg AS MATERIALIZED (SELECT vec_id, embedding, c AS coarse_c
       |  FROM ca WHERE rn = 1),
       |resid AS MATERIALIZED (
       |  SELECT a.vec_id,
       |    list_transform(range(1, ${Dim + 1}),
       |      i -> CAST(a.embedding[i] AS DOUBLE) - t.ce[i]) AS re,
       |    a.coarse_c
       |  FROM casg a JOIN ccent t ON t.c = a.coarse_c),
       |$subCtes,
       |${pqAssignCtes(m, sub, iters)},
       |recon AS MATERIALIZED (
       |  SELECT f0.vec_id, $reconList AS rrec
       |  FROM f0 JOIN p0_cent$iters c0 ON c0.c = f0.c
       |$reconJoins),
       |approx AS MATERIALIZED (
       |  SELECT r.vec_id, g.coarse_c,
       |    list_transform(range(1, ${Dim + 1}),
       |      i -> t.ce[i] + r.rrec[i]) AS ap
       |  FROM recon r
       |  JOIN casg g ON g.vec_id = r.vec_id
       |  JOIN ccent t ON t.c = g.coarse_c),
       |q AS (SELECT vec_id AS query_id, embedding AS e FROM $qSrc
       |      WHERE vec_id % 50 = 0),
       |probes AS (SELECT query_id, c FROM (
       |  SELECT q.query_id, s.c,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${cosSql("q.e", "s.ce")} DESC, s.c ASC) AS prn
       |  FROM q, ccent s) t WHERE prn <= 2),
       |s AS (
       |  SELECT q.query_id, a.vec_id AS match_id,
       |    $dap / (sqrt($dqq) * sqrt($dapap)) AS sim_ivfpq
       |  FROM approx a
       |  JOIN probes p ON p.c = a.coarse_c
       |  JOIN q ON q.query_id = p.query_id AND q.query_id <> a.vec_id)""".stripMargin
  }

  /** The SHARDED IVF-PQ oracle: per-shard score chains in SCOPED
    * subqueries (DuckDB CTE names resolve innermost-first, so the two
    * k-means chains coexist without prefixing), each over its disjoint
    * `vec_id % nShards` slice at the slice's own derived width, with
    * the query set drawn from the FULL corpus (`qall`) — then one
    * global rank over the unioned raw scores, mirroring
    * `Similarity.searchIvfPqIndexSharded` exactly.
    */
  private def ivfPqShardedOracleSql(nShards: Int): String = {
    val shardCtes = (0 until nShards).map(i =>
      s"shard$i AS (SELECT * FROM embeddings WHERE vec_id % $nShards = $i)")
      .mkString(",\n")
    val legs = (0 until nShards).map { i =>
      s"""SELECT query_id, match_id, sim_ivfpq FROM (
         |WITH ${ivfPqScoreBodyExpr(autoCoarseKSqlFrom(s"shard$i"),
        src = s"shard$i", qSrc = "qall")}
         |SELECT query_id, match_id, sim_ivfpq FROM s) leg$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH qall AS (SELECT vec_id, embedding FROM embeddings),
       |$shardCtes,
       |u AS (
       |$legs
       |)
       |${top10Sql("sim_ivfpq", "sim_ivfpq", from = "u")}""".stripMargin
  }

  /** Retrieve-and-rerank over the IVF-PQ index: the approximate scores
    * `s` nominate 50 candidates per query, only those candidates'
    * float vectors are exactly re-scored — mirror of
    * [[pqRerankOracleSql]] with the PQ full-scan CTE chain replaced by
    * the probe-pruned IVF-PQ body.
    */
  private lazy val ivfPqRerankOracleSql: String =
    rerankOracleSql(ivfPqScoreBody, "sim_ivfpq")

  /** The full IVF-PQ oracle SQL (body + rank-≤-10 tail). Shared verbatim
    * by `sim_ivfpq_topk` (train-in-query) and `sim_ivfpq_search`
    * (persisted index): the serving path reconstructs the same
    * arithmetic from stored codes, so one mirror checks both.
    */
  private lazy val ivfPqOracleSql: String =
    s"""WITH $ivfPqScoreBody
       |${top10Sql("sim_ivfpq", "sim_ivfpq")}""".stripMargin

  /** Oracles of the geometry-SWAPPED declared forms ([[ivfPqServe]]):
    * above [[DeclaredBruteSwap]] the PQ-brute quartet and
    * `sim_ivfpq_rerank` serve from the auto-width IVF-PQ index, so
    * their oracle is the auto-geometry search/rerank arithmetic (the
    * same body `sim_ivfpq_auto` proved hash-exact) with the declared
    * query's output column name. [[graft.SparkEntry.oracleSqlFor]]
    * selects these when the sf dir's corpus exceeds the bound — a
    * scaled Verify run content-checks the branch that actually ran.
    */
  private lazy val swappedSearchOracleSql: String =
    s"""WITH $ivfPqScoreBodyAuto
       |${top10Sql("sim_ivfpq", "sim_pq")}""".stripMargin

  private lazy val swappedRerankOracleSql: String =
    rerankOracleSql(ivfPqScoreBodyAuto, "sim_ivfpq")

  /** Content-fingerprinted persisted-index location: the cache key is an
    * MD5 over the embeddings table's file names, sizes, and mtimes plus
    * the full dir path and the build params — so regenerating a dataset
    * in the same directory (or two dirs whose `hashCode` collides) can
    * never serve a stale index trained on different data or settings.
    */
  private def indexDir(kind: String, dir: String, params: String): String =
    Q.indexDir(kind, dir, "embeddings", params)

  /** Geometry swap bound for the four DECLARED PQ-brute forms
    * (`sim_pq_topk/search/rerank/rerank_search`). Their scoring stage
    * is Θ(Q·N) BY DESIGN (compression, not pruning) — an honest
    * small-corpus baseline and oracle anchor, but 125–265 s at the
    * sf10 century point. Above this corpus size the declared queries
    * transparently serve the same top-k shape from a persisted
    * AUTO-GEOMETRY IVF-PQ index (lists ∝ √N, so the candidate stage
    * stays flat) instead of being hand-excluded from scaled sweeps.
    * Below it — every correctness-gate SF and the sf1 decade point —
    * the brute forms run unchanged and hash-match their oracles. The
    * quadratic forms stay available as library API, behind
    * [[graft.functions.Similarity.MaxBruteCorpus]]'s loud guard.
    */
  private[graft] val DeclaredBruteSwap = 50000L

  /** The serve-instead path for [[DeclaredBruteSwap]]: build-once
    * (derived width) IVF-PQ index, searched or reranked. `simName`
    * keeps the declared query's output schema stable across the swap.
    */
  private def ivfPqServe(s: org.apache.spark.sql.SparkSession, dir: String,
                         emb: org.apache.spark.sql.DataFrame,
                         queries: org.apache.spark.sql.DataFrame,
                         rerank: Boolean, simName: String)
      : org.apache.spark.sql.DataFrame = {
    val ix = indexDir("ivfpq", dir, "cAutoi2m8s8k8p2sd2")
    Q.buildOnce(s"$ix/codes/_SUCCESS")(
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", ix,
        nCoarse = 0, coarseIters = 2, m = 8, subDim = 8, nCentroids = 8,
        pqIters = 2, dim = Dim))
    if (rerank)
      Similarity.rerankIvfPqIndex(s, ix, emb, queries, "vec_id",
        "embedding", k = 10, candK = 50, nProbe = 2)
        .withColumnRenamed("sim", simName)
    else
      Similarity.searchIvfPqIndex(s, ix, queries, "vec_id", "embedding",
        k = 10, nProbe = 2)
        .withColumnRenamed("sim_ivfpq", simName)
  }

  /** Each vector's nearest centroid per PQ subspace, `f0..f{m-1}
    * (vec_id, c)`, over the subspace trainings `p<i>_`.
    */
  private def pqAssignCtes(m: Int, sub: Int, iters: Int): String =
    (0 until m).map { i =>
      s"""f$i AS (SELECT vec_id, c FROM (
         |  SELECT e.vec_id, s.c,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSqlN("e.se", "s.ce", sub)} DESC, s.c ASC) AS rn
         |  FROM p${i}_src e, p${i}_cent$iters s) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** The full PQ pipeline as CTEs — m subspace trainings, final
    * assignments `f0..f{m-1}`, reconstructions, the query set `q`, and
    * approximate scores `s (query_id, match_id, sim_pq)`. Shared by
    * `sim_pq_topk` (rank over `s`) and `sim_pq_rerank` (candidates from
    * `s`, exact re-score).
    */
  private def pqScoreCtes(m: Int, sub: Int, kc: Int, iters: Int): String = {
    val subCtes = (0 until m).map { i =>
      kmeansSubCte(s"p${i}_",
        s"list_slice(embedding, ${i * sub + 1}, ${(i + 1) * sub})",
        sub, kc, iters)
    }.mkString(",\n")
    val reconJoins = (1 until m).map(i =>
      s"  JOIN f$i ON f$i.vec_id = f0.vec_id JOIN p${i}_cent$iters c$i ON c$i.c = f$i.c")
      .mkString("\n")
    val reconList = (0 until m).map(i => s"c$i.ce").mkString(" || ")
    val dqq = dotSql("q.e", "q.e")
    val drr = dotSql("r.recon", "r.recon")
    val dqr = dotSql("q.e", "r.recon")
    s"""$subCtes,
       |${pqAssignCtes(m, sub, iters)},
       |recon AS MATERIALIZED (
       |  SELECT f0.vec_id, $reconList AS recon
       |  FROM f0 JOIN p0_cent$iters c0 ON c0.c = f0.c
       |$reconJoins),
       |q AS (SELECT vec_id AS query_id, embedding AS e FROM embeddings
       |      WHERE vec_id % 50 = 0),
       |s AS (
       |  SELECT query_id, r.vec_id AS match_id,
       |    $dqr / (sqrt($dqq) * sqrt($drr)) AS sim_pq
       |  FROM recon r JOIN q ON query_id <> r.vec_id)""".stripMargin
  }

  /** The 64 dHash bits of each keyframe, `bits (media_id, frame_idx,
    * i, bit)`: luma `l` of column x above that of column x + 1 in `lum`.
    */
  private val dHashBitsCte: String =
    """bits AS (SELECT a.media_id, a.frame_idx, a.x AS i,
      |           CASE WHEN a.l > b.l THEN 1 ELSE 0 END AS bit
      |         FROM lum a JOIN lum b
      |           ON a.media_id = b.media_id
      |          AND a.frame_idx = b.frame_idx AND b.x = a.x + 1
      |         WHERE a.x < 64)""".stripMargin

  /** The dHash of one keyframe's `bits` as a signed 64-bit integer (bit
    * 63 is the sign) — mirrors Multimodal's packing.
    */
  private val dHashSql: String =
    """CAST(sum(CASE WHEN i < 63
      |             THEN bit * (CAST(1 AS BIGINT) << i) ELSE 0 END)
      |    + CASE WHEN max(CASE WHEN i = 63 THEN bit ELSE 0 END) = 1
      |        THEN -9223372036854775807 - 1 ELSE 0 END AS BIGINT)""".stripMargin

  val defs: Seq[QDef] = Seq(

    // embedding-health dashboard: per-dimension integer stats over the
    // whole vector table (dead dimensions, scale drift, zero inflation
    // — what you check before trusting an ANN index on new vectors).
    // Elements quantize by the exact power-of-two floor(x·2^20) (the
    // LshBucketExpr contract), so sums/min/max/mean replay exactly;
    // one posexplode + one groupBy(dim) with map-side partials.
    QDef("sim_dim_stats",
      (s, dir) => {
        val q = floor(col("x").cast("double") * 1048576.0).cast("long")
        Q.table(s, dir, "embeddings")
          .select(posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("dim"), q.as("q"),
            (col("x") === 0.0f).cast("long").as("z"))
          .groupBy(col("dim"))
          .agg(count(lit(1)).as("n"), sum(col("z")).as("n_zero"),
            min(col("q")).as("min_q"), max(col("q")).as("max_q"),
            sum(col("q")).as("sum_q"),
            sum(col("q") * col("q")).as("sum_sq"),
            call_function("div", sum(col("q")), count(lit(1)))
              .as("mean_q"))
      },
      Some("""WITH e AS (
             |  SELECT unnest(embedding) AS x,
             |    unnest(range(0, len(embedding))) AS dim
             |  FROM embeddings),
             |q AS (SELECT CAST(dim AS INTEGER) AS dim,
             |        CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)
             |          AS q,
             |        CASE WHEN x = 0.0 THEN 1 ELSE 0 END AS z
             |      FROM e)
             |SELECT dim, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(z) AS BIGINT) AS n_zero,
             |  min(q) AS min_q, max(q) AS max_q,
             |  CAST(sum(q) AS BIGINT) AS sum_q,
             |  CAST(sum(q * q) AS BIGINT) AS sum_sq,
             |  CAST(CAST(sum(q) AS BIGINT) // count(*) AS BIGINT)
             |    AS mean_q
             |FROM q GROUP BY 1""".stripMargin)),

    // PCA leading eigenvector (dimensionality reduction over the vector
    // table): one-pass integer scatter via the homogeneous-coordinate
    // upper-triangle explode, 24 fixed integer power-iteration rounds on
    // the driver (d×d state — bounded by dimension, not data). The
    // oracle replays quantization → moments → covariance → all 24
    // rounds as unrolled CTEs → sign fix: any drift anywhere breaks it.
    QDef("emb_pca_component",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val (v, _, n) = graft.functions.Pca.leadingEigen(
          emb, "embedding", Dim, rounds = PcaRounds)
        import s.implicits._
        v.toSeq.zipWithIndex.map { case (vi, i) => (i, vi, n) }
          .toDF("dim", "v", "n")
      },
      Some(s"""WITH ${pcaCtes(PcaRounds)}
              |SELECT CAST(i AS INT) AS dim, v, n FROM vf, st""".stripMargin)),

    // PCA projection: every vector's coordinate along the leading
    // component — map-side, eigenvector + means inlined as literals
    // (the codebook-broadcast pattern); the 1-D reduction a drift
    // dashboard or embedding-space visualization actually plots.
    QDef("emb_pca_project",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val (v, m, _) = graft.functions.Pca.leadingEigen(
          emb, "embedding", Dim, rounds = PcaRounds)
        emb.select(col("vec_id"), col("label"),
          graft.functions.Pca.project(emb, "embedding", v, m).as("proj"))
      },
      Some(s"""WITH ${pcaCtes(PcaRounds)}
              |SELECT vec_id, label,
              |  CAST(sum((q[mn.i + 1] - mn.m) * vf.v) AS BIGINT) AS proj
              |FROM q, mn JOIN vf ON mn.i = vf.i
              |GROUP BY 1, 2""".stripMargin)),

    // brute-force cosine top-k (every 50th vector queries the corpus)
    QDef("sim_cosine_topk",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 50 === 0)
        Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
      },
      Some {
        val dqq = dotSql("q.e", "q.e")
        val dcc = dotSql("c.e", "c.e")
        val dqc = dotSql("q.e", "c.e")
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS e FROM embeddings
           |           WHERE vec_id % 50 = 0),
           |c AS (SELECT vec_id AS match_id, embedding AS e FROM embeddings),
           |s AS (
           |  SELECT query_id, match_id,
           |    $dqc / (sqrt($dqq) * sqrt($dcc)) AS sim
           |  FROM c, q WHERE query_id <> match_id)
           |${top10Sql("sim", "sim")}""".stripMargin
      }),

    // int8-style scalar-quantized top-k (the 4×-smaller-index ANN path):
    // same plan as sim_cosine_topk but both sides quantized to integral
    // codes — quantized products are exact small integers in double, so
    // the cosine is engine-portable under ANY summation order (the float
    // path needs the pinned left-assoc fold).
    QDef("sim_sq_topk",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 50 === 0)
        Similarity.quantizedTopK(emb, queries, "vec_id", "embedding", k = 10)
      },
      Some {
        def qSql(e: String) =
          s"list_transform($e, x -> greatest(-127.0, least(127.0, floor(CAST(x AS DOUBLE) * 200.0))))"
        val dqq = dotSql("q.e", "q.e")
        val dcc = dotSql("c.e", "c.e")
        val dqc = dotSql("q.e", "c.e")
        s"""WITH q AS (SELECT vec_id AS query_id, ${qSql("embedding")} AS e
           |           FROM embeddings WHERE vec_id % 50 = 0),
           |c AS (SELECT vec_id AS match_id, ${qSql("embedding")} AS e FROM embeddings),
           |s AS (
           |  SELECT query_id, match_id,
           |    $dqc / (sqrt($dqq) * sqrt($dcc)) AS sim_q
           |  FROM c, q WHERE query_id <> match_id)
           |${top10Sql("sim_q", "sim_q")}""".stripMargin
      }),

    // 1-bit binary-quantization top-k (sign-bit codes, Hamming ranking):
    // the cheapest ANN code — 8 bytes/vector (32× under float32), score =
    // two XOR+popcounts, pure integer end to end (no float ties anywhere).
    QDef("sim_bq_topk",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 50 === 0)
        Similarity.binaryTopK(emb, queries, "vec_id", "embedding", k = 10)
      },
      Some {
        def lo(e: String) = Similarity.binaryWordSql(e, 0, 32)
        def hi(e: String) = Similarity.binaryWordSql(e, 32, 64)
        s"""WITH q AS (SELECT vec_id AS query_id, ${lo("embedding")} AS q_lo,
           |             ${hi("embedding")} AS q_hi
           |           FROM embeddings WHERE vec_id % 50 = 0),
           |c AS (SELECT vec_id AS match_id, ${lo("embedding")} AS c_lo,
           |        ${hi("embedding")} AS c_hi FROM embeddings),
           |s AS (
           |  SELECT query_id, match_id,
           |    CAST(64 - bit_count(CAST(xor(q_lo, c_lo) AS BIGINT))
           |           - bit_count(CAST(xor(q_hi, c_hi) AS BIGINT)) AS INTEGER)
           |      AS hamming_sim
           |  FROM c, q WHERE query_id <> match_id)
           |SELECT query_id, match_id, rank, hamming_sim FROM (
           |  SELECT query_id, match_id, hamming_sim,
           |    CAST(row_number() OVER (PARTITION BY query_id
           |      ORDER BY hamming_sim DESC, match_id ASC) AS INT) AS rank
           |  FROM s) r
           |WHERE rank <= 10""".stripMargin
      }),

    // binary candidates + exact rerank: Hamming top-40 prunes (integer
    // ties ⇒ deterministic candidate SET), exact cosine picks the top-10
    // — the production two-stage shape for 1-bit codes.
    QDef("sim_bq_rerank",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 50 === 0)
        Similarity.binaryRerankTopK(emb, queries, "vec_id", "embedding",
          k = 10, cand = 40)
      },
      Some {
        def lo(e: String) = Similarity.binaryWordSql(e, 0, 32)
        def hi(e: String) = Similarity.binaryWordSql(e, 32, 64)
        val dqq = dotSql("q_emb", "q_emb")
        val dcc = dotSql("c_emb", "c_emb")
        val dqc = dotSql("q_emb", "c_emb")
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb,
           |             ${lo("embedding")} AS q_lo, ${hi("embedding")} AS q_hi
           |           FROM embeddings WHERE vec_id % 50 = 0),
           |c AS (SELECT vec_id AS match_id, embedding AS c_emb,
           |        ${lo("embedding")} AS c_lo, ${hi("embedding")} AS c_hi
           |      FROM embeddings),
           |h AS (
           |  SELECT query_id, match_id, q_emb, c_emb,
           |    CAST(64 - bit_count(CAST(xor(q_lo, c_lo) AS BIGINT))
           |           - bit_count(CAST(xor(q_hi, c_hi) AS BIGINT)) AS INTEGER)
           |      AS hamming_sim
           |  FROM c, q WHERE query_id <> match_id),
           |cand AS (
           |  SELECT query_id, match_id, q_emb, c_emb FROM (
           |    SELECT query_id, match_id, q_emb, c_emb,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY hamming_sim DESC, match_id ASC) AS rank_h
           |    FROM h) hr
           |  WHERE rank_h <= 40),
           |s AS (
           |  SELECT query_id, match_id,
           |    $dqc / (sqrt($dqq) * sqrt($dcc)) AS sim
           |  FROM cand)
           |${top10Sql("sim", "sim")}""".stripMargin
      }),

    // product-quantized top-k (Jégou et al. 2011 — the m-bytes-per-vector
    // index): 8 subspaces × 8 dims, 8 centroids each, trained by the same
    // deterministic k-means the IVF oracle proved engine-exact, run per
    // slice. Scoring = cosine against the reconstruction (≡ ADC table
    // sums). The oracle replays all 8 subspace trainings as CTE chains.
    QDef("sim_pq_topk",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 50 === 0)
        if (emb.count() > DeclaredBruteSwap)
          ivfPqServe(s, dir, emb, queries, rerank = false, simName = "sim_pq")
        else Similarity.pqTopK(emb, queries, "vec_id", "embedding", k = 10,
          m = 8, subDim = 8, nCentroids = 8, iters = 2)
      },
      Some(pqTopKOracleSql),
      oracleSwapped = Some(swappedSearchOracleSql)),

    // the persisted-index serving path: train+encode ONCE into an
    // on-disk index (codebooks + m-byte codes per vector), then search
    // against the stored codes only — the float corpus is never re-read.
    // The first invocation per sf dir pays the build; every later one
    // (bench reps 2+, production) is search-only, which is the number
    // that matters for a serving deployment. Training is deterministic,
    // so the index — and hence the result — is identical whether freshly
    // built or reused, and matches sim_pq_topk bit for bit.
    QDef("sim_pq_search",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 50 === 0)
        if (emb.count() > DeclaredBruteSwap)
          ivfPqServe(s, dir, emb, queries, rerank = false, simName = "sim_pq")
        else {
          // path carries a content fingerprint + the build params: neither
          // a regenerated dataset nor a parameter change can silently
          // reuse a stale index
          val ix = indexDir("pq", dir, "m8s8k8i2sd2")
          Q.buildOnce(s"$ix/codes/_SUCCESS")(
            Similarity.writePqIndex(emb, "vec_id", "embedding", ix,
              m = 8, subDim = 8, nCentroids = 8, iters = 2))
          Similarity.searchPqIndex(s, ix, queries, "vec_id", "embedding", k = 10)
        }
      },
      Some(pqTopKOracleSql),
      oracleSwapped = Some(swappedSearchOracleSql)),

    // two-stage retrieve-and-rerank: the PQ code index nominates 50
    // candidates per query, the float vectors of only those candidates
    // are exactly re-scored — the production ANN serving shape (compact
    // index recalls, exact pass fixes the ranking).
    QDef("sim_pq_rerank",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 50 === 0)
        if (emb.count() > DeclaredBruteSwap)
          ivfPqServe(s, dir, emb, queries, rerank = true, simName = "sim")
        else Similarity.pqRerankTopK(emb, queries, "vec_id", "embedding",
          k = 10, candK = 50, m = 8, subDim = 8, nCentroids = 8, iters = 2)
      },
      Some(pqRerankOracleSql),
      oracleSwapped = Some(swappedRerankOracleSql)),

    // retrieve-and-rerank SERVED from the persisted PQ index: stored
    // codes nominate the candidates (no training in the query), exact
    // cosine re-scores only those float vectors. Same oracle as
    // sim_pq_rerank — identical arithmetic, different code provenance.
    QDef("sim_pq_rerank_search",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 50 === 0)
        if (emb.count() > DeclaredBruteSwap)
          ivfPqServe(s, dir, emb, queries, rerank = true, simName = "sim")
        else {
          val ix = indexDir("pq", dir, "m8s8k8i2sd2")
          Q.buildOnce(s"$ix/codes/_SUCCESS")(
            Similarity.writePqIndex(emb, "vec_id", "embedding", ix,
              m = 8, subDim = 8, nCentroids = 8, iters = 2))
          Similarity.rerankPqIndex(s, ix, emb, queries, "vec_id", "embedding",
            k = 10, candK = 50)
        }
      },
      Some(pqRerankOracleSql),
      oracleSwapped = Some(swappedRerankOracleSql)),

    // IVF-PQ: coarse inverted lists + product-quantized RESIDUALS (the
    // canonical big-index composition). Oracle = coarse k-means chain +
    // residual CTE + 8 subspace chains TRAINED ON RESIDUALS + probe-list
    // pruning + cosine against coarse-centroid-plus-decoded-residual.
    QDef("sim_ivfpq_topk",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 50 === 0)
        Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", k = 10,
          nCoarse = 8, coarseIters = 2, m = 8, subDim = 8, nCentroids = 8,
          pqIters = 2, nProbe = 2, dim = Dim)
      },
      Some(ivfPqOracleSql)),

    // the IVF-PQ persisted-index serving path (mirror of sim_pq_search):
    // first invocation per sf dir trains coarse+residual quantizers and
    // writes meta + codes; later invocations (bench reps 2+, production)
    // search the stored codes only. Deterministic training => identical
    // index and results whether fresh or reused; same oracle as
    // sim_ivfpq_topk because the arithmetic matches bit for bit.
    QDef("sim_ivfpq_search",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 50 === 0)
        val ix = indexDir("ivfpq", dir, "c8i2m8s8k8p2sd2")
        Q.buildOnce(s"$ix/codes/_SUCCESS")(
          Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", ix,
            nCoarse = 8, coarseIters = 2, m = 8, subDim = 8, nCentroids = 8,
            pqIters = 2, dim = Dim))
        Similarity.searchIvfPqIndex(s, ix, queries, "vec_id", "embedding",
          k = 10, nProbe = 2)
      },
      Some(ivfPqOracleSql)),

    // retrieve-and-rerank SERVED from the persisted IVF-PQ index (the
    // production ANN shape end-to-end: probe-pruned candidate
    // nomination + exact re-score of only those float vectors) — the
    // scale path the PQ-brute quartet swaps to above DeclaredBruteSwap,
    // here hash-gated in its own right at every SF.
    QDef("sim_ivfpq_rerank",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 50 === 0)
        // same geometry swap as the PQ-brute quartet: the fixed-8-list
        // form is the oracle anchor (the SQL replays an 8-list k-means
        // chain), but 8 lists over a century corpus means ~N/4 probed
        // candidates per query (measured 51 s at sf10); above the bound
        // the query serves from the auto-width index (3 s at sf10)
        if (emb.count() > DeclaredBruteSwap)
          ivfPqServe(s, dir, emb, queries, rerank = true, simName = "sim")
        else {
          val ix = indexDir("ivfpq", dir, "c8i2m8s8k8p2sd2")
          Q.buildOnce(s"$ix/codes/_SUCCESS")(
            Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", ix,
              nCoarse = 8, coarseIters = 2, m = 8, subDim = 8, nCentroids = 8,
              pqIters = 2, dim = Dim))
          Similarity.rerankIvfPqIndex(s, ix, emb, queries, "vec_id",
            "embedding", k = 10, candK = 50, nProbe = 2)
        }
      },
      Some(ivfPqRerankOracleSql),
      oracleSwapped = Some(swappedRerankOracleSql)),

    // the architecture PAST the one-shard width ceiling (√N > 65536 at
    // N ≈ 4.3e9 vectors), exercised end to end at test scale: the
    // corpus splits into 2 disjoint id-shards, each builds its OWN
    // IVF-PQ index at its own derived width (8 lists/shard at sf0.01,
    // 16 at sf0.1 — the self-scaling rule stays oracle-proven in the
    // sharded form), every query fans out to both shards and the raw
    // candidate scores rank ONCE globally. The oracle replays both
    // per-shard k-means chains in scoped subqueries and merges the
    // same way, so the multi-index serving shape itself is hash-gated.
    QDef("sim_ivfpq_sharded",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 50 === 0)
        val ix = indexDir("ivfpqsh", dir, "n2autosd2")
        Q.buildOnce(s"$ix/shard=1/codes/_SUCCESS")(
          Similarity.writeIvfPqIndexSharded(emb, "vec_id", "embedding", ix,
            nShards = 2, nCoarse = 0, coarseIters = 2, m = 8, subDim = 8,
            nCentroids = 8, pqIters = 2, dim = Dim))
        Similarity.searchIvfPqIndexSharded(s, ix, 2, queries,
          "vec_id", "embedding", k = 10, nProbe = 2)
      },
      Some(ivfPqShardedOracleSql(2))),

    // the coarse-list SCALE KNOB measured: same IVF-PQ pipeline at 32
    // coarse lists instead of 8 — candidates/query drop from 1/4 to
    // 1/16 of the corpus (production sets lists ∝ √N so candidates
    // stay flat as the corpus grows; 8 is the oracle-tractable default,
    // this query proves the knob oracle-replays at width too).
    QDef("sim_ivfpq_wide",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 50 === 0)
        Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", k = 10,
          nCoarse = 32, coarseIters = 2, m = 8, subDim = 8, nCentroids = 8,
          pqIters = 2, nProbe = 2, dim = Dim)
      },
      Some {
        s"""WITH ${ivfPqScoreBodyK(32)}
           |${top10Sql("sim_ivfpq", "sim_ivfpq")}""".stripMargin
      }),

    // the coarse-list knob SELF-SCALING (round 11): nCoarse = 0 derives
    // the width from the corpus count (pow2floor(√N), floor 8) on BOTH
    // engines — the production sizing rule that keeps candidates/query
    // flat as the corpus grows, now oracle-replayed end to end. The
    // derived width CHANGES across scale factors (sf0.01 → 16 lists,
    // sf0.1 → 32), so a hash-green run at two SFs proves the derivation
    // itself, not one pinned constant.
    QDef("sim_ivfpq_auto",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 50 === 0)
        Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", k = 10,
          nCoarse = 0, coarseIters = 2, m = 8, subDim = 8, nCentroids = 8,
          pqIters = 2, nProbe = 2, dim = Dim)
      },
      Some {
        s"""WITH $ivfPqScoreBodyAuto
           |${top10Sql("sim_ivfpq", "sim_ivfpq")}""".stripMargin
      }),

    // the index-health audit behind the self-scaling geometry: one row
    // of occupancy stats over the persisted auto-width index's codes
    // table (list skew in ppm, empty lists). The oracle replays the
    // coarse k-means + assignment only — the same chain the search
    // oracles prove engine-exact — then aggregates occupancy.
    QDef("sim_index_health",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        // same content-fingerprinted build (and dir) as t_hybrid_ann /
        // t_mining_ann — one auto-geometry index serves all three
        val ix = Q.indexDir("ivfpq", dir, "embeddings", "cAi2m8s8k8p2sd2")
        Q.buildOnce(s"$ix/codes/_SUCCESS")(
          Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", ix,
            nCoarse = 0, coarseIters = 2, m = 8, subDim = 8,
            nCentroids = 8, pqIters = 2, dim = Dim))
        Similarity.indexHealth(s, ix)
      },
      Some(indexHealthSql("embeddings", shard = None))),

    // per-shard health of the sharded serving tier: the same audit,
    // one row PER SHARD (a degenerate shard hides inside aggregate
    // stats); reuses sim_ivfpq_sharded's content-keyed index
    QDef("sim_index_health_sharded",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val ix = indexDir("ivfpqsh", dir, "n2autosd2")
        Q.buildOnce(s"$ix/shard=1/codes/_SUCCESS")(
          Similarity.writeIvfPqIndexSharded(emb, "vec_id", "embedding", ix,
            nShards = 2, nCoarse = 0, coarseIters = 2, m = 8, subDim = 8,
            nCentroids = 8, pqIters = 2, dim = Dim))
        Similarity.indexHealthSharded(s, ix, 2)
      },
      Some {
        val legs = (0 until 2).map { i =>
          s"""SELECT * FROM (
             |${indexHealthSql(s"shard$i", shard = Some(i))}) leg$i""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH shard0 AS (SELECT * FROM embeddings WHERE vec_id % 2 = 0),
           |shard1 AS (SELECT * FROM embeddings WHERE vec_id % 2 = 1)
           |$legs""".stripMargin
      }),

    // truncation-fidelity audit (the Matryoshka question): per leading
    // width w, cos²(x, truncate_w(x)) = Σ_{i<w} x_i² / Σ x_i² exactly —
    // Q14-quantized integer sums per row, one groupBy over the width
    // list. The serving-dimension choice reads off this table.
    QDef("emb_truncation_audit",
      (s, dir) => graft.functions.EmbAudit.truncationAudit(
        Q.table(s, dir, "embeddings"), "embedding", widths = Seq(8, 16, 32)),
      Some {
        def ss(c: String) = s"list_sum(list_transform($c, v -> v * v))"
        s"""WITH q AS (SELECT list_transform(embedding,
           |    x -> CAST(floor(CAST(x AS DOUBLE) * 16384.0) AS BIGINT)) AS qv
           |  FROM embeddings),
           |t AS (SELECT w.width,
           |    1000000 * CAST(${ss("list_slice(qv, 1, w.width)")} AS BIGINT)
           |      // nullif(CAST(${ss("qv")} AS BIGINT), 0) AS ppm
           |  FROM q, (VALUES (8), (16), (32)) w(width))
           |SELECT CAST(width AS INT) AS width,
           |  CAST(count(ppm) AS BIGINT) AS n,
           |  CAST(sum(ppm) // greatest(count(ppm), 1) AS BIGINT)
           |    AS mean_cos2_ppm,
           |  CAST(min(ppm) AS BIGINT) AS min_cos2_ppm
           |FROM t GROUP BY 1""".stripMargin
      }),

    // random-hyperplane LSH bucket assignment (the ANN scale path) —
    // native codegen'd expression; quantized-integer hyperplane dots
    QDef("sim_lsh_buckets",
      (s, dir) => Q.table(s, dir, "embeddings").select(col("vec_id"),
        Similarity.lshBucket(col("embedding"), nPlanes = 12, dim = Dim).as("bucket")),
      Some(s"""SELECT vec_id, ${Similarity.lshBucketSql("embedding", 12, Dim)} AS bucket
              |FROM embeddings""".stripMargin)),

    // embedding-cosine near-dup pairs: LSH-bucket candidates (equi-join),
    // exact cosine verify — the dedup-family member over vectors; fully
    // oracle-checked (quantized-integer buckets + fixed-fold cosine).
    // maxBucketSize=100 is the skew cap (mirror of Dedup.maxShingleDf):
    // inert at sf0.001/0.01 (max bucket ~34) and LIVE at sf0.1 (top
    // buckets >100 dropped on both engine and oracle side identically).
    QDef("dd_embed_cosine",
      (s, dir) => Similarity.cosineNearDupPairs(Q.table(s, dir, "embeddings"),
        "vec_id", "embedding", tau = 0.3, nPlanes = 6, dim = Dim,
        maxBucketSize = 100L),
      Some {
        val dxy = dotSql("x.e", "y.e")
        val dxx = dotSql("x.e", "x.e")
        val dyy = dotSql("y.e", "y.e")
        s"""WITH b0 AS (SELECT vec_id AS id, embedding AS e,
           |  ${Similarity.lshBucketSql("embedding", 6, Dim)} AS bucket FROM embeddings),
           |b AS (SELECT id, e, bucket FROM (
           |  SELECT id, e, bucket, count(*) OVER (PARTITION BY bucket) AS bn
           |  FROM b0) WHERE bn <= 100)
           |SELECT x.id AS id_a, y.id AS id_b,
           |  round($dxy / (sqrt($dxx) * sqrt($dyy)), 6) AS cos
           |FROM b x JOIN b y ON x.bucket = y.bucket AND x.id < y.id
           |WHERE $dxy / (sqrt($dxx) * sqrt($dyy)) >= 0.3""".stripMargin
      }),

    // margin-based bitext mining (Artetxe & Schwenk 2019): mutual-best
    // margin pairs between the even-id and odd-id embedding halves.
    // LSH buckets bound candidates (the approximate-kNN stand-in of the
    // published pipeline); cosines floor-quantize to integer micro
    // immediately, so neighborhood means, margins and the mutual-best
    // selection replay exactly (truncating DIV both engines). The same
    // bucket-size cap as dd_embed_cosine keeps hub buckets from pairing
    // quadratically. SELF-SCALING geometry (round 11): nPlanes derives
    // from the corpus count (target ~32 vectors/bucket) on BOTH engines
    // — at sf0.01 that's 16 buckets, at sf0.1 64, at the century point
    // 8192, so candidates keep growing with the data instead of
    // saturating at a fixed 64-bucket cap (the round-10 recall bug).
    QDef("emb_bitext_mine",
      (s, dir) => graft.functions.Bitext.minePairs(
        Q.table(s, dir, "embeddings"), "vec_id", "embedding",
        nPlanes = resolvedPlanes(s, dir, 32L), dim = Dim, k = 4,
        maxBucketSize = 100L, minMarginMicro = 0L, targetBucketSize = 32L),
      Some {
        val dxy = dotSql("x.e", "y.e")
        val dxx = dotSql("x.e", "x.e")
        val dyy = dotSql("y.e", "y.e")
        s"""WITH autonp AS (SELECT ${autoPlanesSql(32)} AS np),
           |b0 AS (SELECT vec_id AS id, embedding AS e,
           |  ${Similarity.lshBucketSqlDyn("embedding", "(SELECT np FROM autonp)", Dim)} AS bucket FROM embeddings),
           |b AS (SELECT id, e, bucket FROM (
           |  SELECT id, e, bucket, count(*) OVER (PARTITION BY bucket) AS bn
           |  FROM b0) WHERE bn <= 100),
           |cand AS (SELECT x.id AS src_id, y.id AS tgt_id,
           |           CAST(floor(($dxy / (sqrt($dxx) * sqrt($dyy)))
           |             * 1000000.0) AS BIGINT) AS cos_micro
           |         FROM b x JOIN b y ON x.bucket = y.bucket
           |         WHERE x.id % 2 = 0 AND y.id % 2 = 1),
           |rk AS (SELECT src_id, tgt_id, cos_micro,
           |         row_number() OVER (PARTITION BY src_id
           |           ORDER BY cos_micro DESC, tgt_id) AS rf,
           |         row_number() OVER (PARTITION BY tgt_id
           |           ORDER BY cos_micro DESC, src_id) AS rb
           |       FROM cand),
           |fwd AS (SELECT src_id, CAST(sum(cos_micro) AS BIGINT) AS sf,
           |          CAST(count(*) AS BIGINT) AS kf
           |        FROM rk WHERE rf <= 4 GROUP BY 1),
           |bwd AS (SELECT tgt_id, CAST(sum(cos_micro) AS BIGINT) AS sb,
           |          CAST(count(*) AS BIGINT) AS kb
           |        FROM rk WHERE rb <= 4 GROUP BY 1),
           |sc AS (SELECT rk.src_id, rk.tgt_id, rk.cos_micro,
           |         rk.cos_micro - (fwd.sf + bwd.sb) // (fwd.kf + bwd.kb)
           |           AS margin_micro
           |       FROM rk JOIN fwd USING (src_id) JOIN bwd USING (tgt_id)),
           |mu AS (SELECT src_id, tgt_id, cos_micro, margin_micro,
           |         row_number() OVER (PARTITION BY src_id
           |           ORDER BY margin_micro DESC, tgt_id) AS mf,
           |         row_number() OVER (PARTITION BY tgt_id
           |           ORDER BY margin_micro DESC, src_id) AS mb
           |       FROM sc)
           |SELECT src_id, tgt_id, cos_micro, margin_micro FROM mu
           |WHERE mf = 1 AND mb = 1 AND margin_micro >= 0""".stripMargin
      }),

    // the bitext-mining saturation metric: the 1-row side output that
    // makes bucket-cap recall loss VISIBLE (buckets at cap, rows the
    // cap dropped, surviving candidate volume) — a healthy self-scaled
    // run shows buckets_at_cap ≈ 0; a saturated fixed-width run shows
    // the dropped mass directly. Same derived geometry as
    // emb_bitext_mine, so the stats describe exactly what that query
    // mined over.
    QDef("emb_bitext_saturation",
      (s, dir) => graft.functions.Bitext.saturationStats(
        Q.table(s, dir, "embeddings"), "vec_id", "embedding",
        nPlanes = resolvedPlanes(s, dir, 32L), dim = Dim,
        maxBucketSize = 100L, targetBucketSize = 32L),
      Some {
        s"""WITH autonp AS (SELECT ${autoPlanesSql(32)} AS np),
           |b0 AS (SELECT ${Similarity.lshBucketSqlDyn("embedding",
                     "(SELECT np FROM autonp)", Dim)} AS bucket
           |       FROM embeddings),
           |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c
           |      FROM b0 GROUP BY 1)
           |SELECT (SELECT np FROM autonp) AS n_planes,
           |  CAST(count(*) AS BIGINT) AS total_buckets,
           |  CAST(sum(CASE WHEN c > 100 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS buckets_at_cap,
           |  CAST(sum(CASE WHEN c > 100 THEN c ELSE 0 END) AS BIGINT)
           |    AS rows_dropped,
           |  CAST(sum(CASE WHEN c <= 100 THEN c * c ELSE 0 END) AS BIGINT)
           |    AS candidate_volume
           |FROM g""".stripMargin
      }),

    // per-label centroid outliers: each embedding scores the signed
    // square of its cosine to its label's integer-centroid (Q14
    // quantization, truncating mean, DECIMAL(38,0) ≡ HUGEINT products);
    // the bottom-5 per label are the mislabel/off-topic audit. Sqrt-free
    // so fully integer-exact across engines.
    QDef("emb_centroid_outlier",
      (s, dir) => graft.functions.EmbAudit.centroidOutliers(
        Q.table(s, dir, "embeddings"), "vec_id", "embedding", "label", k = 5),
      Some(s"""WITH q AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
              |  list_transform(embedding,
              |    x -> CAST(floor(CAST(x AS DOUBLE) * 16384.0) AS BIGINT)) AS q
              |  FROM embeddings),
              |ex AS (SELECT id, label, CAST(i AS INTEGER) AS d, q[i + 1] AS v
              |       FROM q, range(0, $Dim) t(i)),
              |cent AS (SELECT label, d,
              |           CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS m
              |         FROM ex GROUP BY 1, 2),
              |sc AS (SELECT ex.id, ex.label,
              |         CAST(sum(ex.v * cent.m) AS BIGINT) AS dot,
              |         CAST(sum(ex.v * ex.v) AS BIGINT) AS vv,
              |         CAST(sum(cent.m * cent.m) AS BIGINT) AS cc
              |       FROM ex JOIN cent ON cent.label = ex.label
              |                        AND cent.d = ex.d
              |       GROUP BY 1, 2),
              |r AS (SELECT id, label,
              |        CAST(CASE WHEN dot < 0 THEN
              |            -((CAST(dot AS HUGEINT) * dot * 1000000)
              |              // nullif(CAST(vv AS HUGEINT) * cc, 0))
              |          ELSE
              |            (CAST(dot AS HUGEINT) * dot * 1000000)
              |              // nullif(CAST(vv AS HUGEINT) * cc, 0)
              |          END AS BIGINT) AS cos2_signed_ppm
              |      FROM sc)
              |SELECT label, id AS vec_id, cos2_signed_ppm, rnk FROM (
              |  SELECT id, label, cos2_signed_ppm,
              |    CAST(row_number() OVER (PARTITION BY label
              |      ORDER BY cos2_signed_ppm ASC NULLS LAST, id ASC) AS INT) AS rnk
              |  FROM r) t
              |WHERE rnk <= 5""".stripMargin)),

    // SemDeDup-style semantic dedup: trained-quantizer clusters bound
    // the candidate self-join; within a cluster, any vector with a
    // cosine-≥-tau neighbor of smaller id is dropped (deterministic
    // greedy keep-lowest-id). Same k-means CTE chain and cosine fold
    // the sim_ivf_topk oracle already proved engine-exact.
    // maxClusterSize=140 is the skew cap, LIVE at sf0.1 (largest
    // trained cluster there is 143 -> its members skip pair generation
    // and stay kept, on both engine and oracle identically) and inert
    // at sf0.001/0.01 (clusters ~30-45).
    QDef("dd_semantic",
      (s, dir) => Similarity.semanticDedup(Q.table(s, dir, "embeddings"),
        "vec_id", "embedding", tau = 0.3, nCentroids = 16, iters = 3,
        dim = Dim, maxClusterSize = 140L),
      Some {
        val dxy = dotSql("x.e", "y.e")
        val dxx = dotSql("x.e", "x.e")
        val dyy = dotSql("y.e", "y.e")
        s"""WITH ${kmeansCentsCte(k = 16, iters = 3)},
           |cent AS MATERIALIZED (SELECT c, ce FROM cent3),
           |a AS (
           |  SELECT e.vec_id AS id, e.embedding AS e, s.c AS cluster,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${cosSql("e.embedding", "s.ce")} DESC, s.c ASC) AS rn
           |  FROM embeddings e, cent s),
           |asg AS MATERIALIZED (SELECT id, e, cluster FROM a WHERE rn = 1),
           |j AS (SELECT id, e, cluster FROM (
           |  SELECT id, e, cluster, count(*) OVER (PARTITION BY cluster) AS cn
           |  FROM asg) WHERE cn <= 140),
           |dup AS (
           |  SELECT DISTINCT y.id
           |  FROM j x JOIN j y ON x.cluster = y.cluster AND x.id < y.id
           |  WHERE $dxy / (sqrt($dxx) * sqrt($dyy)) >= 0.3)
           |SELECT asg.id AS vec_id, asg.cluster,
           |  dup.id IS NULL AS kept
           |FROM asg LEFT JOIN dup ON dup.id = asg.id""".stripMargin
      }),

    // LSH-bucketed top-k. Round 2: fully oracle-checked — the quantized-
    // integer buckets are engine-portable, so the candidate set (and
    // therefore the approximate top-k itself) is deterministic SQL.
    // Recall vs brute force stays pinned by ScalaTest.
    QDef("sim_lsh_topk",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 50 === 0)
        Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 10)
      },
      Some {
        val dqq = dotSql("q.e", "q.e")
        val dcc = dotSql("c.e", "c.e")
        val dqc = dotSql("q.e", "c.e")
        s"""WITH b AS (SELECT vec_id, embedding AS e,
           |  ${Similarity.lshBucketSql("embedding", 12, Dim)} AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, e, bucket FROM b WHERE vec_id % 50 = 0),
           |s AS (
           |  SELECT q.query_id, c.vec_id AS match_id,
           |    $dqc / (sqrt($dqq) * sqrt($dcc)) AS sim
           |  FROM b c JOIN q ON c.bucket = q.bucket AND q.query_id <> c.vec_id)
           |${top10Sql("sim", "sim")}""".stripMargin
      }),

    // IVF-style ANN over a TRAINED fixed-k coarse quantizer: driver
    // state is k·dim doubles regardless of corpus size (the round-2
    // every-Nth variant collected O(n) centroids — the one driver-side
    // scale-killer left). Training is deterministic Lloyd's k-means with
    // quantized-integer updates, so the full train-then-search pipeline
    // is oracle-reproducible end to end.
    QDef("sim_ivf_topk",
      (s, dir) => {
        val emb = Q.table(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") % 50 === 0)
        Similarity.ivfTopKTrained(emb, queries, "vec_id", "embedding", k = 10,
          nCentroids = 16, iters = 3, nProbe = 2, dim = Dim)
      },
      Some {
        s"""WITH ${kmeansCentsCte(k = 16, iters = 3)},
           |cent AS MATERIALIZED (SELECT CAST(c AS BIGINT) AS cent_id, ce FROM cent3),
           |a AS (
           |  SELECT e.vec_id AS match_id, e.embedding AS me, c.cent_id,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.cent_id ASC) AS rn
           |  FROM embeddings e, cent c),
           |assign AS (SELECT match_id, me, cent_id FROM a WHERE rn = 1),
           |qp AS (
           |  SELECT q.vec_id AS query_id, q.embedding AS qe, c.cent_id,
           |    row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY ${cosSql("q.embedding", "c.ce")} DESC, c.cent_id ASC) AS rn
           |  FROM embeddings q, cent c WHERE q.vec_id % 50 = 0),
           |probes AS (SELECT query_id, qe, cent_id FROM qp WHERE rn <= 2),
           |s AS (
           |  SELECT p.query_id, a.match_id, ${cosSql("p.qe", "a.me")} AS sim
           |  FROM probes p JOIN assign a ON p.cent_id = a.cent_id
           |  WHERE p.query_id <> a.match_id)
           |${top10Sql("sim", "sim")}""".stripMargin
      }),

    // multimodal metadata pass (no decode; payload = utf-8 bytes of text)
    QDef("mm_metadata",
      (s, dir) => Multimodal.metadata(Multimodal.documentsAsMedia(s, dir)),
      Some("""SELECT doc_id AS media_id,
             |  CASE WHEN doc_id % 3 = 0 THEN 'image'
             |       WHEN doc_id % 3 = 1 THEN 'audio'
             |       ELSE 'video' END AS kind,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |  md5(text) AS checksum
             |FROM documents""".stripMargin)),

    // decode + featurize through the pluggable codec. The sandbox codec
    // (StubMediaCodec) is pure integer arithmetic over the payload
    // bytes, so the whole per-partition decode pipeline is
    // oracle-checkable: byte sum via hex-pair parsing, dims/checksum
    // from (n, s) exactly as the stub computes them.
    QDef("mm_features",
      (s, dir) => Multimodal.decodeAndFeaturize(Multimodal.documentsAsMedia(s, dir))
        .toDF().select(col("media_id"), col("kind"), col("n_bytes"),
          col("checksum"), col("width"), col("height")),
      Some("""WITH m AS (
             |  SELECT doc_id AS media_id,
             |    CASE WHEN doc_id % 3 = 0 THEN 'image'
             |         WHEN doc_id % 3 = 1 THEN 'audio'
             |         ELSE 'video' END AS kind,
             |    encode(text) AS payload
             |  FROM documents),
             |b AS (
             |  SELECT media_id, kind, octet_length(payload) AS n,
             |    CAST(COALESCE(list_sum(list_transform(
             |      range(1, octet_length(payload) + 1),
             |      i -> CAST(('0x' || substr(hex(payload), 2 * i - 1, 2)) AS BIGINT))),
             |      0) AS BIGINT) AS s
             |  FROM m)
             |SELECT media_id, kind, CAST(n AS BIGINT) AS n_bytes,
             |  printf('%08x', s) AS checksum,
             |  CAST(n % 640 AS INT) AS width, CAST(s % 480 AS INT) AS height
             |FROM b""".stripMargin)),

    // perceptual near-dup pairs: 64-bit dHash (adjacent unsigned
    // greater-than bits over the codec-resized payload), banded 4×16
    // for candidates (SimHash pigeonhole), bit_count(xor) <= 2 verify.
    // The stub codec's resize is payload bytes cycled, so the oracle
    // replays the hash bit-for-bit via hex-pair byte extraction; 24
    // live pairs at sf0.01.
    QDef("mm_phash_pairs",
      (s, dir) => graft.functions.Multimodal.phashPairs(
        graft.functions.Multimodal.documentsAsMedia(s, dir),
        maxHamming = 2),
      Some("""WITH m AS (
             |  SELECT doc_id AS media_id, encode(text) AS payload
             |  FROM documents),
             |hx AS (SELECT media_id, hex(payload) AS hp,
             |         octet_length(payload) AS n
             |       FROM m WHERE octet_length(payload) > 0),
             |h AS (
             |  SELECT media_id,
             |    CAST(list_sum(list_transform(range(0, 63), i ->
             |      CASE WHEN
             |        CAST(('0x' || substr(hp, 2 * (i % n) + 1, 2)) AS BIGINT)
             |        > CAST(('0x' || substr(hp, 2 * ((i + 1) % n) + 1, 2))
             |            AS BIGINT)
             |      THEN CAST(1 AS BIGINT) << i ELSE 0 END))
             |      AS BIGINT)
             |    + CASE WHEN
             |        CAST(('0x' || substr(hp, 2 * (63 % n) + 1, 2)) AS BIGINT)
             |        > CAST(('0x' || substr(hp, 2 * (64 % n) + 1, 2))
             |            AS BIGINT)
             |      THEN -9223372036854775807 - 1 ELSE 0 END AS phash
             |  FROM hx),
             |bands AS (
             |  SELECT media_id, phash, b AS band_idx,
             |    (phash >> CAST(16 * b AS INTEGER)) & 65535 AS band_key
             |  FROM h, unnest(range(0, 4)) AS r(b)),
             |cand AS (
             |  SELECT DISTINCT a.media_id AS id_a, b2.media_id AS id_b,
             |    a.phash AS ha, b2.phash AS hb
             |  FROM bands a JOIN bands b2
             |    ON a.band_idx = b2.band_idx AND a.band_key = b2.band_key
             |   AND a.media_id < b2.media_id)
             |SELECT id_a, id_b,
             |  CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
             |FROM cand
             |WHERE bit_count(xor(ha, hb)) <= 2""".stripMargin)),

    // frame sampling: the one-to-many explode contract (stride, bound,
    // timestamps, frame sizes) is deterministic plumbing — oracle-checked
    // even though the codec is stubbed
    QDef("mm_frames",
      (s, dir) => Multimodal.sampleFrames(Multimodal.documentsAsMedia(s, dir),
          everyNth = 2, maxFrames = 3, fps = 25.0)
        .toDF().select(col("media_id"), col("frame_idx"), col("t_ms"),
          octet_length(col("frame")).as("n_frame_bytes")),
      Some("""WITH m AS (
             |  SELECT doc_id AS media_id, octet_length(encode(text)) AS len
             |  FROM documents WHERE doc_id % 3 = 2),
             |f AS (
             |  SELECT media_id, len,
             |    unnest(range(0, greatest(len // 256, 1), 2)) AS frame_idx
             |  FROM m)
             |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
             |  CAST(round(frame_idx / 25.0 * 1000) AS BIGINT) AS t_ms,
             |  CAST(CASE WHEN len >= 256 THEN 256 ELSE len END AS INT) AS n_frame_bytes
             |FROM f
             |QUALIFY row_number() OVER (PARTITION BY media_id ORDER BY frame_idx) <= 3""".stripMargin)),

    // MP4/WebM container metadata without any codec: each row builds a
    // deterministic container from per-row parameters (MediaContainers.
    // buildMp4/buildWebm — even docs MP4, odd WebM), parses it back with
    // the box/EBML walker, and emits the recovered facts; the oracle
    // recomputes the parameters algebraically. Any drift in EITHER the
    // builder or the parser (sizes, fixed-point dims, stss/SimpleBlock
    // keyframe flags, duration arithmetic) breaks the hash. Map-side:
    // payloads are built, parsed and dropped inside one task.
    QDef("mm_container",
      (s, dir) => {
        import s.implicits._
        val docs = Q.table(s, dir, "documents")
          .select(col("doc_id").cast("long"), col("n_chars").cast("long"))
          .as[(Long, Long)]
        val media = docs.map { case (id, nch) =>
          val w = 16 + ((id * 7) % 320).toInt
          val h = 16 + ((id * 11) % 240).toInt
          val nf = 1 + (nch % 24).toInt
          val ke = 1 + (id % 7).toInt
          val tpf = 20 + (id % 50).toInt
          val payload =
            if (id % 2 == 0) MediaContainers.buildMp4(w, h, nf, tpf, ke)
            else MediaContainers.buildWebm(w, h, nf, tpf, ke)
          (id, payload)
        }.toDF("media_id", "payload")
        Multimodal.containerMetadata(media).toDF()
          .select(col("media_id"), col("format"), col("duration_ms"),
            col("width"), col("height"), col("n_frames"),
            col("n_keyframes"), col("key_sum"))
      },
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    1 + n_chars % 24 AS nf,
             |    1 + doc_id % 7 AS ke,
             |    20 + doc_id % 50 AS tpf
             |  FROM documents),
             |k AS (SELECT doc_id, nf, ke, tpf,
             |        (nf + ke - 1) // ke AS nk FROM p)
             |SELECT doc_id AS media_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'webm' END AS format,
             |  CAST(nf * tpf AS BIGINT) AS duration_ms,
             |  CAST(16 + (doc_id * 7) % 320 AS INT) AS width,
             |  CAST(16 + (doc_id * 11) % 240 AS INT) AS height,
             |  CAST(nf AS INT) AS n_frames,
             |  CAST(nk AS INT) AS n_keyframes,
             |  CAST(ke * (nk * (nk - 1) // 2) AS BIGINT) AS key_sum
             |FROM k""".stripMargin)),

    // video I-frame perceptual hash: each row builds an intra-coded
    // container — MP4 (even docs, sample-table slicing) or WebM (odd,
    // keyflagged SimpleBlocks) — every sample a real lossless PNG whose
    // column lumas follow an integer formula; the operator slices each
    // keyframe's exact bytes, decodes it standalone through
    // ImageIO, and dHashes the column-mean lumas. The oracle recomputes
    // the lumas algebraically — any drift in the builder, the
    // stss/stsz/stco slicing, the PNG round-trip, or the bit packing
    // breaks the hash. Map-side end to end; payloads never shuffle.
    QDef("mm_video_phash",
      (s, dir) => {
        import s.implicits._
        val docs = Q.table(s, dir, "documents")
          .select(col("doc_id").cast("long"), col("n_chars").cast("long"))
          .as[(Long, Long)]
        // the synthetic container build is part of the timed query, and
        // its cost is the PNG codec: spread it over the full core count
        // (the 2-split parquet scan starved 30 of 32 cores — measured
        // 2 tasks for the whole stage) and memoize the ≤ 5×256 distinct
        // frame bitmaps PER TASK (the generator formula reuses them
        // heavily; the memo lives and dies with the partition)
        val media = docs.repartition(s.sparkContext.defaultParallelism)
          .mapPartitions { it =>
            val fm = scala.collection.mutable.HashMap
              .empty[(Int, Int), Array[Byte]]
            def frame(mult: Int, add: Int): Array[Byte] =
              fm.getOrElseUpdate((mult, add),
                Multimodal.pngColumnFrame(mult, add))
            it.map { case (id, nch) =>
              val nf = 1 + (nch % 24).toInt
              val ke = 1 + (id % 7).toInt
              val mult = 1 + (id % 5).toInt
              val frames = (0 until nf).map(j =>
                frame(mult, ((7L * j + id) % 256).toInt))
              // even docs MP4, odd WebM (the mm_container split): the
              // hash must be container-independent — same pixels, same
              // dHash
              if (id % 2 == 0)
                (id, "video/mp4",
                  MediaContainers.buildMp4Samples(65, 3, frames, 40, ke))
              else
                (id, "video/webm",
                  MediaContainers.buildWebmSamples(65, 3, frames, 40, ke))
            }
          }.toDF("media_id", "kind", "payload")
        Multimodal.videoKeyframePhash(media).toDF()
      },
      Some(s"""WITH p AS (
             |  SELECT doc_id AS media_id,
             |    1 + n_chars % 24 AS nf,
             |    1 + doc_id % 7 AS ke,
             |    1 + doc_id % 5 AS mult
             |  FROM documents),
             |kf AS (SELECT media_id, mult,
             |         unnest(range(0, nf, ke)) AS frame_idx FROM p),
             |lum AS (SELECT media_id, frame_idx, x,
             |          (x * mult + 7 * frame_idx + media_id) % 256 AS l
             |        FROM kf, unnest(range(0, 65)) AS t(x)),
             |$dHashBitsCte
             |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
             |  CAST(65 AS INT) AS frame_w, CAST(3 AS INT) AS frame_h,
             |  $dHashSql AS phash
             |FROM bits GROUP BY media_id, frame_idx""".stripMargin)),

    // shot-boundary detection: the synthetic frames change their luma
    // slope every 8 frames (a real content change), so successive
    // keyframe dHashes jump at scene boundaries; cuts = hamming > 10,
    // scene_idx = running cut count. Decode + hash map-side through the
    // same MP4/WebM keyframe path as mm_video_phash; the oracle replays
    // lumas → bits → hash → lag → bit_count(xor) → cumulative sum.
    QDef("mm_video_scenes",
      (s, dir) => {
        import s.implicits._
        val docs = Q.table(s, dir, "documents")
          .select(col("doc_id").cast("long"), col("n_chars").cast("long"))
          .as[(Long, Long)]
        // same parallelism + per-task frame-memo treatment as
        // mm_video_phash (scenes add the ±slope sign, so ≤ 10×256
        // distinct bitmaps)
        val media = docs.repartition(s.sparkContext.defaultParallelism)
          .mapPartitions { it =>
            val fm = scala.collection.mutable.HashMap
              .empty[(Int, Int), Array[Byte]]
            def frame(mult: Int, add: Int): Array[Byte] =
              fm.getOrElseUpdate((mult, add),
                Multimodal.pngColumnFrame(mult, add))
            it.map { case (id, nch) =>
              val nf = 1 + (nch % 24).toInt
              val ke = 1 + (id % 7).toInt
              val frames = (0 until nf).map { j =>
                val slope = (1 + (id + j / 8) % 5).toInt
                // scenes alternate ascending/descending ramps — a sign
                // flip rewrites nearly every dHash bit, a real visual
                // change; same-slope neighbors differ in only a few
                // wrap positions
                val mult = if ((j / 8) % 2 == 0) slope else -slope
                frame(mult, ((7L * j + id) % 256).toInt)
              }
              if (id % 2 == 0)
                (id, "video/mp4",
                  MediaContainers.buildMp4Samples(65, 3, frames, 40, ke))
              else
                (id, "video/webm",
                  MediaContainers.buildWebmSamples(65, 3, frames, 40, ke))
            }
          }.toDF("media_id", "kind", "payload")
        Multimodal.videoSceneCuts(media, cutHamming = 10)
      },
      Some(s"""WITH p AS (
             |  SELECT doc_id AS media_id,
             |    1 + n_chars % 24 AS nf,
             |    1 + doc_id % 7 AS ke
             |  FROM documents),
             |kf AS (SELECT media_id,
             |         unnest(range(0, nf, ke)) AS frame_idx FROM p),
             |lum AS (SELECT media_id, frame_idx, x,
             |          ((x * (1 + (media_id + frame_idx // 8) % 5)
             |              * (CASE WHEN (frame_idx // 8) % 2 = 0
             |                 THEN 1 ELSE -1 END)
             |            + 7 * frame_idx + media_id) % 256 + 256) % 256 AS l
             |        FROM kf, unnest(range(0, 65)) AS t(x)),
             |$dHashBitsCte,
             |ph AS (SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
             |         $dHashSql AS phash
             |       FROM bits GROUP BY media_id, frame_idx),
             |lg AS (SELECT media_id, frame_idx, phash,
             |         lag(phash) OVER (PARTITION BY media_id
             |           ORDER BY frame_idx) AS prev
             |       FROM ph),
             |ct AS (SELECT media_id, frame_idx, phash,
             |         CASE WHEN prev IS NOT NULL THEN
             |           CAST(bit_count(CAST(xor(phash, prev) AS BIGINT)) AS INT)
             |         END AS hamming_prev
             |       FROM lg)
             |SELECT media_id, frame_idx, phash, hamming_prev,
             |  coalesce(hamming_prev > 10, false) AS is_cut,
             |  CAST(sum(CASE WHEN coalesce(hamming_prev > 10, false)
             |        THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY media_id ORDER BY frame_idx) AS INT)
             |    AS scene_idx
             |FROM ct""".stripMargin)),

    // real WAV/PCM audio decode: each row builds a deterministic PCM16
    // mono WAV (header + junk LIST chunk + samples synthesized from
    // doc_id), parses it back through the RIFF chunk walker and emits
    // integer signal features; the oracle recomputes the same samples
    // algebraically. Any drift in the builder OR the parser (chunk
    // sizes, pad bytes, little-endian sample decode, duration/rms
    // arithmetic) breaks the hash. Map-side end to end: payloads are
    // built, parsed and dropped inside one task.
    QDef("mm_audio",
      (s, dir) => {
        import s.implicits._
        val docs = Q.table(s, dir, "documents")
          .select(col("doc_id").cast("long")).as[Long]
        val media = docs.map { id =>
          val n = (20 + id % 50).toInt
          val rate = (8000 + (id % 8) * 1000).toInt
          val samples = Array.tabulate(n)(i =>
            (((id * 31 + i * 17 + 7) % 65521) - 32768).toShort)
          (id, Audio.buildWav(rate, samples))
        }.toDF("media_id", "payload")
        Audio.pcmFeatures(media).toDF()
      },
      Some("""WITH p AS (
             |  SELECT doc_id, 20 + doc_id % 50 AS n,
             |         8000 + (doc_id % 8) * 1000 AS rate
             |  FROM documents),
             |s AS (SELECT doc_id, n, rate, unnest(range(0, n)) AS i FROM p),
             |v AS (SELECT doc_id,
             |        ((doc_id * 31 + i * 17 + 7) % 65521) - 32768 AS sv
             |      FROM s),
             |a AS (SELECT doc_id,
             |        CAST(sum(sv * sv) AS BIGINT) AS sum_sq,
             |        CAST(max(abs(sv)) AS BIGINT) AS peak
             |      FROM v GROUP BY doc_id)
             |SELECT p.doc_id AS media_id,
             |  CAST(p.rate AS INT) AS sample_rate,
             |  CAST(1 AS INT) AS channels,
             |  CAST(16 AS INT) AS bits,
             |  CAST(p.n AS BIGINT) AS n_samples,
             |  CAST(p.n * 1000000 // p.rate AS BIGINT) AS duration_us,
             |  a.peak, a.sum_sq,
             |  CAST(floor(sqrt(CAST(a.sum_sq * 1000000 // p.n AS DOUBLE)))
             |    AS BIGINT) AS rms_milli
             |FROM p JOIN a USING (doc_id)""".stripMargin)),

    // energy-threshold VAD segmentation (the speech-curation pass before
    // transcription): synthetic mono PCM16 with alternating quiet/loud
    // 40-sample stretches goes through the REAL WAV build→parse→segment
    // path map-side; the oracle replays the sample formula, per-frame
    // Σ|s|, threshold and gap-and-island merge in pure integer SQL.
    // acoustic duplicate detection: Haitsma-Kalker sub-fingerprints
    // (time-domain variant — band energies are frame time-segments so
    // the bit derivation replays in integer SQL) through the REAL WAV
    // build→parse path; docs ≡3 (mod 7) reuse their predecessor's
    // sample formula, planting exact-duplicate pairs the lookup-table
    // match must find. Near-silence buckets are df-capped before
    // pairing (the audio analogue of boilerplate shingles).
    QDef("mm_audio_fp_pairs",
      (s, dir) => {
        import s.implicits._
        val docs = Q.table(s, dir, "documents")
          .select(col("doc_id").cast("long")).as[Long]
        val media = docs.map { id =>
          val base = if (id % 7 == 3) id - 1 else id
          val n = (128 + (base % 3) * 64).toInt
          val samples = Array.tabulate(n) { i =>
            // quadratic mix mod prime: the plain linear congruence makes
            // segment energies near-monotone and every stream's delta
            // signs correlate (giant fingerprint buckets)
            val x = (base * 131 + i * 29 + 11) % 65521
            (((x * x * 31 + x * 7 + i * 13) % 65521) - 32768).toShort
          }
          (id, Audio.buildWav(8000, samples))
        }.toDF("media_id", "payload")
        Audio.fingerprintPairs(
          Audio.subFingerprints(media, segSamples = 4, segs = 8),
          minMatches = 3L)
      },
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 3 THEN doc_id - 1 ELSE doc_id END
             |      AS base
             |  FROM documents),
             |g AS (SELECT doc_id, base, 128 + (base % 3) * 64 AS n FROM p),
             |s0 AS (SELECT doc_id, i,
             |         (base * 131 + i * 29 + 11) % 65521 AS x
             |       FROM (SELECT doc_id, base, n, unnest(range(0, n)) AS i
             |             FROM g) t),
             |s AS (SELECT doc_id, i,
             |        ((x * x * 31 + x * 7 + i * 13) % 65521) - 32768 AS sv
             |      FROM s0),
             |e AS (SELECT doc_id, i // 32 AS f, (i % 32) // 4 AS b,
             |        CAST(sum(CAST(sv AS BIGINT) * sv) AS BIGINT) AS en
             |      FROM s GROUP BY 1, 2, 3),
             |d AS (SELECT a.doc_id, a.f, a.b,
             |        a.en - ab.en - pa.en + pb.en AS dd
             |      FROM e a
             |      JOIN e ab ON ab.doc_id = a.doc_id AND ab.f = a.f
             |               AND ab.b = a.b + 1
             |      JOIN e pa ON pa.doc_id = a.doc_id AND pa.f = a.f - 1
             |               AND pa.b = a.b
             |      JOIN e pb ON pb.doc_id = a.doc_id AND pb.f = a.f - 1
             |               AND pb.b = a.b + 1
             |      WHERE a.b < 7 AND a.f >= 1),
             |fp AS (SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
             |         CAST(sum(CASE WHEN dd > 0
             |           THEN CAST(1 AS BIGINT) << CAST(b AS INT)
             |           ELSE 0 END) AS BIGINT) AS fp_bits
             |       FROM d GROUP BY 1, 2),
             |bk AS (SELECT frame_idx, fp_bits FROM fp
             |       GROUP BY 1, 2 HAVING count(*) <= 64),
             |h AS (SELECT fp.* FROM fp JOIN bk USING (frame_idx, fp_bits))
             |SELECT x.doc_id AS media_a, y.doc_id AS media_b,
             |  CAST(count(*) AS BIGINT) AS n_matches
             |FROM h x JOIN h y ON x.frame_idx = y.frame_idx
             |  AND x.fp_bits = y.fp_bits AND x.doc_id < y.doc_id
             |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin)),

    QDef("mm_audio_vad",
      (s, dir) => {
        import s.implicits._
        val docs = Q.table(s, dir, "documents")
          .select(col("doc_id").cast("long")).as[Long]
        val media = docs.map { id =>
          val n = (80 + id % 80).toInt
          val rate = (8000 + (id % 8) * 1000).toInt
          val samples = Array.tabulate(n) { i =>
            val raw = (id * 31 + i * 17 + 7) % 65521
            val sv = if ((i / 40) % 2 == 1) raw % 60000 - 30000
                     else raw % 1200 - 600
            sv.toShort
          }
          (id, Audio.buildWav(rate, samples))
        }.toDF("media_id", "payload")
        Audio.vadSegments(media, frameSamples = 20, thrAmp = 2000L).toDF()
      },
      Some("""WITH p AS (SELECT doc_id, 80 + doc_id % 80 AS n,
             |         8000 + (doc_id % 8) * 1000 AS rate
             |       FROM documents),
             |s AS (SELECT doc_id, n, rate, unnest(range(0, n)) AS i FROM p),
             |v AS (SELECT doc_id, rate, i, i // 20 AS f,
             |        CASE WHEN (i // 40) % 2 = 1
             |          THEN ((doc_id * 31 + i * 17 + 7) % 65521) % 60000 - 30000
             |          ELSE ((doc_id * 31 + i * 17 + 7) % 65521) % 1200 - 600
             |        END AS sv
             |      FROM s),
             |fr AS (SELECT doc_id, rate, f,
             |         CAST(sum(abs(sv)) AS BIGINT) AS sum_abs,
             |         count(*) AS flen
             |       FROM v GROUP BY 1, 2, 3),
             |isl AS (SELECT *, f - row_number() OVER (PARTITION BY doc_id
             |            ORDER BY f) AS grp
             |        FROM fr WHERE sum_abs > 2000 * flen),
             |seg AS (SELECT doc_id, rate, min(f) AS start_frame,
             |          CAST(count(*) AS BIGINT) AS n_frames,
             |          CAST(sum(sum_abs) AS BIGINT) AS sum_abs,
             |          max(f * 20 + flen) AS end_sample
             |        FROM isl GROUP BY doc_id, rate, grp)
             |SELECT doc_id AS media_id,
             |  CAST(row_number() OVER (PARTITION BY doc_id
             |    ORDER BY start_frame) - 1 AS INT) AS seg_idx,
             |  CAST(start_frame AS BIGINT) AS start_frame, n_frames,
             |  CAST(start_frame * 20 * 1000000 // rate AS BIGINT) AS start_us,
             |  CAST(end_sample * 1000000 // rate AS BIGINT) AS end_us,
             |  sum_abs
             |FROM seg""".stripMargin)),

    // content-hash dedup of binary payloads: md5 computed map-side, only
    // (media_id, checksum) shuffles — payload bytes stay in their scan
    // partitions. Canonical = min media_id per checksum group.
    QDef("mm_dedup",
      (s, dir) => Multimodal.dedupByContent(Multimodal.documentsAsMedia(s, dir)),
      Some("""SELECT doc_id AS media_id, md5(text) AS checksum,
             |  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
             |  count(*) OVER (PARTITION BY md5(text)) AS group_size,
             |  doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
             |FROM documents""".stripMargin)),

    // content-defined chunking dedup (LBFS/FastCDC shape): Karp-Rabin
    // boundaries + chunk fingerprints in ONE compiled map-side pass —
    // payload bytes never shuffle, only chunk coordinate rows; global
    // first-occurrence via the two-phase groupBy(fp).agg(min(struct)).
    // DuckDB replays the window hash term-by-term (B^p mod M literals)
    // and fingerprints chunks off the same uppercase-hex encoding.
    QDef("mm_cdc_dedup",
      (s, dir) => graft.functions.Cdc.dedupStats(
        Q.table(s, dir, "documents").select(
          col("doc_id").as("media_id"), col("source"),
          encode(col("text"), "UTF-8").as("payload")),
        strata = Seq("source")),
      Some("""WITH m AS (SELECT doc_id AS media_id, source,
             |         encode(text) AS payload FROM documents),
             |b AS (SELECT media_id, source, hex(payload) AS hx,
             |        octet_length(payload) AS n,
             |        list_transform(range(1, octet_length(payload) + 1),
             |          i -> CAST(('0x' || substr(hex(payload), 2 * i - 1, 2))
             |            AS BIGINT)) AS bytes
             |      FROM m WHERE octet_length(payload) > 0),
             |bnd AS (SELECT media_id, source, hx,
             |  list_sort(list_distinct(list_append(
             |    list_filter(range(16, n + 1), i ->
             |      (CAST(list_sum(list_transform(range(0, 16), k ->
             |         bytes[i - 15 + k] *
             |         ([1079017218, 330081243, 1346595130, 1150007217,
             |           1090750511, 1775709275, 483199522, 1213495441,
             |           623063367, 336663071, 168429323, 67503107,
             |           16974593, 66049, 257, 1])[k + 1])) AS BIGINT)
             |       % 2147483647) & 63 = 0),
             |    CAST(n AS BIGINT)))) AS ends
             |  FROM b),
             |ch0 AS (SELECT media_id, source, hx,
             |          unnest(list_transform(range(1, len(ends) + 1), j ->
             |            struct_pack(o := CASE WHEN j = 1 THEN 0
             |                             ELSE ends[CAST(j - 1 AS INT)] END,
             |                        e := ends[CAST(j AS INT)]))) AS c
             |        FROM bnd),
             |ch AS (SELECT media_id, source,
             |         CAST(c.o AS BIGINT) AS chunk_off,
             |         CAST(c.e - c.o AS BIGINT) AS chunk_len,
             |         md5(substr(hx, CAST(2 * c.o + 1 AS INT),
             |                    CAST(2 * (c.e - c.o) AS INT))) AS chunk_fp
             |       FROM ch0),
             |fo AS (SELECT chunk_fp,
             |         min(struct_pack(m := media_id, o := chunk_off)) AS f
             |       FROM ch GROUP BY chunk_fp)
             |SELECT source, count(*) AS n_chunks,
             |  CAST(sum(CASE WHEN ch.media_id = fo.f.m AND ch.chunk_off = fo.f.o
             |                THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_chunks,
             |  CAST(sum(chunk_len) AS BIGINT) AS bytes_total,
             |  CAST(sum(CASE WHEN ch.media_id = fo.f.m AND ch.chunk_off = fo.f.o
             |                THEN 0 ELSE chunk_len END) AS BIGINT) AS bytes_dup
             |FROM ch JOIN fo USING (chunk_fp)
             |GROUP BY source""".stripMargin))
  )
}
