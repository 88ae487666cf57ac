package graft.queries

import graft.functions.{Bpe, Dedup, Dsir, Portable, Retrieval, Sampling, TextAnalysis, Train}
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication queries over the `documents` table.
  * The oracle SQL mirrors each Spark expression exactly (same regexes,
  * same integer hash arithmetic, same fold order), so results hash-match.
  */
object QueriesText {

  // SQL building blocks mirroring TextAnalysis/Dedup ----------------------

  /** normalized text (lower, trim, collapse whitespace) — NOTE the 'g'
    * flag: DuckDB regexp_replace is first-match-only by default, Spark's
    * is global.
    */
  private val normSql = """regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"""
  private val wordsSql = s"regexp_split_to_array($normSql, '\\s+')"
  private val rawTokensSql = """regexp_split_to_array(trim(text), '\s+')"""

  /** distinct 3-shingles body (mirrors Dedup.shingles). */
  private val shinglesBody =
    s"""w AS (SELECT doc_id, $wordsSql AS words FROM documents),
       |%s AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(1, greatest(len(words) - 2, 0) + 1),
       |        i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS shingle
       |    FROM w) t)""".stripMargin

  /** distinct 3-shingles CTE over documents, named `sh`. */
  private val shinglesCte = shinglesBody.format("sh")

  /** df-capped variant (mirrors Dedup.ngramJaccardPairs' maxShingleDf):
    * shingles appearing in more than `cap` docs are dropped from the
    * inverted index BEFORE sizes/co — the skew guard against boilerplate
    * shingles whose df² blows up the self-join at corpus scale.
    */
  private def cappedShinglesCte(cap: Long) =
    s"""${shinglesBody.format("sh0")},
       |shq AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= $cap),
       |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN shq USING (shingle))""".stripMargin

  /** 32-bit portable base hash (mirrors Dedup.baseHash). */
  private def baseHashSql(c: String): String =
    s"CAST(('0x' || substr(md5($c), 1, 8)) AS BIGINT)"

  /** Fixed-`len`-word passage CTE ending in `p (doc_id, pidx, passage)`
    * — mirrors [[TextAnalysis.passages]] (normalized words, stride =
    * len, last passage short).
    */
  private def passageCte(len: Int): String =
    s"""wn AS (SELECT doc_id, regexp_split_to_array($normSql, ' ') AS words
       |       FROM documents),
       |p AS (
       |  SELECT doc_id, CAST((s - 1) // $len AS BIGINT) AS pidx,
       |         array_to_string(list_slice(words, s, s + ${len - 1}), ' ') AS passage
       |  FROM (SELECT doc_id, words,
       |          unnest(range(1, len(words) + 1, $len)) AS s FROM wn))""".stripMargin

  /** Rebuild CTEs over `p` (all passages) and `kept` — mirrors
    * [[TextAnalysis.reassemblePassages]].
    */
  private val reassembleCtes: String =
    """tot AS (SELECT doc_id, count(*) AS n_passages FROM p GROUP BY 1),
      |ka AS (SELECT doc_id, count(*) AS n_kept,
      |         string_agg(passage, ' ' ORDER BY pidx) AS clean_text
      |       FROM kept GROUP BY 1)""".stripMargin

  private val reassembleSelect: String =
    """SELECT t.doc_id, t.n_passages,
      |  coalesce(ka.n_kept, 0) AS n_kept,
      |  coalesce(ka.clean_text, '') AS clean_text
      |FROM tot t LEFT JOIN ka USING (doc_id)""".stripMargin

  /** Winnowing-fingerprint CTE chain over documents, ending in
    * `m (doc_id, wf)` — mirrors [[TextAnalysis.winnowingFingerprints]]
    * (k-char grams, window w, Karp-Rabin Horner fold, identical
    * integer arithmetic both engines).
    */
  private val winnowCte: String = {
    val B = TextAnalysis.WinnowB
    val P = TextAnalysis.WinnowP
    val k = TextAnalysis.WinnowK
    val w = TextAnalysis.WinnowW
    // identical Horner fold: (((c0*B + c1) % P)*B + c2) % P ...
    val horner = (0 until k).foldLeft("CAST(0 AS BIGINT)") { (h, j) =>
      s"(($h * $B + codes[i + $j]) % $P)"
    }
    s"""wn AS (SELECT doc_id,
       |    rpad($normSql, CAST(greatest(length($normSql), $k) AS INTEGER), ' ') AS norm
       |  FROM documents),
       |wc AS (SELECT doc_id,
       |  list_transform(range(1, length(norm) + 1),
       |    i -> CAST(ascii(substr(norm, i, 1)) AS BIGINT)) AS codes
       |  FROM wn),
       |wg AS (SELECT doc_id,
       |  list_transform(range(1, len(codes) - ${k - 1} + 1),
       |    i -> $horner) AS grams
       |  FROM wc),
       |m AS (SELECT doc_id,
       |  list_sort(list_distinct(
       |    list_transform(range(1, greatest(len(grams) - ${w - 1}, 1) + 1),
       |      i -> list_min(list_slice(grams, i, i + ${w - 1}))))) AS wf
       |  FROM wg)""".stripMargin
  }

  /** stopword-hit count for one language (mirrors TextAnalysis.stopwordHits). */
  private def stopwordHitsSql(lang: String): String = {
    val lst = TextAnalysis.Stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter($rawTokensSql, x -> list_contains($lst, x)))"
  }

  /** quality score (mirrors TextAnalysis.qualityScoreOnto / the t_langid_quality
    * oracle's inline form — same four components, same fold).
    */
  private val qualitySql: String = {
    val enHits = stopwordHitsSql("en")
    s"""round((
       |    (CASE WHEN len($rawTokensSql) >= 5 AND len($rawTokensSql) <= 10000
       |          THEN 1.0 ELSE 0.0 END)
       |    + CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
       |      / greatest(CAST(length(text) AS DOUBLE), 1.0)
       |    + least(CAST($enHits AS DOUBLE)
       |        / greatest(CAST(len($rawTokensSql) AS DOUBLE), 1.0) * 10.0, 1.0)
       |    + (CASE WHEN CAST(length(text) AS DOUBLE)
       |              / greatest(CAST(len($rawTokensSql) AS DOUBLE), 1.0) >= 2.0
       |             AND CAST(length(text) AS DOUBLE)
       |              / greatest(CAST(len($rawTokensSql) AS DOUBLE), 1.0) <= 12.0
       |            THEN 1.0 ELSE 0.0 END)
       |  ) / 4.0, 6)""".stripMargin
  }

  /** MinHash signature + banding CTEs over `sh` (mirrors
    * Dedup.minhashBands: 16 affine permutations mod P, 4 bands of 4,
    * band key = md5 of the joined band mins). Yields CTE `bands`
    * (id, band_idx, band_key).
    */
  private def minhashBandsCteGen(materializedSig: Boolean): String = {
    val k = Dedup.MinhashK
    val bands = Dedup.MinhashBands
    val r = k / bands
    val h = baseHashSql("shingle")
    val minCols = (0 until k).map { i =>
      s"  min(($h * ${Dedup.hashCoeffA(i)} + ${Dedup.hashCoeffB(i)}) % ${Dedup.MinhashP}) AS m$i"
    }.mkString(",\n")
    val bandSelects = (0 until bands).map { b =>
      val parts = (0 until r).map(i => s"m${b * r + i}").mkString(", ")
      s"  SELECT id, $b AS band_idx, md5(concat_ws('_', $parts)) AS band_key FROM sig"
    }.mkString("\n  UNION ALL\n")
    // MATERIALIZED pins sig when a query references it more than the
    // banding's 4 UNION arms — DuckDB inlines CTEs by default and the
    // 16-min aggregation subtree multiplies per reference
    val sigKw = if (materializedSig) "AS MATERIALIZED" else "AS"
    s"""sig $sigKw (
       |  SELECT doc_id AS id,
       |$minCols
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |$bandSelects)""".stripMargin
  }
  private val minhashBandsCte: String = minhashBandsCteGen(materializedSig = false)

  /** MinHash band candidates `cand (id_a, id_b)` over `bands`, with the
    * shingle-set `sizes` and pairwise overlaps `co` over `sh` that the
    * exact Jaccard check reads — mirrors Dedup.minhashNearDupPairs.
    */
  private val minhashCandCtes: String =
    """cand AS (
      |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
      |  FROM bands x JOIN bands y
      |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.id < y.id),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |co AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS co
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Connected components of the `pairs (id_a, id_b)` graph as the
    * recursive min-reachable id over every document — the oracle of
    * Dedup.nearDupClusters' HashMin propagation.
    */
  private val hashMinClustersSql: String =
    """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION ALL SELECT id_b, id_a FROM pairs),
      |lab (id, cluster) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.src, l.cluster FROM edges e JOIN lab l ON l.id = e.dst)
      |SELECT id AS doc_id, min(cluster) AS cluster_id,
      |  id = min(cluster) AS is_canonical
      |FROM lab GROUP BY id""".stripMargin

  /** The per-document curation gates — mirrors Curation.curate: exact
    * dedup on the normalized text (CTE `dedupCte`), the Gopher rules
    * `g` (plus the C4 rules as `c4_ok` when `c4`), the quality score
    * `q` and the PII counts `pp`.
    */
  private def curationGateCtes(dedupCte: String, c4: Boolean): String = {
    val enHits = stopwordHitsSql("en")
    val (e, p, i) = (TextAnalysis.PiiEmailRe, TextAnalysis.PiiPhoneRe,
      TextAnalysis.PiiIpRe)
    val c4Ok =
      if (!c4) ""
      else
        s""",
           |    NOT (contains(text, '{') OR contains(text, '}'))
           |      AND NOT contains(lower(text), 'lorem ipsum')
           |      AND NOT contains(lower(text), 'javascript')
           |      AND len($rawTokensSql) >= 5
           |      AND len($rawTokensSql) <= 100000 AS c4_ok""".stripMargin
    s"""$dedupCte AS (
       |  SELECT doc_id,
       |    doc_id = min(doc_id) OVER (PARTITION BY md5($normSql)) AS dedup_ok
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    len($rawTokensSql) >= 20 AND len($rawTokensSql) <= 90 AS r_len_ok,
       |    CAST(length(text) AS DOUBLE)
       |      / greatest(CAST(len($rawTokensSql) AS DOUBLE), 1.0) >= 3.0
       |    AND CAST(length(text) AS DOUBLE)
       |      / greatest(CAST(len($rawTokensSql) AS DOUBLE), 1.0) <= 10.0 AS r_mwl_ok,
       |    $enHits >= 2 AS r_sw_ok,
       |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
       |      / greatest(CAST(length(text) AS DOUBLE), 1.0) >= 0.5 AS r_alpha_ok$c4Ok
       |  FROM documents),
       |q AS (
       |  SELECT doc_id,
       |    CAST(CAST($qualitySql AS DECIMAL(25,6)) * 1000000 AS BIGINT)
       |      AS quality_micro
       |  FROM documents),
       |p1 AS (SELECT doc_id, text,
       |    regexp_replace(text, '$e', '<EMAIL>', 'g') AS t1 FROM documents),
       |p2 AS (SELECT doc_id, text, t1,
       |    regexp_replace(t1, '$p', '<PHONE>', 'g') AS t2 FROM p1),
       |pp AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '$e'))
       |       + len(regexp_extract_all(t1, '$p'))
       |       + len(regexp_extract_all(t2, '$i')) AS BIGINT) AS n_pii
       |  FROM p2)""".stripMargin
  }

  /** The linear quality logit in micro units with the weights every
    * classifier query declares — mirrors TextAnalysis.linearQualityScore.
    */
  private val qualityLogitSql: String = {
    val enHits = stopwordHitsSql("en")
    s"""-62000000 + 500000 * CAST(len($rawTokensSql) AS BIGINT)
       |      + 50000 * CAST(length(text) AS BIGINT)
       |      + 30000 * CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)
       |      + 200000 * CAST($enHits AS BIGINT)
       |      + 2000 * (CAST(length(text) AS BIGINT) * 1000
       |                // greatest(CAST(len($rawTokensSql) AS BIGINT), 1))""".stripMargin
  }

  /** The classifier's teacher label as 0/1: 20 to 70 tokens and an
    * alphabetic share of at least 700/1024.
    */
  private val qualityTeacherSql: String =
    s"""CASE WHEN CAST(len($rawTokensSql) AS BIGINT) BETWEEN 20 AND 70
       |          AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)
       |              * 1024 // greatest(CAST(length(text) AS BIGINT), 1) >= 700
       |      THEN 1 ELSE 0 END""".stripMargin

  /** Each document's quality logit `s` and teacher label `y`, the
    * input of the calibration and ROC-AUC oracles.
    */
  private val qualityScoredCte: String =
    s"""sc AS (
       |  SELECT doc_id,
       |    $qualityLogitSql
       |      AS s,
       |    $qualityTeacherSql AS y
       |  FROM documents)""".stripMargin

  /** Concat-and-split layout — mirrors Packing.packConcatSplit (seqLen
    * 512, 32 buckets, salt 'pack'): `d (doc_id, n_tokens, bucket)` over
    * the rows of `from` with `nTokens > 0`, the per-bucket running end
    * `c` and the bucket offsets `bo`.
    */
  private def packLayoutCtes(nTokens: String, from: String): String =
    s"""d AS (
       |  SELECT doc_id,
       |    CAST($nTokens AS BIGINT) AS n_tokens,
       |    (CAST(('0x' || substr(md5('pack' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |      % 1000000) % 32 AS bucket
       |  FROM $from
       |  WHERE $nTokens > 0),
       |c AS (
       |  SELECT doc_id, bucket, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS local_end
       |  FROM d),
       |bo AS (
       |  SELECT bucket,
       |    CAST(coalesce(sum(tot) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bucket_off
       |  FROM (SELECT bucket, sum(n_tokens) AS tot FROM d GROUP BY bucket) t)""".stripMargin

  /** The sequence span of each packed document `p` and its rows `e`,
    * one per (document, sequence), over [[packLayoutCtes]].
    */
  private val packSeqCtes: String =
    """p AS (
      |  SELECT c.doc_id, c.n_tokens,
      |    bucket_off + local_end - n_tokens AS start_off,
      |    (bucket_off + local_end - n_tokens) // 512 AS seq_first,
      |    (bucket_off + local_end - 1) // 512 AS seq_last
      |  FROM c JOIN bo USING (bucket)),
      |e AS (
      |  SELECT doc_id, n_tokens, start_off,
      |    unnest(generate_series(seq_first, seq_last)) AS seq_id
      |  FROM p)""".stripMargin

  /** The slices of [[packSeqCtes]]' `e` — mirrors
    * Packing.packedSequences: one row per (sequence, document).
    */
  private val packedSlicesSql: String =
    """SELECT seq_id, doc_id,
      |  greatest(start_off, seq_id * 512) - start_off AS tok_from,
      |  least(start_off + n_tokens, (seq_id + 1) * 512) - start_off AS tok_to,
      |  greatest(start_off, seq_id * 512) - seq_id * 512 AS seq_off
      |FROM e""".stripMargin

  /** Greedy longest-match encode of every normalized word — mirrors
    * Bpe.encode over Bpe.demoVocab — ending in `done (doc_id, widx, ids)`;
    * `docCols` are the columns `docs` keeps beside `norm`.
    */
  private def bpeEncodeCtes(docCols: String): String =
    s"""vocab(id, piece, plen) AS (VALUES ${Bpe.vocabValuesSql(Bpe.demoVocab)}),
       |docs AS (SELECT $docCols, $normSql AS norm FROM documents),
       |wn AS (SELECT doc_id, regexp_split_to_array(norm, ' ') AS words FROM docs),
       |w AS (SELECT doc_id, unnest(words) AS word,
       |             unnest(range(1, len(words) + 1)) AS widx FROM wn),
       |enc(doc_id, widx, word, pos, ids) AS (
       |  SELECT doc_id, widx, word, 0, CAST([] AS INTEGER[]) FROM w
       |  WHERE length(word) > 0
       |  UNION ALL
       |  SELECT e.doc_id, e.widx, e.word, e.pos + coalesce(m.plen, 1),
       |         list_append(e.ids, coalesce(m.id, 0))
       |  FROM enc e LEFT JOIN LATERAL (
       |    SELECT v.id, v.plen FROM vocab v
       |    WHERE substr(e.word, e.pos + 1, v.plen) = v.piece
       |    ORDER BY v.plen DESC LIMIT 1) m ON true
       |  WHERE e.pos < length(e.word)
       |),
       |done AS (SELECT doc_id, widx, ids FROM enc WHERE pos = length(word))""".stripMargin

  /** The corpus bigrams `bg (doc_id, w1, w2)` and their counts `c2` —
    * the training input of LangModel's bigram scorers.
    */
  private val lmBigramCtes: String =
    s"""w AS (SELECT doc_id, $wordsSql AS words FROM documents),
       |bg AS (SELECT doc_id, words[i] AS w1, words[i + 1] AS w2
       |       FROM w, unnest(range(1, len(words))) AS r(i)),
       |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
       |       FROM bg GROUP BY 1, 2)""".stripMargin

  /** Scoring with a bigram model given as `ja (w1, w2, xa, xb)`, the
    * bigram probability xb / xa: per-bigram Q16 negative log2, summed
    * per document, kept below 4.9 bits per bigram — mirrors LangModel's
    * scorers.
    */
  private val lmScoreSql: String =
    s"""ina AS (SELECT w1, w2, xa AS x FROM ja),
       |${Portable.log2q16Sql("ina", Seq("w1", "w2"), "x", "lga", "lg")},
       |inb AS (SELECT w1, w2, xb AS x FROM ja),
       |${Portable.log2q16Sql("inb", Seq("w1", "w2"), "x", "lgb", "lg")},
       |tab AS (SELECT a.w1, a.w2, a.lg - b.lg AS nll
       |        FROM lga a JOIN lgb b USING (w1, w2)),
       |d AS (SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |        CAST(sum(t.nll) AS BIGINT) AS nll_q16
       |      FROM bg JOIN tab t USING (w1, w2) GROUP BY 1)
       |SELECT dd.doc_id,
       |  coalesce(d.n_bigrams, 0) AS n_bigrams,
       |  coalesce(d.nll_q16, 0) AS nll_q16,
       |  coalesce(d.nll_q16, 0) * 1000
       |    <= 4900 * coalesce(d.n_bigrams, 0) * 65536 AS keep
       |FROM documents dd LEFT JOIN d ON dd.doc_id = d.doc_id""".stripMargin

  /** Cut of the duplicated 8-word spans `d (doc_id, s)` out of the
    * words of `wn` — mirrors Dedup's exact-substring cut: overlapping
    * starts merge into islands, every token inside one is dropped and
    * the rest rejoined. `corpus` restricts the documents cut and
    * returned.
    */
  private def substringCutSql(corpus: Option[String]): String = {
    val tokWhere = corpus.fold("")(c => s" WHERE $c")
    val outWhere = corpus.fold("")(c => s"\nWHERE wn.$c")
    s"""r AS (SELECT doc_id, s,
       |        s - row_number() OVER (PARTITION BY doc_id ORDER BY s) AS isl
       |      FROM d),
       |iv AS (SELECT doc_id, min(s) AS lo, max(s) + 8 AS hi
       |       FROM r GROUP BY doc_id, isl),
       |tok AS (SELECT doc_id, t, words[t] AS wd
       |        FROM (SELECT doc_id, words,
       |                unnest(range(1, len(words) + 1)) AS t FROM wn$tokWhere)),
       |cut AS (SELECT tok.doc_id, tok.t FROM tok
       |        JOIN iv ON tok.doc_id = iv.doc_id
       |          AND tok.t >= iv.lo AND tok.t < iv.hi),
       |kept AS (SELECT tok.doc_id, tok.t, tok.wd FROM tok
       |         LEFT JOIN cut ON tok.doc_id = cut.doc_id AND tok.t = cut.t
       |         WHERE cut.t IS NULL),
       |ka AS (SELECT doc_id, count(*) AS n_kept,
       |         string_agg(wd, ' ' ORDER BY t) AS clean_text
       |       FROM kept GROUP BY 1)
       |SELECT wn.doc_id, CAST(len(wn.words) AS BIGINT) AS n_tokens,
       |  CAST(len(wn.words) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed,
       |  coalesce(ka.clean_text, '') AS clean_text
       |FROM wn LEFT JOIN ka USING (doc_id)$outWhere""".stripMargin
  }

  /** The DSIR importance model — mirrors Dsir.dsirSelect over the
    * src0-src3 target slice and 4096 hashed unigram+bigram buckets:
    * features `fe (doc_id, is_t, fb)`, per-bucket Q16 log-ratio `lam`,
    * and the two totals' logs `lgt`, `lgr`.
    */
  private val dsirModelCtes: String =
    s"""w AS (SELECT doc_id, $wordsSql AS words,
       |        source IN ('src0', 'src1', 'src2', 'src3') AS is_t
       |      FROM documents),
       |fe AS (SELECT doc_id, is_t,
       |         ${baseHashSql(s"'${Dsir.Salt}' || g")} % 4096 AS fb
       |       FROM (SELECT doc_id, is_t,
       |               unnest(list_concat(words,
       |                 list_transform(range(1, len(words)),
       |                   i -> words[i] || ' ' || words[i + 1]))) AS g
       |             FROM w)),
       |cnt AS (SELECT fb,
       |          CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
       |          CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cr
       |        FROM fe GROUP BY 1),
       |tot AS (SELECT CAST(sum(ct) AS BIGINT) + 4096 AS xt,
       |          CAST(sum(cr) AS BIGINT) + 4096 AS xr FROM cnt),
       |ina AS (SELECT fb, ct + 1 AS x FROM cnt),
       |${Portable.log2q16Sql("ina", Seq("fb"), "x", "lga", "lg")},
       |inb AS (SELECT fb, cr + 1 AS x FROM cnt),
       |${Portable.log2q16Sql("inb", Seq("fb"), "x", "lgb", "lg")},
       |int1 AS (SELECT 1 AS k, xt AS x FROM tot),
       |${Portable.log2q16Sql("int1", Seq("k"), "x", "lgt", "lg")},
       |inr1 AS (SELECT 1 AS k, xr AS x FROM tot),
       |${Portable.log2q16Sql("inr1", Seq("k"), "x", "lgr", "lg")},
       |lam AS (SELECT a.fb, a.lg - b.lg AS lam
       |        FROM lga a JOIN lgb b USING (fb))""".stripMargin

  /** DSIR selection over the raw (non-target) rows of `scored (doc_id,
    * is_t, logratio_q16)`: clamped score `raw`, the top-quarter budget
    * `nb` and the rank `rk`.
    */
  private def dsirRankCtes(scored: String): String =
    s"""raw AS (SELECT doc_id,
       |          greatest(least(logratio_q16 >> 6, 1048576),
       |                   -1048576) AS m
       |        FROM $scored WHERE NOT is_t),
       |nb AS (SELECT (CAST(count(*) AS BIGINT) * 1 + 4 - 1) // 4
       |          AS budget FROM raw),
       |rk AS (SELECT doc_id,
       |         CAST(row_number() OVER (ORDER BY m DESC, doc_id)
       |           AS BIGINT) AS r
       |       FROM raw)""".stripMargin

  /** BM25 over the inverted bigram-term index — mirrors
    * [[Retrieval.index]] + `scoreAndRank`: the words → bigram postings →
    * corpus stats → df cap → Q16 idf chain, the derived query terms
    * (docs with id % every = offset, bigrams of the first 5 words) and
    * the integer scores `sc<round>` over `cand<round>`. The df cap is
    * absolute (`maxDf`) or relative (`df * relDfDen <= n_docs`), as in
    * the index build; `excludeSelf` drops a query's own document.
    */
  private def bm25Ctes(every: Int, offset: Int, excludeSelf: Boolean,
                       maxDf: Long = 40L, relDfDen: Option[Long] = None,
                       round: String = ""): String =
    s"""${bm25IndexCtes(maxDf, relDfDen)},
       |qw AS (SELECT doc_id AS query_id, words FROM w
       |       WHERE doc_id % $every = $offset),
       |qt AS (SELECT DISTINCT query_id,
       |         unnest(list_transform(range(1, least(len(words), 5)),
       |           i -> words[i] || ' ' || words[i + 1])) AS term
       |       FROM qw),
       |${bm25ScoreCtes(round, "qt", excludeSelf)}""".stripMargin

  /** The index half of [[bm25Ctes]], ending in `idf (term, idf_q16)`;
    * without `lengths` the postings and stats carry no document
    * lengths (tf-idf needs none).
    */
  private def bm25IndexCtes(maxDf: Long = 40L, relDfDen: Option[Long] = None,
                            lengths: Boolean = true): String = {
    val cap = relDfDen.fold(s"count(*) <= $maxDf")(den =>
      s"count(*) * $den <= (SELECT n_docs FROM stats)")
    val (pDl, statsDl) =
      if (lengths) (",\n max(dl) AS dl", ",\n CAST(sum(dl) AS BIGINT) AS n_terms")
      else ("", "")
    s"""w AS (SELECT doc_id, $wordsSql AS words FROM documents),
       |bl AS (SELECT doc_id,
       |         list_transform(range(1, len(words)),
       |           i -> words[i] || ' ' || words[i + 1]) AS terms,
       |         CAST(len(words) - 1 AS BIGINT) AS dl
       |       FROM w WHERE len(words) >= 2),
       |post AS (SELECT doc_id, dl, unnest(terms) AS term FROM bl),
       |p AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf$pDl
       |      FROM post GROUP BY 1, 2),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs$statsDl FROM bl),
       |dfv AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |        FROM p GROUP BY 1 HAVING $cap),
       |ina AS (SELECT term,
       |          2 * ((SELECT n_docs FROM stats) - df) + 1 AS x FROM dfv),
       |${Portable.log2q16Sql("ina", Seq("term"), "x", "lga", "lg")},
       |inb AS (SELECT term, 2 * df + 1 AS x FROM dfv),
       |${Portable.log2q16Sql("inb", Seq("term"), "x", "lgb", "lg")},
       |idf AS (SELECT a.term, greatest(a.lg - b.lg, 0) AS idf_q16
       |        FROM lga a JOIN lgb b USING (term))""".stripMargin
  }

  /** One BM25 scoring round: candidates of the query terms `terms` (a
    * CTE name, optionally with an alias) and their summed integer
    * scores `sc<round> (query_id, doc_id, score_micro)`.
    */
  private def bm25ScoreCtes(round: String, terms: String,
                            excludeSelf: Boolean): String = {
    val q = terms.split(' ').last
    val self = if (excludeSelf) s"\n WHERE $q.query_id <> p.doc_id" else ""
    s"""cand$round AS (SELECT $q.query_id, p.doc_id, p.tf, p.dl, idf.idf_q16
       |         FROM p JOIN idf USING (term) JOIN $terms USING (term)$self),
       |sc$round AS (SELECT query_id, doc_id,
       |         CAST(sum((idf_q16 * ((22000000 * tf * s.n_terms) //
       |             (10 * tf * s.n_terms + 3 * s.n_terms
       |              + 9 * dl * s.n_docs))) // 65536) AS BIGINT)
       |           AS score_micro
       |       FROM cand$round, stats s GROUP BY 1, 2)""".stripMargin
  }

  /** Per-query rank `rnk` of the BM25 scores in `from`, best first
    * (doc id breaks ties); `withScore` keeps `score_micro` and types
    * the rank INT, as the declared output does.
    */
  private def bm25RankCte(name: String, from: String,
                          withScore: Boolean): String =
    if (withScore)
      s"""$name AS (SELECT query_id, doc_id, score_micro,
         |        CAST(row_number() OVER (PARTITION BY query_id
         |             ORDER BY score_micro DESC, doc_id) AS INT) AS rnk
         |      FROM $from)""".stripMargin
    else
      s"""$name AS (SELECT query_id, doc_id,
         |        row_number() OVER (PARTITION BY query_id
         |             ORDER BY score_micro DESC, doc_id) AS rnk
         |      FROM $from)""".stripMargin

  /** The declared BM25 top-5 output (t_bm25_topk, t_bm25_search). */
  private val bm25TopKOracle: String =
    s"""WITH RECURSIVE
       |${bm25Ctes(29, 3, excludeSelf = false)},
       |${bm25RankCte("r", "sc", withScore = true)}
       |SELECT query_id, doc_id, rnk, score_micro
       |FROM r WHERE rnk <= 5""".stripMargin

  /** Containment inputs over the winnowing fingerprints of `m`, with
    * fingerprints in more than 20 documents dropped — mirrors
    * Dedup.winnowOverlapPairs: set `sizes` and pairwise `co (id_a,
    * id_b, shared)`.
    */
  private val winnowSharedCtes: String =
    """fp0 AS (SELECT doc_id, unnest(wf) AS fp FROM m),
      |fq AS (SELECT fp FROM fp0 GROUP BY fp HAVING count(*) <= 20),
      |fp AS (SELECT fp0.doc_id, fp0.fp FROM fp0 JOIN fq USING (fp)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM fp GROUP BY 1),
      |co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      |       FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2)""".stripMargin

  /** The brute-force dense leg: cosine of every 50th embedding against
    * all others (self excluded), ranked per query into `dr` with the
    * rank column `rank` — mirrors Similarity.bruteForceTopK.
    */
  private def denseRankCtes(rank: String): String = {
    val dqq = QueriesEmb.dotSql("q.e", "q.e")
    val dcc = QueriesEmb.dotSql("c.e", "c.e")
    val dqc = QueriesEmb.dotSql("q.e", "c.e")
    s"""q AS (SELECT vec_id AS query_id, embedding AS e FROM embeddings
       |      WHERE vec_id % 50 = 0),
       |c AS (SELECT vec_id AS doc_id, embedding AS e FROM embeddings),
       |s2 AS (SELECT query_id, doc_id,
       |         $dqc / (sqrt($dqq) * sqrt($dcc)) AS sim
       |       FROM c, q WHERE query_id <> doc_id),
       |dr AS (SELECT query_id, doc_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY sim DESC, doc_id) AS $rank
       |       FROM s2)""".stripMargin
  }

  /** Temperature-0.5 mixture mass per source — mirrors
    * Sampling.mixtureSample's rate inputs: each document's token count
    * `d`, per-source √n in milli-units `s2 (source, n, sq)` and their
    * total `t (ssum)`.
    */
  private val mixtureMassCtes: String =
    s"""d AS (SELECT doc_id, source,
       |         CAST(len($rawTokensSql) AS BIGINT) AS n_tokens
       |       FROM documents),
       |s AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n
       |      FROM d GROUP BY 1),
       |s2 AS (SELECT source, n,
       |         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000.0) AS BIGINT) AS sq
       |       FROM s),
       |t AS (SELECT CAST(sum(sq) AS BIGINT) AS ssum FROM s2)""".stripMargin

  /** The lexical leg of the hybrid and mining queries: BM25 over every
    * 50th document as a query, self excluded, ranked into `lr`.
    */
  private val lexRankCtes: String =
    s"""${bm25Ctes(50, 0, excludeSelf = true)},
       |${bm25RankCte("lr", "sc", withScore = false)}""".stripMargin

  /** [[lexRankCtes]] plus the lexical RRF contributions `lex` of the
    * top 20 — mirrors the lexical input of [[Retrieval.rrfFuse]].
    */
  private val hybridLexCtes: String =
    s"""$lexRankCtes,
       |lex AS (SELECT query_id, doc_id, 1000000 // (60 + rnk) AS r
       |        FROM lr WHERE rnk <= 20)""".stripMargin

  /** Integer reciprocal-rank fusion of `lex` with the dense ranks `dr`
    * (1000000 div (60 + rank) over each top 20), top 10 per query —
    * mirrors [[Retrieval.rrfFuse]] with kRrf = 60.
    */
  private val rrfTail: String =
    """den AS (SELECT query_id, doc_id, 1000000 // (60 + rnk) AS r
      |        FROM dr WHERE rnk <= 20),
      |fused AS (SELECT coalesce(lex.query_id, den.query_id) AS query_id,
      |            coalesce(lex.doc_id, den.doc_id) AS doc_id,
      |            CAST(coalesce(lex.r, 0) + coalesce(den.r, 0) AS BIGINT)
      |              AS rrf_micro
      |          FROM lex FULL OUTER JOIN den
      |            ON lex.query_id = den.query_id
      |           AND lex.doc_id = den.doc_id)
      |SELECT query_id, doc_id, rrf_micro, rnk FROM (
      |  SELECT query_id, doc_id, rrf_micro,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf_micro DESC, doc_id) AS INT) AS rnk
      |  FROM fused) t
      |WHERE rnk <= 10""".stripMargin

  /** [[lexRankCtes]] plus the BM25 top 5 `bmr` the hard negatives come
    * from.
    */
  private val miningLexCtes: String =
    s"""$lexRankCtes,
       |bmr AS (SELECT query_id, doc_id, rnk FROM lr WHERE rnk <= 5)""".stripMargin

  /** Triple assembly over the positives `posr` and `bmr` — mirrors
    * [[Retrieval.hardNegativeMining]]: hard negatives are the BM25 top 5
    * minus the positive, random negatives 3 hash draws from the global
    * pool (doc hash % 10 = 0) that are neither.
    */
  private def miningTail(materializedHard: Boolean): String = {
    val hardKw = if (materializedHard) " MATERIALIZED" else ""
    s"""hardr AS$hardKw (SELECT * FROM (
       |    SELECT b.query_id, b.doc_id,
       |      CAST(row_number() OVER (PARTITION BY b.query_id
       |        ORDER BY b.rnk) AS INT) AS rnk
       |    FROM bmr b JOIN posr p2 ON b.query_id = p2.query_id
       |    WHERE b.doc_id <> p2.doc_id) t),
       |pool AS (SELECT doc_id FROM documents
       |         WHERE CAST(('0x' || substr(md5('pool' ||
       |           CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0),
       |pix AS MATERIALIZED (SELECT doc_id,
       |         row_number() OVER (ORDER BY doc_id) - 1 AS pidx
       |       FROM pool),
       |pc AS (SELECT CAST(count(*) AS BIGINT) AS p FROM pool),
       |qids AS (SELECT doc_id AS query_id FROM documents
       |         WHERE doc_id % 50 = 0),
       |taken AS (SELECT query_id, doc_id FROM posr
       |          UNION ALL SELECT query_id, doc_id FROM hardr),
       |draws AS (SELECT query_id,
       |            CAST(('0x' || substr(md5('rsel' ||
       |              CAST(query_id AS VARCHAR) || ':' ||
       |              CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % p AS widx
       |          FROM qids, range(0, 8) t(j), pc),
       |randc AS (SELECT DISTINCT draws.query_id, pix.doc_id
       |          FROM draws JOIN pix ON pix.pidx = draws.widx
       |          WHERE pix.doc_id <> draws.query_id
       |            AND NOT EXISTS (SELECT 1 FROM taken t
       |              WHERE t.query_id = draws.query_id
       |                AND t.doc_id = pix.doc_id)),
       |randr AS (SELECT * FROM (
       |    SELECT query_id, doc_id,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY CAST(('0x' || substr(md5('rng' ||
       |          CAST(query_id AS VARCHAR) || ':' ||
       |          CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT), doc_id)
       |        AS INT) AS rnk
       |    FROM randc) t WHERE rnk <= 3)
       |SELECT query_id, doc_id, 'pos' AS role, CAST(1 AS INT) AS rnk
       |FROM posr
       |UNION ALL
       |SELECT query_id, doc_id, 'hard_neg' AS role, rnk FROM hardr
       |UNION ALL
       |SELECT query_id, doc_id, 'rand_neg' AS role, rnk FROM randr""".stripMargin
  }

  /** BM25 top 5 of the sampled queries (self excluded) labelled by
    * same-source relevance: `res`, `qs (query_id, qsrc)` and `ds` — the
    * shared input of the t_ndcg and t_mrr oracles.
    */
  private val evalLabelCtes: String =
    s"""${bm25Ctes(29, 3, excludeSelf = true)},
       |${bm25RankCte("r", "sc", withScore = false)},
       |res AS (SELECT query_id, doc_id, rnk FROM r WHERE rnk <= 5),
       |qs AS (SELECT doc_id AS query_id, source AS qsrc
       |       FROM documents WHERE doc_id % 29 = 3),
       |ds AS (SELECT doc_id, source FROM documents)""".stripMargin

  val defs: Seq[QDef] = Seq(

    // token counting + char metrics
    QDef("t_text_metrics",
      (s, dir) => Q.table(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpe_tokens"),
        length(col("text")).as("n_chars"),
        length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("alpha_chars"),
        round(length(col("text")).cast("double") /
          greatest(TextAnalysis.wsTokenCount(col("text")), lit(1)).cast("double"), 6)
          .as("mean_word_len")),
      Some(s"""SELECT doc_id,
              |  len($rawTokensSql) AS ws_tokens,
              |  len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_ \\t\\n]')) AS bpe_tokens,
              |  length(text) AS n_chars,
              |  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
              |  round(CAST(length(text) AS DOUBLE)
              |        / CAST(greatest(len($rawTokensSql), 1) AS DOUBLE), 6) AS mean_word_len
              |FROM documents""".stripMargin)),

    // language id (stopword + char-trigram heuristics) + quality score
    QDef("t_langid_quality",
      (s, dir) => {
        val d0 = Q.table(s, dir, "documents")
        val d1 = TextAnalysis.langIdOnto(d0, "lang_id", col("text"))
        val d2 = TextAnalysis.langIdNgramOnto(d1, "lang_id_ngram", col("text"))
        TextAnalysis.qualityScoreOnto(d2, "quality", col("text"))
          .select(col("doc_id"), col("lang_id"), col("lang_id_ngram"), col("quality"))
      },
      Some {
        val langs = TextAnalysis.Stopwords.keys.toSeq.sorted
        val hitCols = langs.map(l => s"  ${stopwordHitsSql(l)} AS h_$l").mkString(",\n")
        // fold: start ('und', 0); langs in sorted order; strictly-greater wins
        val (bestExpr, _) = langs.foldLeft(("'und'", "0")) { case ((bl, bh), l) =>
          (s"(CASE WHEN h_$l > $bh THEN '$l' ELSE $bl END)",
            s"greatest(h_$l, $bh)")
        }
        // trigram variant: occurrence counts via the replace-length trick
        // (replace is replace-all in both engines), same fold discipline
        val triLangs = TextAnalysis.TrigramProfiles.keys.toSeq.sorted
        def triHits(l: String): String =
          TextAnalysis.TrigramProfiles(l)
            .map(g => s"((length($normSql) - length(replace($normSql, '$g', ''))) // 3)")
            .mkString("(", " + ", ")")
        val triCols = triLangs.map(l => s"  ${triHits(l)} AS t_$l").mkString(",\n")
        val (triBest, _) = triLangs.foldLeft(("'und'", "0")) { case ((bl, bh), l) =>
          (s"(CASE WHEN t_$l > $bh THEN '$l' ELSE $bl END)",
            s"greatest(t_$l, $bh)")
        }
        s"""WITH h AS (
           |  SELECT doc_id, text,
           |$hitCols,
           |$triCols
           |  FROM documents)
           |SELECT doc_id, $bestExpr AS lang_id,
           |  $triBest AS lang_id_ngram,
           |  $qualitySql AS quality
           |FROM h""".stripMargin
      }),

    // winnowing fingerprints (Schleimer et al.) — k=8 char grams, window
    // 16, Karp-Rabin polynomial gram hash (pure integer arithmetic both
    // engines evaluate identically; md5-per-gram was the round-1
    // worst-bench line)
    QDef("t_winnow_fingerprints",
      (s, dir) => Q.table(s, dir, "documents")
        .withColumn("norm", TextAnalysis.normalized(col("text")))
        .withColumn("wf", TextAnalysis.winnowingFingerprints(col("norm")))
        .select(col("doc_id"),
          size(col("wf")).as("n_fp"),
          element_at(col("wf"), 1).as("min_fp"),
          element_at(col("wf"), -1).as("max_fp"),
          md5(concat_ws(",", col("wf"))).as("fp_checksum")),
      Some(
        s"""WITH $winnowCte
           |SELECT doc_id, len(wf) AS n_fp, wf[1] AS min_fp, wf[-1] AS max_fp,
           |  md5(array_to_string(wf, ',')) AS fp_checksum
           |FROM m""".stripMargin)),

    // substring-level near-dup pairs: containment of shared winnowing
    // fingerprints (catches wholesale-inclusion dups that word-shingle
    // Jaccard scores low; Lee et al. 2022 motivates the granularity).
    // Same production posture as dd_ngram_pairs: the df cap (20) drops
    // boilerplate fingerprints BEFORE the self-join and the oracle
    // mirrors it — containment is over the capped fingerprint sets.
    QDef("dd_winnow_pairs",
      (s, dir) => Dedup.winnowOverlapPairs(Q.table(s, dir, "documents"),
        "doc_id", "text", tau = 0.7, maxFpDf = 20L),
      Some(
        s"""WITH $winnowCte,
           |$winnowSharedCtes
           |SELECT id_a, id_b, shared,
           |  round(CAST(shared AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE), 6)
           |    AS containment
           |FROM co
           |JOIN sizes sa ON sa.doc_id = id_a
           |JOIN sizes sb ON sb.doc_id = id_b
           |WHERE CAST(shared AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) >= 0.7""".stripMargin)),

    // exact dedup by normalized-text fingerprint
    QDef("dd_exact",
      (s, dir) => Dedup.exact(Q.table(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("fingerprint"), col("canonical_id"),
          col("group_size"), col("is_duplicate")),
      Some(s"""SELECT doc_id, md5($normSql) AS fingerprint,
              |  min(doc_id) OVER (PARTITION BY md5($normSql)) AS canonical_id,
              |  count(*) OVER (PARTITION BY md5($normSql)) AS group_size,
              |  doc_id <> min(doc_id) OVER (PARTITION BY md5($normSql)) AS is_duplicate
              |FROM documents""".stripMargin)),

    // soft dedup: duplicate groups are DOWNWEIGHTED instead of removed —
    // every member carries weight 1e6 DIV group_size so the group
    // contributes one document's mass in total (removal loses the
    // natural frequency signal; soft weights cap it). Weighted token
    // mass feeds a budgeted sampler directly. Same two-phase
    // groupBy(fp) scale shape as dd_exact.
    QDef("dd_soft_weights",
      (s, dir) => Dedup.softWeights(Q.table(s, dir, "documents"),
        "doc_id", "text"),
      Some(s"""WITH g AS (SELECT doc_id,
              |         count(*) OVER (PARTITION BY md5($normSql))
              |           AS group_size,
              |         CAST(len($rawTokensSql) AS BIGINT) AS ntok
              |       FROM documents)
              |SELECT doc_id, CAST(group_size AS BIGINT) AS group_size,
              |  1000000 // group_size AS weight_ppm,
              |  ntok * (1000000 // group_size) AS weighted_tokens_ppm
              |FROM g""".stripMargin)),

    // exact dedup through Unicode canonicalization: composed and
    // decomposed encodings of the same visible text (synthesized
    // deterministically — doc_id mod 3 picks composed-e-acute /
    // decomposed e+U+0301 / untouched) must land in ONE group; a raw
    // byte fingerprint would split them. NFC + strip-accents + md5,
    // group stats by window. The pre-hash normalization CCNet-class
    // pipelines run, wired into the dedup flow end to end.
    QDef("dd_unicode",
      (s, dir) => {
        import graft.functions.UnicodeNorm
        val norm = TextAnalysis.normalized(col("text"))
        val variant = when(col("doc_id") % 3 === 0,
            regexp_replace(norm, "e", "\u00e9"))
          .when(col("doc_id") % 3 === 1,
            regexp_replace(norm, "e", "e\u0301"))
          .otherwise(norm)
        val canon = md5(UnicodeNorm.stripAccents(
          UnicodeNorm.normalize(variant, "NFC")))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(canon)
        // every doc + a shifted-id twin: the twin lands in a DIFFERENT
        // encoding branch (10^6 mod 3 = 1), so each text exists under
        // two byte encodings and the canonical groups MUST be pairs —
        // a raw-byte fingerprint would leave 0 duplicates here
        val base = Q.table(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        base.unionByName(base.select(
            (col("doc_id") + 1000000L).as("doc_id"), col("text")))
          .select(col("doc_id"),
          canon.as("fingerprint"),
          min(col("doc_id")).over(w).as("canonical_id"),
          count(lit(1)).over(w).as("group_size"),
          (col("doc_id") =!= min(col("doc_id")).over(w)).as("is_duplicate"))
      },
      Some(s"""WITH u AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 1000000, text FROM documents),
              |v AS (
              |  SELECT doc_id,
              |    CASE WHEN doc_id % 3 = 0
              |           THEN regexp_replace($normSql, 'e', chr(233), 'g')
              |         WHEN doc_id % 3 = 1
              |           THEN regexp_replace($normSql, 'e',
              |                               'e' || chr(769), 'g')
              |         ELSE $normSql END AS t
              |  FROM u),
              |c AS (SELECT doc_id,
              |        md5(strip_accents(nfc_normalize(t))) AS fp
              |      FROM v)
              |SELECT doc_id, fp AS fingerprint,
              |  min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
              |  count(*) OVER (PARTITION BY fp) AS group_size,
              |  doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_duplicate
              |FROM c""".stripMargin)),

    // exact n-gram-Jaccard near-dup pairs via inverted shingle index.
    // The flagship dedup query runs WITH the document-frequency skew cap
    // on (df <= 20 ≈ 3× the p99.9 shingle df at sf0.1): at corpus scale
    // one boilerplate shingle makes the prefix self-join quadratic in
    // its df — the cap is the production configuration, and the oracle
    // mirrors it exactly (jaccard is over the capped shingle sets).
    QDef("dd_ngram_pairs",
      (s, dir) => Dedup.ngramJaccardPairs(Q.table(s, dir, "documents"),
        "doc_id", "text", tau = 0.5, maxShingleDf = 20L),
      Some(s"""WITH ${cappedShinglesCte(20L)},
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
              |co AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS co
              |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT id_a, id_b,
              |  round(CAST(co AS DOUBLE) / CAST(sa.n + sb.n - co AS DOUBLE), 6) AS jaccard
              |FROM co
              |JOIN sizes sa ON sa.doc_id = id_a
              |JOIN sizes sb ON sb.doc_id = id_b
              |WHERE CAST(co AS DOUBLE) / CAST(sa.n + sb.n - co AS DOUBLE) >= 0.5""".stripMargin)),

    // MinHash LSH band buckets (the 100 TB-scale dedup path)
    QDef("dd_minhash_bands",
      (s, dir) => Dedup.minhashBands(Q.table(s, dir, "documents"), "doc_id", "text"),
      Some(s"""WITH $shinglesCte,
              |$minhashBandsCte
              |SELECT id, band_idx, band_key FROM bands""".stripMargin)),

    // MinHash candidate pairs verified with exact Jaccard. Round 2: fully
    // oracle-checked — band keys are deterministic portable integers, so
    // the candidate set (bands self-join) and the exact-Jaccard verify
    // are plain SQL (jaccard over distinct shingle sets = co/(na+nb−co)).
    QDef("dd_minhash_pairs",
      (s, dir) => Dedup.minhashNearDupPairs(Q.table(s, dir, "documents"),
        "doc_id", "text", tau = 0.5),
      Some(s"""WITH $shinglesCte,
              |$minhashBandsCte,
              |$minhashCandCtes
              |SELECT c.id_a, c.id_b,
              |  round(CAST(co.co AS DOUBLE) / CAST(sa.n + sb.n - co.co AS DOUBLE), 6) AS jaccard
              |FROM cand c
              |JOIN co ON co.id_a = c.id_a AND co.id_b = c.id_b
              |JOIN sizes sa ON sa.doc_id = c.id_a
              |JOIN sizes sb ON sb.doc_id = c.id_b
              |WHERE CAST(co.co AS DOUBLE) / CAST(sa.n + sb.n - co.co AS DOUBLE) >= 0.5""".stripMargin)),

    // near-dup CLUSTERS over the MinHash pair graph — pair discovery's
    // downstream step (connected components, min-id canonical). Spark
    // side: HashMin label propagation (join+groupBy per round); oracle:
    // recursive-CTE min-reachable-id — exact fixpoints on both sides,
    // so the hash compare proves the propagation converged correctly.
    QDef("dd_clusters",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", tau = 0.5)
        Dedup.nearDupClusters(docs.select(col("doc_id").as("id")), pairs)
          .select(col("id").as("doc_id"), col("cluster").as("cluster_id"),
            col("is_canonical"))
      },
      Some(s"""WITH RECURSIVE $shinglesCte,
              |$minhashBandsCte,
              |$minhashCandCtes,
              |pairs AS (
              |  SELECT c.id_a, c.id_b FROM cand c
              |  JOIN co ON co.id_a = c.id_a AND co.id_b = c.id_b
              |  JOIN sizes sa ON sa.doc_id = c.id_a
              |  JOIN sizes sb ON sb.doc_id = c.id_b
              |  WHERE CAST(co.co AS DOUBLE) / CAST(sa.n + sb.n - co.co AS DOUBLE) >= 0.5),
              |$hashMinClustersSql""".stripMargin)),

    // substring-level dup GROUPS: the generic HashMin clustering composed
    // over winnow-containment pairs instead of MinHash-Jaccard pairs —
    // one clustering operator, any pair generator. Same recursive-CTE
    // min-reachable-id oracle as dd_clusters over the winnow pair CTE.
    QDef("dd_winnow_clusters",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        val pairs = Dedup.winnowOverlapPairs(docs, "doc_id", "text",
          tau = 0.7, maxFpDf = 20L)
        Dedup.nearDupClusters(docs.select(col("doc_id").as("id")), pairs)
          .select(col("id").as("doc_id"), col("cluster").as("cluster_id"),
            col("is_canonical"))
      },
      Some(
        s"""WITH RECURSIVE $winnowCte,
           |$winnowSharedCtes,
           |pairs AS (
           |  SELECT id_a, id_b FROM co
           |  JOIN sizes sa ON sa.doc_id = id_a
           |  JOIN sizes sb ON sb.doc_id = id_b
           |  WHERE CAST(shared AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) >= 0.7),
           |$hashMinClustersSql""".stripMargin)),

    // cross-corpus near-dups: odd doc ids play the incoming batch, even
    // ids the already-trained reference corpus. Band join ACROSS the two
    // tables only — neither side self-joins.
    QDef("dd_cross",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        Dedup.crossNearDupPairs(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", tau = 0.5)
      },
      Some(s"""WITH $shinglesCte,
              |$minhashBandsCte,
              |cand AS (
              |  SELECT DISTINCT x.id AS id_new, y.id AS id_ref
              |  FROM bands x JOIN bands y
              |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              |  WHERE x.id % 2 = 1 AND y.id % 2 = 0),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
              |co AS (
              |  SELECT a.doc_id AS id_new, b.doc_id AS id_ref, count(*) AS co
              |  FROM sh a JOIN sh b ON a.shingle = b.shingle
              |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
              |  GROUP BY 1, 2)
              |SELECT c.id_new, c.id_ref,
              |  round(CAST(co.co AS DOUBLE) / CAST(sa.n + sb.n - co.co AS DOUBLE), 6) AS jaccard
              |FROM cand c
              |JOIN co ON co.id_new = c.id_new AND co.id_ref = c.id_ref
              |JOIN sizes sa ON sa.doc_id = c.id_new
              |JOIN sizes sb ON sb.doc_id = c.id_ref
              |WHERE CAST(co.co AS DOUBLE) / CAST(sa.n + sb.n - co.co AS DOUBLE) >= 0.5""".stripMargin)),

    // 32-bit SimHash per document (relational vote-sum form — one
    // codegen'd shuffle; the Column-expression form is interpreted)
    QDef("dd_simhash",
      (s, dir) => Dedup.simhash(Q.table(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("simhash")),
      Some {
        val h = baseHashSql("shingle")
        val sumCols = (0 until 32).map { i =>
          s"  sum((($h >> $i) & 1) * 2 - 1) AS s$i"
        }.mkString(",\n")
        val valueExpr = (0 until 32).map { i =>
          s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH $shinglesCte,
           |v AS (
           |  SELECT doc_id,
           |$sumCols
           |  FROM sh GROUP BY doc_id)
           |SELECT doc_id, CAST($valueExpr AS BIGINT) AS simhash FROM v""".stripMargin
      }),

    // benchmark-contamination check: per corpus doc, the count/fraction
    // of its distinct 3-shingles that appear anywhere in the eval set
    // (here: every 23rd doc plays the benchmark). Broadcast eval-shingle
    // probe + one groupBy — the corpus never shuffles by shingle.
    QDef("t_contamination",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        Dedup.contaminationCheck(
          docs.filter(col("doc_id") % 23 =!= 0),
          docs.filter(col("doc_id") % 23 === 0),
          "doc_id", "text")
          .select(col("id").as("doc_id"), col("n_shingles"),
            col("n_contaminated"), col("contamination"))
      },
      Some(s"""WITH $shinglesCte,
              |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 23 = 0),
              |x AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 23 <> 0)
              |SELECT x.doc_id,
              |  count(*) AS n_shingles,
              |  CAST(sum(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_contaminated,
              |  round(CAST(sum(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
              |        / CAST(count(*) AS DOUBLE), 6) AS contamination
              |FROM x LEFT JOIN ev ON x.shingle = ev.shingle
              |GROUP BY x.doc_id""".stripMargin)),

    // deterministic stratified sample — language mixing weights decided
    // by a portable hash of the doc id (same row set in any engine, on
    // any cluster size; raising a rate only adds rows). Pure map-side
    // filter: zero shuffle.
    QDef("t_stratified_sample",
      (s, dir) => Sampling.stratifiedSample(
        Q.table(s, dir, "documents"),
        col("doc_id"), col("lang"),
        rates = Map("en" -> 0.3, "zh" -> 0.8), defaultRate = 0.5,
        salt = "mix1")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
      Some("""SELECT doc_id, lang, source, n_chars
             |FROM documents
             |WHERE CAST(('0x' || substr(md5('mix1' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |        % 1000000
             |  < (CASE WHEN lang = 'zh' THEN 800000
             |          WHEN lang = 'en' THEN 300000
             |          ELSE 500000 END)""".stripMargin)),

    // priority sampling (Duffield, Lund & Thorup 2007): 50 documents
    // sampled ∝ byte mass with the unbiased max(w, τ) estimator —
    // integer priorities from the portable hash, so sample AND
    // estimator replay exactly; the global top-k runs as
    // WindowGroupLimit (per-partition prune before the final).
    QDef("t_priority_sample",
      (s, dir) => Sampling.prioritySample(
        Q.table(s, dir, "documents"), col("doc_id"), col("n_chars"),
        k = 50, salt = "prio1")
        .withColumnRenamed("key", "doc_id"),
      Some("""WITH b AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
             |    CAST(('0x' || substr(md5('prio1' || CAST(doc_id AS VARCHAR)), 1, 8))
             |      AS BIGINT) % 1000000 + 1 AS u
             |  FROM documents),
             |q AS (SELECT doc_id, w, (w * 1000000) // u AS priority FROM b),
             |r AS (SELECT doc_id, w, priority,
             |        CAST(row_number() OVER (ORDER BY priority DESC, doc_id ASC)
             |          AS INT) AS rank
             |      FROM q),
             |t AS (SELECT coalesce(max(CASE WHEN rank = 51 THEN priority END), 0)
             |        AS tau
             |      FROM r WHERE rank <= 51)
             |SELECT doc_id, w, priority, rank, greatest(w, tau) AS est_w
             |FROM r, t WHERE rank <= 50""".stripMargin)),

    // per-stratum Duffield-Lund-Thorup: the weighted top-k sample and
    // its unbiased max(w, tau) estimator WITHIN each source bucket —
    // WindowGroupLimit pre-trims per map task before the one exchange.
    QDef("t_priority_stratified",
      (s, dir) => Sampling.prioritySamplePerStratum(
        Q.table(s, dir, "documents"), col("doc_id"), col("source"),
        col("n_chars"), k = 10, salt = "prio2")
        .withColumnRenamed("key", "doc_id")
        .withColumnRenamed("stratum", "source"),
      Some("""WITH b AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
             |    CAST(('0x' || substr(md5('prio2' || CAST(doc_id AS VARCHAR)), 1, 8))
             |      AS BIGINT) % 1000000 + 1 AS u
             |  FROM documents),
             |q AS (SELECT doc_id, source, w, (w * 1000000) // u AS priority
             |      FROM b),
             |r AS (SELECT doc_id, source, w, priority,
             |        CAST(row_number() OVER (PARTITION BY source
             |          ORDER BY priority DESC, doc_id ASC) AS INT) AS rank
             |      FROM q),
             |t AS (SELECT source,
             |        coalesce(max(CASE WHEN rank = 11 THEN priority END), 0)
             |          AS tau
             |      FROM r WHERE rank <= 11 GROUP BY 1)
             |SELECT doc_id, r.source, w, priority, rank,
             |  greatest(w, tau) AS est_w
             |FROM r JOIN t ON t.source = r.source WHERE rank <= 10""".stripMargin)),

    // training-sequence prep: 64-token chunks every 48 tokens (16-token
    // overlap). Map-side explode of start offsets — no shuffle.
    QDef("t_token_chunks",
      (s, dir) => TextAnalysis.tokenChunks(Q.table(s, dir, "documents"),
        "doc_id", "text", chunkSize = 64, overlap = 16)
        .select(col("id").as("doc_id"), col("chunk_idx"),
          col("n_tokens"), col("chunk_text")),
      Some(s"""WITH w AS (SELECT doc_id, $wordsSql AS words FROM documents),
              |st AS (SELECT doc_id, words,
              |         unnest(range(0, len(words), 48)) AS s FROM w),
              |c AS (SELECT doc_id, s, list_slice(words, s + 1, s + 64) AS toks
              |      FROM st)
              |SELECT doc_id, CAST(s // 48 AS INTEGER) AS chunk_idx,
              |  len(toks) AS n_tokens,
              |  array_to_string(toks, ' ') AS chunk_text
              |FROM c""".stripMargin)),

    // within-doc repetition signals (Gopher/C4-style quality filter
    // inputs): duplicate-token, top-token and duplicate-bigram fractions
    QDef("t_repetition",
      (s, dir) => TextAnalysis.repetitionMetrics(Q.table(s, dir, "documents"),
        "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens"), col("dup_token_frac"),
          col("top_token_frac"), col("dup_bigram_frac")),
      Some(s"""WITH w AS (SELECT doc_id, $wordsSql AS words FROM documents),
              |bgl AS (SELECT doc_id, list_transform(range(1, len(words)),
              |    i -> words[i] || ' ' || words[i + 1]) AS bigrams FROM w),
              |tok AS (SELECT doc_id, unnest(words) AS token FROM w),
              |tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
              |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
              |         count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_c
              |       FROM tc GROUP BY 1),
              |bg AS (SELECT doc_id, unnest(bigrams) AS bg FROM bgl),
              |bs AS (SELECT doc_id, count(*) AS n_bigrams,
              |         count(DISTINCT bg) AS nd FROM bg GROUP BY 1)
              |SELECT ts.doc_id, n_tokens,
              |  round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
              |    AS dup_token_frac,
              |  round(CAST(top_c AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
              |    AS top_token_frac,
              |  round(1.0 - CAST(nd AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6)
              |    AS dup_bigram_frac
              |FROM ts LEFT JOIN bs ON bs.doc_id = ts.doc_id""".stripMargin)),

    // per-source corpus rollup (the mixing dashboard): doc/token/char
    // volume + mean quality in micro-units (integer-space average —
    // quality >= 0 so the DIV/`//` pairing is exact)
    QDef("t_corpus_stats",
      (s, dir) => {
        val d = TextAnalysis.qualityScoreOnto(Q.table(s, dir, "documents"),
          "quality", col("text"))
        d.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.wsTokenCount(col("text")).cast("long")).as("n_tokens"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          sum((col("quality").cast("decimal(25,6)") * lit(1000000)).cast("long"))
            .as("sum_q"))
          .select(col("source"), col("n_docs"), col("n_tokens"), col("sum_chars"),
            expr("CAST(sum_q DIV n_docs AS BIGINT)").as("avg_quality_micro"))
      },
      Some(s"""SELECT source, count(*) AS n_docs,
              |  CAST(sum(len($rawTokensSql)) AS BIGINT) AS n_tokens,
              |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
              |  CAST(sum(CAST(CAST($qualitySql AS DECIMAL(25,6)) * 1000000 AS BIGINT))
              |       // count(*) AS BIGINT) AS avg_quality_micro
              |FROM documents GROUP BY source""".stripMargin)),

    // T5 span corruption (Raffel et al. 2020): deterministic hash-
    // selected word slots become numbered sentinels in the corrupted
    // input; targets list sentinel + masked words — the denoising-LM
    // (inputs, targets) generation pass. Pure map-side row function;
    // the oracle replays the slot hash, sentinel ranks and both
    // reassembled strings with DuckDB list lambdas.
    QDef("t_span_corruption",
      (s, dir) => TextAnalysis.spanCorruption(
        Q.table(s, dir, "documents"), "doc_id", "text",
        spanLen = 3, selectMod = 7),
      Some(s"""WITH w AS (SELECT doc_id, $wordsSql AS w FROM documents),
              |s0 AS (SELECT doc_id, w,
              |         range(0, (len(w) - 1) // 3 + 1) AS slots FROM w),
              |s1 AS (SELECT doc_id, w, slots,
              |         list_filter(slots, s ->
              |           CAST(('0x' || substr(md5('span'
              |             || CAST(doc_id AS VARCHAR) || ':'
              |             || CAST(s AS VARCHAR)), 1, 8)) AS BIGINT)
              |           % 7 = 0) AS sel
              |       FROM s0)
              |SELECT doc_id,
              |  CAST(len(sel) AS BIGINT) AS n_spans,
              |  CAST(coalesce(list_sum(list_transform(sel,
              |    s -> len(list_slice(w, s*3 + 1, s*3 + 3)))), 0) AS BIGINT)
              |    AS n_masked_words,
              |  array_to_string(list_transform(slots, s ->
              |    CASE WHEN list_contains(sel, s)
              |    THEN '<extra_id_'
              |      || CAST(len(list_filter(sel, p -> p < s)) AS VARCHAR)
              |      || '>'
              |    ELSE array_to_string(list_slice(w, s*3 + 1, s*3 + 3), ' ')
              |    END), ' ') AS corrupted,
              |  coalesce(array_to_string(list_transform(sel, s ->
              |    '<extra_id_'
              |      || CAST(len(list_filter(sel, p -> p < s)) AS VARCHAR)
              |      || '> '
              |      || array_to_string(list_slice(w, s*3 + 1, s*3 + 3), ' ')),
              |    ' '), '') AS targets
              |FROM s1""".stripMargin)),

    // dataset card — the one-row corpus summary a data release ships
    // with: volume (docs/tokens/mean length), diversity (sources,
    // languages, dominant language share), hygiene (exact-dup removable
    // fraction, short-doc fraction) and mean heuristic quality. Three
    // independent single-exchange aggregates (global scan, dup groups,
    // language histogram) crossed as broadcast 1-row frames.
    QDef("t_corpus_card",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        val d = TextAnalysis.qualityScoreOnto(docs, "quality", col("text"))
          .withColumn("ntok", TextAnalysis.wsTokenCount(col("text")).cast("long"))
        val base = d.agg(
          count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          sum(when(col("ntok") < 20, 1L).otherwise(0L)).as("n_short"),
          sum((col("quality").cast("decimal(25,6)") * lit(1000000))
            .cast("long")).as("sum_q"))
        val dup = graft.functions.Dedup.exact(docs, "doc_id", "text")
          .agg(sum(when(col("is_duplicate"), 1L).otherwise(0L)).as("n_dup"))
        val top = docs.groupBy(col("lang"))
          .agg(count(lit(1)).as("n"))
          .agg(min(struct((-col("n")).as("nn"), col("lang").as("l"))).as("pk"))
        base.crossJoin(broadcast(dup)).crossJoin(broadcast(top))
          .select(col("n_docs"), col("n_tokens"),
            expr("n_tokens DIV n_docs").as("mean_doc_tokens"),
            col("n_sources"), col("n_langs"),
            col("pk.l").as("top_lang"),
            expr("(-pk.nn) * 1000000 DIV n_docs").as("top_lang_ppm"),
            expr("n_dup * 1000000 DIV n_docs").as("dup_removable_ppm"),
            expr("n_short * 1000000 DIV n_docs").as("short_doc_ppm"),
            expr("CAST(sum_q DIV n_docs AS BIGINT)").as("avg_quality_micro"))
      },
      Some(s"""WITH base AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(len($rawTokensSql)) AS BIGINT) AS n_tokens,
              |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
              |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
              |    CAST(sum(CASE WHEN len($rawTokensSql) < 20 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_short,
              |    CAST(sum(CAST(CAST($qualitySql AS DECIMAL(25,6)) * 1000000
              |      AS BIGINT)) AS BIGINT) AS sum_q
              |  FROM documents),
              |dup AS (SELECT CAST(sum(CASE WHEN doc_id <> mn THEN 1 ELSE 0 END)
              |          AS BIGINT) AS n_dup
              |        FROM (SELECT doc_id, min(doc_id) OVER (
              |                PARTITION BY md5($normSql)) AS mn
              |              FROM documents)),
              |tl AS (SELECT min({'nn': -n, 'l': lang}) AS pk FROM (
              |         SELECT lang, CAST(count(*) AS BIGINT) AS n
              |         FROM documents GROUP BY 1))
              |SELECT n_docs, n_tokens, n_tokens // n_docs AS mean_doc_tokens,
              |  n_sources, n_langs, pk['l'] AS top_lang,
              |  (-pk['nn']) * 1000000 // n_docs AS top_lang_ppm,
              |  n_dup * 1000000 // n_docs AS dup_removable_ppm,
              |  n_short * 1000000 // n_docs AS short_doc_ppm,
              |  CAST(sum_q // n_docs AS BIGINT) AS avg_quality_micro
              |FROM base, dup, tl""".stripMargin)),

    // deterministic curriculum order: quality bands easy -> hard, a
    // salted hash shuffle within each band, and a DENSE global position
    // from the Packing-style two-phase distributed scan (never a
    // single-partition global sort). Oracle = one global row_number
    // over the identical (band, hash, id) total order.
    QDef("t_curriculum_order",
      (s, dir) => {
        val d = TextAnalysis.qualityScoreOnto(
            Q.table(s, dir, "documents"), "q", col("text"))
          .withColumn("qm",
            (col("q").cast("decimal(25,6)") * lit(1000000)).cast("long"))
          .withColumn("band", expr(
            """CASE WHEN qm >= 750000 THEN 0 WHEN qm >= 500000 THEN 1
              |     WHEN qm >= 250000 THEN 2 ELSE 3 END""".stripMargin))
        graft.functions.Curriculum.order(d, col("doc_id"), col("band"))
      },
      Some(s"""WITH q AS (SELECT doc_id,
              |  CAST(CAST($qualitySql AS DECIMAL(25,6)) * 1000000 AS BIGINT)
              |    AS qm FROM documents),
              |b AS (SELECT doc_id,
              |  CAST(CASE WHEN qm >= 750000 THEN 0 WHEN qm >= 500000 THEN 1
              |       WHEN qm >= 250000 THEN 2 ELSE 3 END AS INT) AS band,
              |  CAST(('0x' || substr(md5('curr' || CAST(doc_id AS VARCHAR)),
              |    1, 8)) AS BIGINT) AS h
              |  FROM q)
              |SELECT doc_id, band,
              |  CAST(row_number() OVER (ORDER BY band, h, doc_id) - 1
              |    AS BIGINT) AS pos
              |FROM b""".stripMargin)),

    // PII scrub: typed-placeholder redaction + redaction count, three
    // map-side regex passes (portable explicit character classes — no
    // shorthand classes that Java and RE2 define differently).
    QDef("t_pii_scrub",
      (s, dir) => TextAnalysis.piiScrubOnto(Q.table(s, dir, "documents"), col("text"))
        .select(col("doc_id"), col("n_pii"), col("clean_text")),
      Some {
        val (e, p, i) = (TextAnalysis.PiiEmailRe, TextAnalysis.PiiPhoneRe,
          TextAnalysis.PiiIpRe)
        // staged counts: each pattern counted on the PREVIOUS stage's
        // output, so n_pii == placeholders actually inserted (a digit
        // run inside an email must not also count as a phone)
        s"""WITH s1 AS (SELECT doc_id, text,
           |       regexp_replace(text, '$e', '<EMAIL>', 'g') AS t1
           |     FROM documents),
           |s2 AS (SELECT doc_id, text, t1,
           |       regexp_replace(t1, '$p', '<PHONE>', 'g') AS t2 FROM s1)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '$e'))
           |     + len(regexp_extract_all(t1, '$p'))
           |     + len(regexp_extract_all(t2, '$i')) AS BIGINT) AS n_pii,
           |  regexp_replace(t2, '$i', '<IP>', 'g') AS clean_text
           |FROM s2""".stripMargin
      }),

    // end-to-end curation chain — the text-family analogue of
    // qc_pipeline_flags: every gate verdict a column (dedup canonical,
    // four Gopher rules, quality floor, PII budget) composed into one
    // keep. Each gate's SQL fragment is the one its standalone oracle
    // already proved engine-exact.
    QDef("t_curation",
      (s, dir) => graft.pipeline.Curation.curate(
        Q.table(s, dir, "documents"), "doc_id", "text",
        minQualityMicro = 800000L, maxPii = 0L),
      Some {
        s"""WITH ${curationGateCtes("d", c4 = false)}
           |SELECT d.doc_id, d.dedup_ok,
           |  g.r_len_ok, g.r_mwl_ok, g.r_sw_ok, g.r_alpha_ok,
           |  g.r_len_ok AND g.r_mwl_ok AND g.r_sw_ok AND g.r_alpha_ok AS gopher_ok,
           |  q.quality_micro, q.quality_micro >= 800000 AS quality_ok,
           |  pp.n_pii, pp.n_pii <= 0 AS pii_ok,
           |  d.dedup_ok
           |    AND (g.r_len_ok AND g.r_mwl_ok AND g.r_sw_ok AND g.r_alpha_ok)
           |    AND q.quality_micro >= 800000 AND pp.n_pii <= 0 AS keep
           |FROM d JOIN g USING (doc_id) JOIN q USING (doc_id)
           |JOIN pp USING (doc_id)""".stripMargin
      }),

    // per-source quality curation with a HARD budget: keep exactly
    // ceil(n/2) best-quality docs per source. Exact threshold from the
    // (source, score_micro) histogram — the score domain is finite, so
    // no per-source global sort; ties split deterministically by doc_id
    // within the threshold bucket only. All-integer => engine-exact.
    QDef("t_quality_select",
      (s, dir) => TextAnalysis.qualitySelect(Q.table(s, dir, "documents"),
        "doc_id", "text", "source", keepNum = 1L, keepDen = 2L),
      Some(s"""WITH sc AS (
              |  SELECT doc_id, source,
              |    CAST(CAST($qualitySql AS DECIMAL(25,6)) * 1000000 AS BIGINT)
              |      AS score_micro
              |  FROM documents),
              |b AS (
              |  SELECT source, (count(*) * 1 + 2 - 1) // 2 AS budget
              |  FROM sc GROUP BY source),
              |h AS (SELECT source, score_micro, count(*) AS c
              |      FROM sc GROUP BY 1, 2),
              |cum AS (
              |  SELECT source, score_micro,
              |    CAST(coalesce(sum(c) OVER (PARTITION BY source
              |      ORDER BY score_micro DESC
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              |      AS higher
              |  FROM h),
              |r AS (
              |  SELECT doc_id, source, score_micro,
              |    CAST(row_number() OVER (PARTITION BY source, score_micro
              |      ORDER BY doc_id ASC) AS BIGINT) AS rk
              |  FROM sc)
              |SELECT r.doc_id, r.source, r.score_micro,
              |  cum.higher + r.rk <= b.budget AS kept
              |FROM r
              |JOIN cum ON cum.source = r.source AND cum.score_micro = r.score_micro
              |JOIN b ON b.source = r.source""".stripMargin)),

    // corpus vocabulary: top 100 tokens by occurrences (ties by token —
    // deterministic), with document frequency. Map-side partial aggs
    // absorb stopword skew; the LIMIT is partial-top-k per partition.
    QDef("t_vocab_topk",
      (s, dir) => TextAnalysis.vocabTopK(Q.table(s, dir, "documents"),
        "doc_id", "text", k = 100),
      Some(s"""WITH w AS (SELECT doc_id, $wordsSql AS words FROM documents),
              |tok AS (SELECT doc_id, unnest(words) AS token FROM w)
              |SELECT token, count(*) AS n_total,
              |  count(DISTINCT doc_id) AS n_docs
              |FROM tok GROUP BY token
              |ORDER BY n_total DESC, token
              |LIMIT 100""".stripMargin)),

    // distinct-token cardinality per language WITHOUT an exact-distinct
    // shuffle: portable HyperLogLog (md5-prefix hash, integer-only rho,
    // Q49 fixed-point harmonic sum) — the sketch is two tiny groupBys;
    // exact countDistinct would shuffle one row per distinct
    // (lang, token) pair. DuckDB replays every bit of the register math.
    QDef("t_hll_profile",
      (s, dir) => {
        val tok = Q.table(s, dir, "documents").select(col("lang"),
          explode(split(TextAnalysis.normalized(col("text")), " ")).as("token"))
        graft.functions.Sketches.hllProfile(tok, Seq("lang"), col("token"),
          p = 12, salt = "hll")
      },
      Some(s"""WITH w AS (SELECT lang, $wordsSql AS words FROM documents),
              |tok AS (SELECT lang, unnest(words) AS token FROM w),
              |h AS (SELECT lang,
              |        CAST(('0x' || substr(md5('hll' || token), 1, 15)) AS BIGINT) AS h
              |      FROM tok),
              |f AS (SELECT lang, h % 4096 AS reg, h >> 12 AS w0,
              |        w0 | (w0 >> 1) AS a1, a1 | (a1 >> 2) AS a2,
              |        a2 | (a2 >> 4) AS a3, a3 | (a3 >> 8) AS a4,
              |        a4 | (a4 >> 16) AS a5, a5 | (a5 >> 32) AS a6,
              |        49 - bit_count(a6) AS rho
              |      FROM h),
              |mx AS (SELECT lang, reg, max(rho) AS mr FROM f GROUP BY 1, 2),
              |ag AS (SELECT lang, count(*) AS np,
              |         CAST(sum(CAST(1 AS BIGINT) << (49 - mr)) AS BIGINT) AS pq
              |       FROM mx GROUP BY 1)
              |SELECT lang,
              |  4096 - np AS hll_zeros,
              |  pq + (4096 - np) * 562949953421312 AS hll_denom_q49,
              |  round(0.7213e0 / (1.0e0 + 1.079e0 / 4096.0e0)
              |        * 16777216.0e0 * 562949953421312.0e0
              |        / CAST(pq + (4096 - np) * 562949953421312 AS DOUBLE), 6)
              |    AS hll_estimate
              |FROM ag""".stripMargin)),

    // Count-Min frequency estimates for a probe token set — bounded
    // sketch state (4×2048 cells) instead of a full vocabulary groupBy;
    // the probe join is against the broadcast sketch. Upper-bound
    // estimates, exact integers, DuckDB replays every cell.
    QDef("t_cms_counts",
      (s, dir) => {
        val tok = Q.table(s, dir, "documents").select(col("doc_id"),
          explode(split(TextAnalysis.normalized(col("text")), " ")).as("token"))
        val sketch = graft.functions.Sketches.cmsSketch(tok, col("token"))
        val probes = tok.filter(col("doc_id") % 101 === 0).select(col("token"))
        graft.functions.Sketches.cmsEstimate(sketch, probes, col("token"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $wordsSql AS words FROM documents),
              |tok AS (SELECT doc_id, unnest(words) AS token FROM w),
              |js AS (SELECT unnest(range(4)) AS j),
              |cells AS (
              |  SELECT j,
              |    CAST(('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || token), 1, 15))
              |      AS BIGINT) % 2048 AS c,
              |    count(*) AS cnt
              |  FROM tok, js GROUP BY 1, 2),
              |probes AS (SELECT DISTINCT token AS item FROM tok WHERE doc_id % 101 = 0),
              |pc AS (SELECT item, j,
              |    CAST(('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || item), 1, 15))
              |      AS BIGINT) % 2048 AS c
              |  FROM probes, js)
              |SELECT item, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS cms_estimate
              |FROM pc LEFT JOIN cells USING (j, c)
              |GROUP BY item""".stripMargin)),

    // per-source doc-length quantiles from the mergeable log-linear
    // histogram (HDR bucket scheme, subBits=5 ⇒ ≤3.1% relative error,
    // small values exact) — the distribution-profiling face of the
    // sketch family: bounded bucket state instead of a full sort, the
    // quantile window runs over buckets, never the value stream. DuckDB
    // replays the bit-fill bucket math and the type-1 rank rule exactly.
    QDef("t_quantile_profile",
      (s, dir) => graft.functions.Sketches.quantileProfile(
        Q.table(s, dir, "documents"), Seq("source"), col("n_chars")),
      Some("""WITH v AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents),
             |f AS (SELECT source, v,
             |        v | (v >> 1) AS a1, a1 | (a1 >> 2) AS a2,
             |        a2 | (a2 >> 4) AS a3, a3 | (a3 >> 8) AS a4,
             |        a4 | (a4 >> 16) AS a5, a5 | (a5 >> 32) AS a6,
             |        CAST(bit_count(a6) AS BIGINT) AS bl,
             |        CASE WHEN v < 64 THEN v
             |             ELSE (bl - 5) * 32 + (v >> (bl - 6)) - 32 END AS qb
             |      FROM v),
             |hist AS (SELECT source, qb, count(*) AS cnt FROM f GROUP BY 1, 2),
             |c AS (SELECT source, qb, cnt,
             |        sum(cnt) OVER (PARTITION BY source ORDER BY qb) AS cum,
             |        sum(cnt) OVER (PARTITION BY source) AS tot
             |      FROM hist),
             |r AS (SELECT source, cum, tot,
             |        CASE WHEN qb < 64 THEN qb
             |             ELSE (32 + (qb & 31)) << ((qb >> 5) - 1) END AS rep
             |      FROM c)
             |SELECT source, CAST(max(tot) AS BIGINT) AS n_values,
             |  CAST(min(CASE WHEN cum * 100 >= tot * 50 THEN rep END) AS BIGINT) AS p50_est,
             |  CAST(min(CASE WHEN cum * 100 >= tot * 90 THEN rep END) AS BIGINT) AS p90_est,
             |  CAST(min(CASE WHEN cum * 100 >= tot * 99 THEN rep END) AS BIGINT) AS p99_est
             |FROM r GROUP BY source""".stripMargin)),

    // the mixing dashboard at every granularity in ONE pass: doc/token/
    // char volume per (source, lang), per source, and the grand total via
    // ROLLUP grouping sets. Spark plans one Expand (3 grouping sets) into
    // a single partially-aggregated shuffle — vs three separate scans +
    // shuffles for the three granularities; grouping_id disambiguates
    // subtotal rows from genuine nulls.
    QDef("t_mixture_rollup",
      (s, dir) => Q.table(s, dir, "documents")
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.wsTokenCount(col("text")).cast("long")).as("n_tokens"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          grouping_id(col("source"), col("lang")).cast("long").as("gid")),
      Some(s"""SELECT source, lang,
              |  count(*) AS n_docs,
              |  CAST(sum(len($rawTokensSql)) AS BIGINT) AS n_tokens,
              |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
              |  CAST(GROUPING(source, lang) AS BIGINT) AS gid
              |FROM documents GROUP BY ROLLUP(source, lang)""".stripMargin)),

    // exactly k docs per stratum by hash order (WindowGroupLimit keeps
    // per-map-task partial top-k ahead of the low-cardinality shuffle)
    QDef("t_fixed_k_sample",
      (s, dir) => Sampling.fixedKPerStratum(Q.table(s, dir, "documents"),
        col("doc_id"), col("lang"), k = 10, salt = "fix1")
        .select(col("doc_id"), col("lang"), col("source")),
      Some("""SELECT doc_id, lang, source FROM (
             |  SELECT doc_id, lang, source,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY CAST(('0x' || substr(md5('fix1' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |               % 1000000 ASC, doc_id ASC) AS rk
             |  FROM documents) t
             |WHERE rk <= 10""".stripMargin)),

    // per-domain quota (crawler-trap cap): keep at most 15 docs per
    // domain, longest-first. The domain column fuses half the corpus
    // into one hot 'hub' key (the w8-style skew synthesis) so BOTH
    // paths run: under-cap domains pass map-side via broadcast anti,
    // only the hub's rows enter the rank window (WindowGroupLimit).
    QDef("t_source_cap",
      (s, dir) => {
        val d = Q.table(s, dir, "documents").withColumn("domain",
          when(col("doc_id") % 4 < 2, lit("hub")).otherwise(col("source")))
        Sampling.capPerKey(d, col("domain"), n = 15,
            orderCols = Seq(col("n_chars").desc, col("doc_id").asc))
          .select(col("doc_id"), col("domain"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, n_chars,
             |    CASE WHEN doc_id % 4 < 2 THEN 'hub' ELSE source END AS domain
             |  FROM documents),
             |oc AS (SELECT domain FROM d GROUP BY domain HAVING count(*) > 15),
             |r AS (
             |  SELECT doc_id, domain,
             |    row_number() OVER (PARTITION BY domain
             |      ORDER BY n_chars DESC, doc_id ASC) AS rk
             |  FROM d WHERE domain IN (SELECT domain FROM oc))
             |SELECT doc_id, domain FROM d
             |WHERE domain NOT IN (SELECT domain FROM oc)
             |UNION ALL
             |SELECT doc_id, domain FROM r WHERE rk <= 15""".stripMargin)),

    // concat-and-split sequence packing via the two-phase distributed
    // prefix sum (per-bucket cumsum + broadcast bucket offsets) — the
    // naive single-window global cumsum is the scale-killer this
    // operator exists to avoid. Integer layout ⇒ engine-exact.
    QDef("t_seq_pack",
      (s, dir) => {
        val d = Q.table(s, dir, "documents")
        graft.functions.Packing.packConcatSplit(
          d, col("doc_id"), TextAnalysis.wsTokenCount(col("text")),
          seqLen = 512, nBuckets = 32, salt = "pack")
      },
      Some(s"""WITH ${packLayoutCtes(s"len($rawTokensSql)", "documents")}
              |SELECT c.doc_id, c.bucket, c.n_tokens,
              |  bucket_off + local_end - n_tokens AS start_off,
              |  (bucket_off + local_end - n_tokens) // 512 AS seq_first,
              |  (bucket_off + local_end - 1) // 512 AS seq_last,
              |  ((bucket_off + local_end - 1) // 512)
              |    - ((bucket_off + local_end - n_tokens) // 512) + 1 AS n_seqs
              |FROM c JOIN bo USING (bucket)""".stripMargin)),

    // the packed training artifact: one row per (sequence, doc-slice) —
    // each doc exploded over seq_first..seq_last and cut at the
    // boundaries. Same integer layout CTE as t_seq_pack, plus a
    // generate_series explode; all-BIGINT output ⇒ engine-exact.
    QDef("t_seq_emit",
      (s, dir) => {
        val d = Q.table(s, dir, "documents")
        graft.functions.Packing.packedSequences(
          d, col("doc_id"), TextAnalysis.wsTokenCount(col("text")),
          seqLen = 512, nBuckets = 32, salt = "pack")
      },
      Some(s"""WITH ${packLayoutCtes(s"len($rawTokensSql)", "documents")},
              |$packSeqCtes
              |$packedSlicesSql""".stripMargin)),

    // CAPSTONE — prepare-training-shards end to end: exact-dedup
    // canonical → Gopher/quality/PII curation gates → concat-and-split
    // sequence packing of the survivors. Composes t_curation's gate
    // fragments (as a WHERE) with t_seq_emit's layout CTEs (FROM the
    // survivors); every fragment is one a standalone oracle already
    // proved engine-exact, so this query guards the COMPOSED plan —
    // the artifact a training run actually reads. All-BIGINT output.
    QDef("t_pipeline_e2e",
      (s, dir) => {
        val d = Q.table(s, dir, "documents")
        val corpus = graft.pipeline.Curation.curatedCorpus(
          d, "doc_id", "text", minQualityMicro = 800000L, maxPii = 0L)
        graft.functions.Packing.packedSequences(
          corpus, col("doc_id"), TextAnalysis.wsTokenCount(col("text")),
          seqLen = 512, nBuckets = 32, salt = "pack")
      },
      Some {
        s"""WITH ${curationGateCtes("dd0", c4 = false)},
           |kept AS (
           |  SELECT doc_id, text FROM documents
           |  JOIN dd0 USING (doc_id) JOIN g USING (doc_id)
           |  JOIN q USING (doc_id) JOIN pp USING (doc_id)
           |  WHERE dedup_ok AND r_len_ok AND r_mwl_ok AND r_sw_ok
           |    AND r_alpha_ok AND quality_micro >= 800000 AND n_pii <= 0),
           |${packLayoutCtes(s"len($rawTokensSql)", "kept")},
           |$packSeqCtes
           |$packedSlicesSql""".stripMargin
      }),

    // MinHash estimator calibration: sketch-Jaccard vs exact Jaccard
    // with signed error for every band candidate — run before picking
    // (k, bands, tau) on a new corpus. All-integer outputs.
    QDef("dd_minhash_est",
      (s, dir) => Dedup.minhashEstimatePairs(Q.table(s, dir, "documents"),
        "doc_id", "text"),
      Some {
        val k = Dedup.MinhashK
        val matches = (0 until k)
          .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
          .mkString("\n      + ")
        s"""WITH $shinglesCte,
           |${minhashBandsCteGen(materializedSig = true)},
           |$minhashCandCtes,
           |est AS (
           |  SELECT c.id_a, c.id_b,
           |    CAST($matches AS BIGINT) AS est_matches
           |  FROM cand c JOIN sig sa ON sa.id = c.id_a JOIN sig sb ON sb.id = c.id_b)
           |SELECT e.id_a, e.id_b, e.est_matches,
           |  e.est_matches * 1000000 // $k AS est_micro,
           |  coalesce(co.co, 0) * 1000000
           |    // (sa.n + sb.n - coalesce(co.co, 0)) AS jaccard_micro,
           |  (e.est_matches * 1000000 // $k)
           |    - (coalesce(co.co, 0) * 1000000
           |       // (sa.n + sb.n - coalesce(co.co, 0))) AS err_micro
           |FROM est e
           |LEFT JOIN co ON co.id_a = e.id_a AND co.id_b = e.id_b
           |JOIN sizes sa ON sa.doc_id = e.id_a
           |JOIN sizes sb ON sb.doc_id = e.id_b""".stripMargin
      }),

    // Gopher-style hard quality gates: per-rule verdicts + combined
    // keep, map-side only (dashboards track which rule kills docs).
    QDef("t_gopher_filter",
      (s, dir) => TextAnalysis.gopherFilterOnto(
        Q.table(s, dir, "documents"), col("text"))
        .select(col("doc_id"), col("r_len_ok"), col("r_mwl_ok"),
          col("r_sw_ok"), col("r_alpha_ok"), col("keep")),
      Some {
        val enHits = stopwordHitsSql("en")
        s"""SELECT doc_id, r_len_ok, r_mwl_ok, r_sw_ok, r_alpha_ok,
           |  r_len_ok AND r_mwl_ok AND r_sw_ok AND r_alpha_ok AS keep
           |FROM (
           |  SELECT doc_id,
           |    n >= 20 AND n <= 90 AS r_len_ok,
           |    chars / greatest(CAST(n AS DOUBLE), 1.0) >= 3.0
           |      AND chars / greatest(CAST(n AS DOUBLE), 1.0) <= 10.0 AS r_mwl_ok,
           |    sw >= 2 AS r_sw_ok,
           |    alpha / greatest(chars, 1.0) >= 0.5 AS r_alpha_ok
           |  FROM (
           |    SELECT doc_id,
           |      len($rawTokensSql) AS n,
           |      CAST(length(text) AS DOUBLE) AS chars,
           |      CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
           |      $enHits AS sw
           |    FROM documents) t) f""".stripMargin
      }),

    // sub-document exact dedup (Lee et al. 2022 span dedup on 8-word
    // passages): first-seen (doc_id, pidx) keeps each exact passage,
    // later occurrences are cut, documents rebuilt from survivors.
    // Spark side is the partial-agg groupBy + join-back shape (no
    // hot-key window); oracle mirrors it with a first-occurrence
    // window, which is equivalent on the result.
    QDef("dd_passage",
      (s, dir) => Dedup.passageDedup(Q.table(s, dir, "documents"),
        "doc_id", "text", passageLen = 8),
      Some(s"""WITH ${passageCte(8)},
              |f AS (SELECT doc_id, pidx, passage,
              |        row_number() OVER (PARTITION BY md5(passage)
              |          ORDER BY doc_id, pidx) AS rn
              |      FROM p),
              |kept AS (SELECT doc_id, pidx, passage FROM f WHERE rn = 1),
              |$reassembleCtes
              |$reassembleSelect""".stripMargin)),

    // exact any-length duplicate spans (Lee et al. 2022 exact-substring
    // dedup): stride-1 8-token window fingerprints, runs of duplicated
    // offsets merged into maximal spans — catches spans straddling the
    // aligned block boundaries dd_passage misses.
    QDef("dd_substring",
      (s, dir) => Dedup.exactSubstringSpans(Q.table(s, dir, "documents"),
        "doc_id", "text", windowLen = 8),
      Some(s"""WITH wn AS (SELECT doc_id, regexp_split_to_array($normSql, ' ') AS words
              |            FROM documents),
              |wi AS (SELECT doc_id, s,
              |         md5(array_to_string(list_slice(words, s, s + 7), ' ')) AS fp
              |       FROM (SELECT doc_id, words,
              |               unnest(range(1, len(words) - 6)) AS s FROM wn)),
              |g AS (SELECT fp FROM wi GROUP BY fp HAVING count(*) > 1),
              |d AS (SELECT wi.doc_id, wi.s FROM wi JOIN g USING (fp)),
              |r AS (SELECT doc_id, s,
              |        s - row_number() OVER (PARTITION BY doc_id ORDER BY s) AS isl
              |      FROM d)
              |SELECT doc_id, CAST(min(s) - 1 AS BIGINT) AS span_start,
              |  CAST(max(s) - min(s) + 8 AS BIGINT) AS span_tokens
              |FROM r GROUP BY doc_id, isl""".stripMargin)),

    // exact-substring REMOVAL, first-seen-wins: tokens covered by a
    // non-canonical duplicated window are cut at any offset; removal
    // intervals (not tokens) are what shuffles on the Spark side.
    QDef("dd_substring_clean",
      (s, dir) => Dedup.exactSubstringDedup(Q.table(s, dir, "documents"),
        "doc_id", "text", windowLen = 8),
      Some(s"""WITH wn AS (SELECT doc_id, regexp_split_to_array($normSql, ' ') AS words
              |            FROM documents),
              |wi AS (SELECT doc_id, s,
              |         md5(array_to_string(list_slice(words, s, s + 7), ' ')) AS fp
              |       FROM (SELECT doc_id, words,
              |               unnest(range(1, len(words) - 6)) AS s FROM wn)),
              |f AS (SELECT doc_id, s, row_number() OVER (PARTITION BY fp
              |        ORDER BY doc_id, s) AS rn
              |      FROM wi),
              |d AS (SELECT doc_id, s FROM f WHERE rn > 1),
              |${substringCutSql(None)}""".stripMargin)),

    // exact-substring decontamination: corpus spans >= 8 tokens equal
    // to ANY benchmark text at ANY offset on BOTH sides are cut — the
    // stride-1 exact form of t_decontaminate (whose corpus side is
    // aligned passages). Benchmark fp set broadcasts; probe map-side.
    QDef("t_substring_decontaminate",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        Dedup.exactSubstringDecontaminate(
          docs.filter(col("doc_id") % 23 =!= 0),
          docs.filter(col("doc_id") % 23 === 0),
          "doc_id", "text", windowLen = 8)
      },
      Some(s"""WITH wn AS (SELECT doc_id, regexp_split_to_array($normSql, ' ') AS words
              |            FROM documents),
              |bf AS (SELECT DISTINCT
              |         md5(array_to_string(list_slice(words, s, s + 7), ' ')) AS fp
              |       FROM (SELECT doc_id, words,
              |               unnest(range(1, len(words) - 6)) AS s
              |             FROM wn WHERE doc_id % 23 = 0) b),
              |cw AS (SELECT doc_id, s,
              |         md5(array_to_string(list_slice(words, s, s + 7), ' ')) AS fp
              |       FROM (SELECT doc_id, words,
              |               unnest(range(1, len(words) - 6)) AS s
              |             FROM wn WHERE doc_id % 23 <> 0) c),
              |d AS (SELECT cw.doc_id, cw.s FROM cw JOIN bf USING (fp)),
              |${substringCutSql(Some("doc_id % 23 <> 0"))}""".stripMargin)),

    // in-engine classifier training: pocket perceptron distilling the
    // integer heuristic teacher into linearQualityScore weights; the
    // oracle replays the full 8-round training run bit-exactly
    QDef("t_train_classifier",
      (s, dir) => Train.pocketPerceptron(Q.table(s, dir, "documents"),
        "doc_id", "text"),
      Some(Train.pocketPerceptronOracleSql(rawTokensSql))),

    // longest repeated substring — the suffix-array statistic via
    // doubling + binary search on "any duplicated L-window" (bounded
    // rounds, one hash pass each); the oracle brute-forces every L
    QDef("dd_lrs",
      (s, dir) => Dedup.longestRepeatedSubstring(
        Q.table(s, dir, "documents"), "doc_id", "text"),
      Some(s"""WITH wn AS (SELECT doc_id, regexp_split_to_array($normSql, ' ') AS words
              |            FROM documents),
              |mx AS (SELECT max(len(words)) AS m FROM wn),
              |ls AS (SELECT unnest(range(1, (SELECT m FROM mx) + 1)) AS L),
              |wi AS (SELECT ls.L,
              |         array_to_string(list_slice(w.words, s.s, s.s + ls.L - 1), ' ') AS t
              |       FROM wn w, ls,
              |         unnest(range(1, len(w.words) - ls.L + 2)) AS s(s)),
              |d AS (SELECT L, count(*) AS nd FROM (
              |        SELECT L, t FROM wi GROUP BY L, t HAVING count(*) > 1) q
              |      GROUP BY L),
              |best AS (SELECT max(L) AS lrs FROM d)
              |SELECT CAST(coalesce((SELECT lrs FROM best), 0) AS BIGINT)
              |    AS lrs_tokens,
              |  CAST(coalesce((SELECT nd FROM d
              |                 WHERE L = (SELECT lrs FROM best)), 0) AS BIGINT)
              |    AS n_dup_windows""".stripMargin)),

    // CCNet-style boilerplate removal: passages appearing in more than
    // one distinct document are corpus boilerplate — cut everywhere,
    // documents rebuilt. The over-threshold key set is tiny by
    // definition, so the Spark side prunes with a broadcast left-anti
    // (the SkewCap shape).
    QDef("t_boilerplate",
      (s, dir) => TextAnalysis.removeBoilerplate(Q.table(s, dir, "documents"),
        "doc_id", "text", passageLen = 8, maxDf = 1L),
      Some(s"""WITH ${passageCte(8)},
              |b AS (SELECT md5(passage) AS fp FROM p
              |      GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
              |kept AS (SELECT doc_id, pidx, passage FROM p
              |         WHERE md5(passage) NOT IN (SELECT fp FROM b)),
              |$reassembleCtes
              |$reassembleSelect""".stripMargin)),

    // temperature-0.5 mixture sampling to a global token budget: each
    // source's keep rate targets budget · sqrt(n_s)/Σsqrt tokens. All
    // integer arithmetic after one exactly-rounded sqrt — portable.
    // Map-side membership: the rate table is #sources rows, broadcast.
    QDef("t_mixture_sample",
      (s, dir) => Sampling.mixtureSample(Q.table(s, dir, "documents"),
        col("doc_id"), col("source"),
        TextAnalysis.wsTokenCount(col("text")),
        budgetTokens = 12000L, salt = "mix2")
        .select(col("key").as("doc_id"), col("stratum").as("source"),
          col("n_tokens"), col("rate_micro")),
      Some(s"""WITH $mixtureMassCtes,
              |r AS (SELECT source,
              |        least(1000000, ((CAST(12000 AS BIGINT) * 1000000 // ssum) * sq) // n)
              |          AS rate_micro
              |      FROM s2, t)
              |SELECT d.doc_id, d.source, d.n_tokens, r.rate_micro
              |FROM d JOIN r USING (source)
              |WHERE (CAST(('0x' || substr(md5('mix2' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              |         % 1000000) < r.rate_micro""".stripMargin)),

    // benchmark decontamination, removal form: corpus passages equal to
    // ANY 8-gram of the benchmark docs (doc_id % 23 = 0, same split as
    // t_contamination) are cut at any offset, documents rebuilt. The
    // benchmark fingerprint set broadcasts; the cut is map-side.
    QDef("t_decontaminate",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        TextAnalysis.decontaminate(
          docs.filter(col("doc_id") % 23 =!= 0),
          docs.filter(col("doc_id") % 23 === 0),
          "doc_id", "text", passageLen = 8)
      },
      Some(s"""WITH wn AS (SELECT doc_id, regexp_split_to_array($normSql, ' ') AS words
              |            FROM documents),
              |p0 AS (
              |  SELECT doc_id, CAST((s - 1) // 8 AS BIGINT) AS pidx,
              |         array_to_string(list_slice(words, s, s + 7), ' ') AS passage
              |  FROM (SELECT doc_id, words,
              |          unnest(range(1, len(words) + 1, 8)) AS s FROM wn)),
              |p AS (SELECT * FROM p0 WHERE doc_id % 23 <> 0),
              |ev AS (
              |  SELECT DISTINCT md5(array_to_string(list_slice(words, i, i + 7), ' ')) AS fp
              |  FROM (SELECT words,
              |          unnest(range(1, greatest(len(words) - 7, 0) + 1)) AS i
              |        FROM wn WHERE doc_id % 23 = 0) t),
              |kept AS (SELECT doc_id, pidx, passage FROM p
              |         WHERE md5(passage) NOT IN (SELECT fp FROM ev)),
              |$reassembleCtes
              |$reassembleSelect""".stripMargin)),

    // UPSAMPLING mixture: temperature targets above a stratum's mass
    // emit repeated copies (small domains run multiple epochs); full
    // copies for all docs + one hash-selected extra for the fractional
    // part, so expected emitted tokens hit the target exactly.
    QDef("t_mixture_repeat",
      (s, dir) => Sampling.mixtureRepeat(Q.table(s, dir, "documents"),
        col("doc_id"), col("source"),
        TextAnalysis.wsTokenCount(col("text")),
        budgetTokens = 40000L, salt = "mix3")
        .select(col("key").as("doc_id"), col("stratum").as("source"),
          col("n_tokens"), col("copy")),
      Some(s"""WITH $mixtureMassCtes,
              |r AS (SELECT source,
              |        ((CAST(40000 AS BIGINT) * 1000000 // ssum) * sq) // n AS rate_micro
              |      FROM s2, t),
              |c AS (SELECT d.doc_id, d.source, d.n_tokens,
              |        rate_micro // 1000000
              |        + (CASE WHEN (CAST(('0x' || substr(md5('mix3' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              |                      % 1000000) < rate_micro % 1000000
              |                THEN 1 ELSE 0 END) AS copies
              |      FROM d JOIN r USING (source))
              |SELECT doc_id, source, n_tokens, unnest(range(0, copies)) AS copy
              |FROM c WHERE copies > 0""".stripMargin)),

    // C4 cleaning rules (braces / lorem ipsum / javascript / word band)
    // with per-rule verdicts — the second canonical battery next to
    // t_gopher_filter. Map-side only.
    QDef("t_c4_filter",
      (s, dir) => TextAnalysis.c4Filters(Q.table(s, dir, "documents"),
        "doc_id", "text", minWords = 50, maxWords = 90),
      Some(s"""SELECT doc_id, r_braces_ok, r_lorem_ok, r_policy_ok, r_words_ok,
              |  r_braces_ok AND r_lorem_ok AND r_policy_ok AND r_words_ok AS keep
              |FROM (
              |  SELECT doc_id,
              |    NOT (contains(text, '{') OR contains(text, '}')) AS r_braces_ok,
              |    NOT contains(lower(text), 'lorem ipsum') AS r_lorem_ok,
              |    NOT contains(lower(text), 'javascript') AS r_policy_ok,
              |    len($rawTokensSql) >= 50 AND len($rawTokensSql) <= 90 AS r_words_ok
              |  FROM documents) t""".stripMargin)),

    // learned-filter inference: fastText-style linear quality classifier
    // served as a map-side integer dot product (logit in micro units —
    // monotone in the sigmoid, so logit >= 0 IS the decision; no libm).
    QDef("t_quality_classifier",
      (s, dir) => TextAnalysis.linearQualityScore(Q.table(s, dir, "documents"),
        "doc_id", "text",
        wTokensMicro = 500000L, wCharsMicro = 50000L, wAlphaMicro = 30000L,
        wStopMicro = 200000L, wMwlMicro = 2000L, biasMicro = -62000000L),
      Some {
        s"""SELECT doc_id, n_tokens, logit_micro, logit_micro >= 0 AS keep
           |FROM (
           |  SELECT doc_id,
           |    CAST(len($rawTokensSql) AS BIGINT) AS n_tokens,
           |    $qualityLogitSql
           |      AS logit_micro
           |  FROM documents) t""".stripMargin
      }),

    // exact tie-aware ROC-AUC of the linear quality score against the
    // Gopher-ish teacher label — the measurement leg of the curation
    // loop, as the integer Mann-Whitney U (U₂ counts wins twice, ties
    // once ⇒ AUC = U₂/(2·nPos·nNeg) exactly). The Spark side runs the
    // two-phase range-bucketed scan (no global sort); the oracle is the
    // single-window textbook form — different mechanism, same row.
    QDef("t_classifier_auc",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        val scored = TextAnalysis.linearQualityScore(docs, "doc_id", "text",
          wTokensMicro = 500000L, wCharsMicro = 50000L, wAlphaMicro = 30000L,
          wStopMicro = 200000L, wMwlMicro = 2000L, biasMicro = -62000000L)
        val teach = docs.select(col("doc_id"),
            TextAnalysis.wsTokenCount(col("text")).cast("long").as("nt"),
            length(col("text")).cast("long").as("nc"),
            length(regexp_replace(col("text"), "[^A-Za-z]", ""))
              .cast("long").as("na"))
          .select(col("doc_id"),
            (col("nt") >= 20L && col("nt") <= 70L &&
              expr("na * 1024 DIV greatest(nc, 1)") >= 700L).as("teacher"))
        graft.functions.Eval.rocAuc(scored.join(teach, "doc_id"),
          col("logit_micro"), col("teacher"))
      },
      Some {
        s"""WITH $qualityScoredCte,
           |g AS (SELECT s, CAST(sum(y) AS BIGINT) AS pos,
           |        CAST(count(*) - sum(y) AS BIGINT) AS neg
           |      FROM sc GROUP BY 1),
           |c AS (SELECT s, pos, neg,
           |        CAST(coalesce(sum(neg) OVER (ORDER BY s
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |          AS BIGINT) AS cum_neg
           |      FROM g),
           |t AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
           |        CAST(sum(neg) AS BIGINT) AS n_neg,
           |        CAST(sum(pos * (2 * cum_neg + neg)) AS BIGINT) AS u2
           |      FROM c)
           |SELECT n_pos, n_neg, u2,
           |  CASE WHEN n_pos > 0 AND n_neg > 0
           |    THEN u2 * 500000 // (n_pos * n_neg) END AS auc_ppm
           |FROM t""".stripMargin
      }),

    // unigram-frequency-rank quality proxy: mean corpus-frequency rank
    // of a document's tokens — perplexity-like rarity signal in pure
    // integer space (no libm transcendentals, bit-portable).
    QDef("t_token_rank",
      (s, dir) => TextAnalysis.tokenRankScore(Q.table(s, dir, "documents"),
        "doc_id", "text"),
      Some(s"""WITH tk AS (SELECT doc_id, unnest($wordsSql) AS token FROM documents),
              |v AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1),
              |r AS (SELECT token,
              |        CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS BIGINT) AS rnk
              |      FROM v),
              |d AS (SELECT tk.doc_id, count(*) AS n_tokens,
              |        CAST(sum(r.rnk) AS BIGINT) AS sum_rank
              |      FROM tk JOIN r USING (token) GROUP BY 1)
              |SELECT doc_id, n_tokens, sum_rank,
              |  sum_rank * 1000000 // n_tokens AS mean_rank_micro
              |FROM d""".stripMargin)),

    // BPE/subword tokenizer apply: greedy longest-match over a fixed
    // vocabulary (native expression, map-side, zero shuffle). Output is
    // the id sequence pinned by order-sensitive integer checksums (the
    // positional sum makes any reordering or off-by-one visible) plus
    // the first 8 ids verbatim. The oracle replays the greedy match
    // per word with a recursive CTE + lateral longest-piece probe over
    // the SAME vocab literal (generated from Bpe.demoVocab — the two
    // sides cannot drift).
    QDef("t_bpe_encode",
      (s, dir) => {
        val ids = Bpe.encode(TextAnalysis.normalized(col("text")), Bpe.demoVocab)
        Q.table(s, dir, "documents")
          .select(col("doc_id"), ids.as("ids"))
          .select(col("doc_id"),
            size(col("ids")).as("n_tokens"),
            array_join(transform(slice(col("ids"), 1, 8), _.cast("string")), ",")
              .as("head_ids"),
            aggregate(col("ids"), lit(0L), (a, x) => a + x.cast("long"))
              .as("id_sum"),
            aggregate(col("ids"), struct(lit(0L).as("s"), lit(0L).as("i")),
              (acc, x) => struct(
                (acc.getField("s") + (acc.getField("i") + lit(1L)) * x.cast("long")).as("s"),
                (acc.getField("i") + lit(1L)).as("i")),
              acc => acc.getField("s")).as("id_possum"))
      },
      Some(s"""WITH RECURSIVE
              |${bpeEncodeCtes("doc_id")},
              |flat AS (SELECT doc_id, flatten(list(ids ORDER BY widx)) AS ids
              |         FROM done GROUP BY doc_id),
              |fl AS (SELECT d.doc_id, coalesce(f.ids, CAST([] AS INTEGER[])) AS ids
              |       FROM docs d LEFT JOIN flat f USING (doc_id)),
              |ex AS (SELECT doc_id, unnest(ids) AS id,
              |              unnest(range(1, len(ids) + 1)) AS pos FROM fl),
              |sums AS (SELECT doc_id, CAST(sum(id) AS BIGINT) AS id_sum,
              |                CAST(sum(id * pos) AS BIGINT) AS id_possum
              |         FROM ex GROUP BY doc_id)
              |SELECT fl.doc_id, len(fl.ids) AS n_tokens,
              |  array_to_string(fl.ids[1:8], ',') AS head_ids,
              |  coalesce(s.id_sum, 0) AS id_sum,
              |  coalesce(s.id_possum, 0) AS id_possum
              |FROM fl LEFT JOIN sums s USING (doc_id)""".stripMargin)),

    // BPE fertility dashboard: subwords-per-word ratio per source —
    // THE tokenizer-quality metric (fertility near 1 = vocab fits the
    // domain; high fertility = the tokenizer shreds it into pieces and
    // the model pays more sequence length for the same text). Composes
    // the native encoder with word counting, rolled up per source in
    // integer micro-units; the oracle replays the same greedy encode
    // recursion then aggregates.
    QDef("t_bpe_fertility",
      (s, dir) => {
        val words = filter(
          split(TextAnalysis.normalized(col("text")), " "),
          w => length(w) > 0)
        val ids = Bpe.encode(TextAnalysis.normalized(col("text")), Bpe.demoVocab)
        Q.table(s, dir, "documents")
          .select(col("source"), size(words).cast("long").as("nw"),
            size(ids).cast("long").as("nt"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nw")).as("n_words"),
            sum(col("nt")).as("n_subwords"),
            expr("sum(nt) * 1000000 DIV greatest(sum(nw), 1)")
              .as("fertility_micro"))
      },
      Some(s"""WITH RECURSIVE
              |${bpeEncodeCtes("doc_id, source")},
              |wagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
              |           CAST(sum(len(ids)) AS BIGINT) AS n_sub
              |         FROM done GROUP BY 1)
              |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(coalesce(w.n_words, 0)) AS BIGINT) AS n_words,
              |  CAST(sum(coalesce(w.n_sub, 0)) AS BIGINT) AS n_subwords,
              |  CAST(sum(coalesce(w.n_sub, 0)) * 1000000
              |    // greatest(sum(coalesce(w.n_words, 0)), 1) AS BIGINT)
              |    AS fertility_micro
              |FROM docs d LEFT JOIN wagg w USING (doc_id)
              |GROUP BY 1""".stripMargin)),

    // BPE ids through concat-and-split packing, end to end: the
    // trainable-shard integration (BPE ids packed into fixed-length
    // sequences) reduced to per-sequence order-pinned checksums. The oracle
    // composes the t_bpe_encode recursive-CTE encoder with the
    // t_seq_emit layout CTEs (same two-phase prefix sum, n_tokens now
    // BPE counts) and re-derives every sequence's contents from the
    // slice table — any drift in tokenization, layout arithmetic, or
    // assembly order breaks the positional hash.
    QDef("t_bpe_pack",
      (s, dir) => {
        val d = Q.table(s, dir, "documents")
        graft.functions.Packing.packSequenceTokens(
            d, col("doc_id"),
            Bpe.encode(TextAnalysis.normalized(col("text")), Bpe.demoVocab),
            seqLen = 512, nBuckets = 32, salt = "pack")
          .select(col("seq_id"),
            size(col("tokens")).cast("long").as("n_tokens"),
            aggregate(col("tokens"), lit(0L), (a, x) => a + x.cast("long"))
              .as("id_sum"),
            aggregate(col("tokens"), struct(lit(0L).as("s"), lit(0L).as("i")),
              (acc, x) => struct(
                (acc.getField("s") + (acc.getField("i") + lit(1L)) * x.cast("long")).as("s"),
                (acc.getField("i") + lit(1L)).as("i")),
              acc => acc.getField("s")).as("id_possum"))
      },
      Some(s"""WITH RECURSIVE
              |${bpeEncodeCtes("doc_id")},
              |fl AS (SELECT doc_id, flatten(list(ids ORDER BY widx)) AS ids
              |       FROM done GROUP BY doc_id),
              |${packLayoutCtes("len(ids)", "fl")},
              |$packSeqCtes,
              |sl AS (
              |  SELECT e.seq_id, e.doc_id,
              |    greatest(start_off, seq_id * 512) - start_off AS tok_from,
              |    least(start_off + n_tokens, (seq_id + 1) * 512) - start_off AS tok_to,
              |    greatest(start_off, seq_id * 512) - seq_id * 512 AS seq_off
              |  FROM e),
              |x AS (
              |  SELECT sl.seq_id,
              |    unnest(list_slice(fl.ids, CAST(tok_from + 1 AS INTEGER),
              |                      CAST(tok_to AS INTEGER))) AS id,
              |    seq_off + unnest(range(1, tok_to - tok_from + 1)) AS pos
              |  FROM sl JOIN fl USING (doc_id))
              |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_tokens,
              |  CAST(sum(id) AS BIGINT) AS id_sum,
              |  CAST(sum(id * pos) AS BIGINT) AS id_possum
              |FROM x GROUP BY seq_id""".stripMargin)),

    // BM25 top-k retrieval over the inverted bigram-term index: one
    // corpus shuffle builds postings, df/idf live on a broadcast
    // vocab-scale table (idf = the portable Q16 log2 — no libm), the
    // derived query workload broadcasts into the postings scan, and
    // the df<=40 cap is LIVE at sf0.01 (drops the boilerplate bigrams
    // with the longest posting lists). The oracle replays the exact
    // integer scoring including the 27-step log2 recursion.
    QDef("t_bm25_topk",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        Retrieval.bm25TopK(docs, "doc_id", "text",
          Retrieval.queriesFromDocs(docs, "doc_id", "text"),
          k = 5, maxDf = 40L)
      },
      Some(bm25TopKOracle)),

    // BM25 + pseudo-relevance feedback (Rocchio blind feedback): the
    // top-3 feedback docs donate their 2 strongest in-vocab new terms
    // (summed tf, term tie-break) and the expanded query rescoras.
    // Both rounds share one index build; the oracle replays round 1,
    // the expansion harvest and round 2 over the same Q16 idf CTEs.
    QDef("t_bm25_prf",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        Retrieval.bm25Prf(docs, "doc_id", "text",
          Retrieval.queriesFromDocs(docs, "doc_id", "text"),
          k = 5, maxDf = 40L, nFeedback = 3, nExpand = 2,
          relDfDen = Some(12L))
      },
      Some(s"""WITH RECURSIVE
              |${bm25Ctes(29, 3, excludeSelf = true, relDfDen = Some(12L),
                  round = "1")},
              |${bm25RankCte("r1", "sc1", withScore = false)},
              |fb AS (SELECT r1.query_id, p.term,
              |         CAST(sum(p.tf) AS BIGINT) AS ft
              |       FROM r1 JOIN p USING (doc_id)
              |       JOIN dfv USING (term)
              |       LEFT JOIN qt ON qt.query_id = r1.query_id
              |                   AND qt.term = p.term
              |       WHERE r1.rnk <= 3 AND qt.term IS NULL
              |       GROUP BY 1, 2),
              |ex AS (SELECT query_id, term FROM (
              |         SELECT query_id, term,
              |           row_number() OVER (PARTITION BY query_id
              |             ORDER BY ft DESC, term) AS er
              |         FROM fb) t WHERE er <= 2),
              |qt2 AS (SELECT query_id, term FROM qt
              |        UNION SELECT query_id, term FROM ex),
              |${bm25ScoreCtes("2", "qt2 q2", excludeSelf = true)},
              |${bm25RankCte("r2", "sc2", withScore = true)}
              |SELECT query_id, doc_id, rnk, score_micro
              |FROM r2 WHERE rnk <= 5""".stripMargin)),

    // the BM25 persisted-index serving path (mirror of sim_pq_search):
    // first invocation per sf dir tokenizes the corpus and writes
    // postings + df/idf + stats; later invocations (bench reps 2+,
    // production) serve from the stored tables — scan + two broadcast
    // joins, no corpus re-tokenize, no log evaluation. Deterministic
    // build => identical results fresh or reused; same oracle as
    // t_bm25_topk because the integer arithmetic matches bit for bit.
    QDef("t_bm25_search",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        val ix = Q.indexDir("bm25", dir, "documents", "df40v2")
        Q.buildOnce(s"$ix/postings/_SUCCESS")(
          Retrieval.writeIndex(docs, "doc_id", "text", ix, maxDf = 40L))
        Retrieval.searchIndex(s, ix,
          Retrieval.queriesFromDocs(docs, "doc_id", "text"), k = 5)
      },
      Some(bm25TopKOracle)),

    // CCNet-style LM perplexity filter: add-one bigram LM trained on
    // the corpus itself, per-doc negative log-likelihood in portable
    // Q16 bits, keep decision = integer multiply comparison against
    // 4.9 bits/bigram (live split ~70/30 at sf0.01). The oracle
    // retrains the same LM in SQL and replays the Q16 log recursion
    // for every (context+V, count+1) pair.
    QDef("t_lm_score",
      (s, dir) => graft.functions.LangModel.bigramNllScore(
        Q.table(s, dir, "documents"), "doc_id", "text",
        thresholdMilliBits = 4900L),
      Some(s"""WITH RECURSIVE
              |$lmBigramCtes,
              |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1
              |       FROM c2 GROUP BY 1),
              |vv AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v
              |       FROM (SELECT unnest(words) AS word FROM w)),
              |ja AS (SELECT c2.w1, c2.w2,
              |         c1.c1 + (SELECT v FROM vv) AS xa,
              |         c2.c2 + 1 AS xb
              |       FROM c2 JOIN c1 USING (w1)),
              |$lmScoreSql""".stripMargin)),

    // Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995): with
    // D = 3/4 the smoothed probability is the exact rational
    // [max(4c2−3,0)·T + 3·t1·tc] / (4·c1·T), so the whole model —
    // discounting, continuation counts, interpolation — replays in
    // integer SQL through the same Q16 log recursion as t_lm_score.
    QDef("t_kn_score",
      (s, dir) => graft.functions.LangModel.kneserNeyNllScore(
        Q.table(s, dir, "documents"), "doc_id", "text",
        thresholdMilliBits = 4900L),
      Some(s"""WITH RECURSIVE
              |$lmBigramCtes,
              |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
              |         CAST(count(*) AS BIGINT) AS t1
              |       FROM c2 GROUP BY 1),
              |tcs AS (SELECT w2, CAST(count(*) AS BIGINT) AS tc
              |        FROM c2 GROUP BY 1),
              |tts AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM c2),
              |ja AS (SELECT c2.w1, c2.w2,
              |         4 * c1.c1 * (SELECT tt FROM tts) AS xa,
              |         greatest(4 * c2.c2 - 3, 0) * (SELECT tt FROM tts)
              |           + 3 * c1.t1 * tcs.tc AS xb
              |       FROM c2 JOIN c1 USING (w1) JOIN tcs USING (w2)),
              |$lmScoreSql""".stripMargin)),

    // DSIR importance resampling (Xie et al. 2023): hashed unigram+
    // bigram models of a trusted target slice (src0-src3 here) vs the
    // raw pool; each raw doc scores the Q16 log-ratio of the two
    // models over its features, top-25% selected deterministically.
    // The oracle retrains both hashed models in SQL and replays the
    // Q16 log recursion for every count and the two totals.
    QDef("t_dsir_select",
      (s, dir) => graft.functions.Dsir.dsirSelect(
        Q.table(s, dir, "documents"), "doc_id", "text",
        isTarget = col("source").isin("src0", "src1", "src2", "src3"),
        buckets = 4096, keepNum = 1L, keepDen = 4L),
      Some(s"""WITH RECURSIVE
              |$dsirModelCtes,
              |d AS (SELECT fe.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
              |        CAST(sum(lam) AS BIGINT) AS s
              |      FROM fe JOIN lam USING (fb) GROUP BY 1),
              |sc AS (SELECT w.doc_id, w.is_t,
              |         coalesce(d.n_feats, 0) AS n_feats,
              |         CAST(coalesce(d.s, 0) + coalesce(d.n_feats, 0)
              |           * ((SELECT lg FROM lgr) - (SELECT lg FROM lgt))
              |           AS BIGINT) AS logratio_q16
              |       FROM w LEFT JOIN d USING (doc_id)),
              |${dsirRankCtes("sc")}
              |SELECT sc.doc_id, sc.is_t AS is_target, sc.n_feats,
              |  sc.logratio_q16,
              |  CASE WHEN sc.is_t THEN FALSE
              |       ELSE coalesce(rk.r <= (SELECT budget FROM nb), FALSE)
              |  END AS selected
              |FROM sc LEFT JOIN rk USING (doc_id)""".stripMargin)),

    // n-gram novelty: fraction of a doc's distinct 3-shingles whose
    // FIRST corpus occurrence (by doc_id order) is this doc — the
    // "how much of this is new text" curation signal (low novelty =
    // rehash of earlier documents; the within-corpus analogue of the
    // contamination check). One shingle-keyed shuffle for the
    // first-occurrence table, joined back onto the doc's shingles.
    QDef("t_ngram_novelty",
      (s, dir) => {
        val d = Q.table(s, dir, "documents")
        val sh = d.select(col("doc_id"),
          explode(Dedup.shingles(col("text"))).as("shingle"))
        val first = sh.groupBy(col("shingle"))
          .agg(min(col("doc_id")).as("first_doc"))
        sh.join(first, Seq("shingle"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("first_doc") === col("doc_id"), 1L)
              .otherwise(0L)).as("n_novel"))
          .select(col("doc_id"), col("n_shingles"), col("n_novel"),
            expr("n_novel * 1000000 DIV n_shingles").as("novelty_micro"))
      },
      Some(s"""WITH $shinglesCte,
              |f AS (SELECT shingle, min(doc_id) AS first_doc
              |      FROM sh GROUP BY 1)
              |SELECT sh.doc_id,
              |  CAST(count(*) AS BIGINT) AS n_shingles,
              |  CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_novel,
              |  CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
              |    * 1000000 // count(*) AS BIGINT) AS novelty_micro
              |FROM sh JOIN f USING (shingle)
              |GROUP BY 1""".stripMargin)),

    // corpus drift report: per-source doc/token deltas and mix-share
    // shift between two corpus versions (the "what changed since the
    // last crawl" dashboard a data-ops rotation reads before shipping
    // a mix). The new version is synthesized deterministically (drop
    // doc_id % 13, re-ingest % 41 under fresh ids — the snapshot-diff
    // mutation scheme); shares in integer micro-units.
    QDef("t_corpus_drift",
      (s, dir) => {
        val d = Q.table(s, dir, "documents")
        val newV = d.filter(col("doc_id") % 13 =!= 0)
          .unionByName(d.filter(col("doc_id") % 41 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000L))
        def stats(df: org.apache.spark.sql.DataFrame) = df.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(TextAnalysis.wsTokenCount(col("text")).cast("long"))
              .as("n_tokens"))
        val o = stats(d).select(col("source"), col("n_docs").as("docs_old"),
          col("n_tokens").as("toks_old"))
        val n = stats(newV).select(col("source"), col("n_docs").as("docs_new"),
          col("n_tokens").as("toks_new"))
        val tot = n.agg(sum(col("toks_new")).as("tot_new"))
        val totO = o.agg(sum(col("toks_old")).as("tot_old"))
        o.join(n, Seq("source"), "full_outer")
          .select(col("source"),
            coalesce(col("docs_old"), lit(0L)).as("docs_old"),
            coalesce(col("docs_new"), lit(0L)).as("docs_new"),
            coalesce(col("toks_old"), lit(0L)).as("toks_old"),
            coalesce(col("toks_new"), lit(0L)).as("toks_new"))
          .crossJoin(broadcast(totO)).crossJoin(broadcast(tot))
          .select(col("source"), col("docs_old"), col("docs_new"),
            (col("docs_new") - col("docs_old")).as("delta_docs"),
            expr("toks_old * 1000000 DIV greatest(tot_old, 1)")
              .as("share_old_micro"),
            expr("toks_new * 1000000 DIV greatest(tot_new, 1)")
              .as("share_new_micro"))
      },
      Some(s"""WITH oldv AS (SELECT source,
              |         CAST(count(*) AS BIGINT) AS docs_old,
              |         CAST(sum(len($rawTokensSql)) AS BIGINT) AS toks_old
              |       FROM documents GROUP BY 1),
              |newd AS (SELECT source, text FROM documents
              |         WHERE doc_id % 13 <> 0
              |         UNION ALL
              |         SELECT source, text FROM documents
              |         WHERE doc_id % 41 = 0),
              |newv AS (SELECT source,
              |         CAST(count(*) AS BIGINT) AS docs_new,
              |         CAST(sum(len($rawTokensSql)) AS BIGINT) AS toks_new
              |       FROM newd GROUP BY 1),
              |t1 AS (SELECT CAST(sum(toks_old) AS BIGINT) AS tot_old
              |       FROM oldv),
              |t2 AS (SELECT CAST(sum(toks_new) AS BIGINT) AS tot_new
              |       FROM newv)
              |SELECT coalesce(o.source, n.source) AS source,
              |  coalesce(o.docs_old, 0) AS docs_old,
              |  coalesce(n.docs_new, 0) AS docs_new,
              |  coalesce(n.docs_new, 0) - coalesce(o.docs_old, 0)
              |    AS delta_docs,
              |  CAST(coalesce(o.toks_old, 0) * 1000000
              |    // greatest(t1.tot_old, 1) AS BIGINT) AS share_old_micro,
              |  CAST(coalesce(n.toks_new, 0) * 1000000
              |    // greatest(t2.tot_new, 1) AS BIGINT) AS share_new_micro
              |FROM oldv o FULL OUTER JOIN newv n ON o.source = n.source,
              |  t1, t2""".stripMargin)),

    // length-grouped batching: docs of similar token length train
    // together (padding bounded by within-bucket spread, not global
    // max). Exact length quartiles + histogram-offset ranking — no
    // per-bucket data sort. batchSize 64 => multiple live batches per
    // bucket at sf0.01.
    QDef("t_length_batches",
      (s, dir) => graft.functions.Packing.lengthGroupedBatches(
        Q.table(s, dir, "documents"), col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")), batchSize = 64),
      Some(s"""WITH m AS (SELECT doc_id,
              |         CAST(len($rawTokensSql) AS BIGINT) AS n
              |       FROM documents),
              |th AS (SELECT
              |    CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n)
              |      AS BIGINT) AS p25,
              |    CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY n)
              |      AS BIGINT) AS p50,
              |    CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n)
              |      AS BIGINT) AS p75
              |  FROM m),
              |b AS (SELECT doc_id, n,
              |        1 + CASE WHEN n > p25 THEN 1 ELSE 0 END
              |          + CASE WHEN n > p50 THEN 1 ELSE 0 END
              |          + CASE WHEN n > p75 THEN 1 ELSE 0 END AS bucket
              |      FROM m, th),
              |r AS (SELECT doc_id, n, bucket,
              |        CAST(row_number() OVER (PARTITION BY bucket
              |          ORDER BY n, doc_id) AS BIGINT) AS rk
              |      FROM b)
              |SELECT doc_id, n AS n_tokens, bucket,
              |  CAST((rk - 1) // 64 AS BIGINT) AS batch_idx
              |FROM r""".stripMargin)),

    // CAPSTONE #2 — targeted-corpus shards end to end: DSIR selection
    // (hashed-model importance weights, top-25% of the raw pool)
    // straight into concat-and-split sequence packing. Both fragments
    // are standalone-oracle-proved; this guards the COMPOSED plan —
    // "build me a target-matched training mix" as one dataflow.
    QDef("t_dsir_pipeline",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        val sel = graft.functions.Dsir.dsirSelect(docs, "doc_id", "text",
          isTarget = col("source").isin("src0", "src1", "src2", "src3"),
          buckets = 4096, keepNum = 1L, keepDen = 4L)
        val kept = docs.join(
          sel.filter(col("selected")).select(col("doc_id")), Seq("doc_id"))
        graft.functions.Packing.packedSequences(
          kept, col("doc_id"), TextAnalysis.wsTokenCount(col("text")),
          seqLen = 512, nBuckets = 32, salt = "pack")
      },
      Some(s"""WITH RECURSIVE
              |$dsirModelCtes,
              |sd AS (SELECT fe.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
              |         CAST(sum(lam) AS BIGINT) AS s
              |       FROM fe JOIN lam USING (fb) GROUP BY 1),
              |sc2 AS (SELECT w.doc_id, w.is_t,
              |         CAST(coalesce(sd.s, 0) + coalesce(sd.n_feats, 0)
              |           * ((SELECT lg FROM lgr) - (SELECT lg FROM lgt))
              |           AS BIGINT) AS logratio_q16
              |        FROM w LEFT JOIN sd USING (doc_id)),
              |${dsirRankCtes("sc2")},
              |kept AS (SELECT d0.doc_id, d0.text FROM documents d0
              |         JOIN rk ON rk.doc_id = d0.doc_id
              |         WHERE rk.r <= (SELECT budget FROM nb)),
              |pd AS (
              |  SELECT doc_id,
              |    CAST(len($rawTokensSql) AS BIGINT) AS n_tokens,
              |    (CAST(('0x' || substr(md5('pack' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              |      % 1000000) % 32 AS bucket
              |  FROM kept
              |  WHERE len($rawTokensSql) > 0),
              |pc AS (
              |  SELECT doc_id, bucket, n_tokens,
              |    CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              |      AS local_end
              |  FROM pd),
              |bo AS (
              |  SELECT bucket,
              |    CAST(coalesce(sum(tot2) OVER (ORDER BY bucket
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |      AS BIGINT) AS bucket_off
              |  FROM (SELECT bucket, sum(n_tokens) AS tot2 FROM pd
              |        GROUP BY bucket) t),
              |pp AS (
              |  SELECT pc.doc_id, pc.n_tokens,
              |    bucket_off + local_end - n_tokens AS start_off,
              |    (bucket_off + local_end - n_tokens) // 512 AS seq_first,
              |    (bucket_off + local_end - 1) // 512 AS seq_last
              |  FROM pc JOIN bo USING (bucket)),
              |pe AS (
              |  SELECT doc_id, n_tokens, start_off,
              |    unnest(generate_series(seq_first, seq_last)) AS seq_id
              |  FROM pp)
              |SELECT seq_id, doc_id,
              |  greatest(start_off, seq_id * 512) - start_off AS tok_from,
              |  least(start_off + n_tokens, (seq_id + 1) * 512) - start_off
              |    AS tok_to,
              |  greatest(start_off, seq_id * 512) - seq_id * 512 AS seq_off
              |FROM pe""".stripMargin)),

    // Unicode canonicalization: NFC composition + accent stripping as
    // native codegen'd expressions (Spark ships neither). The input
    // synthesizes a DECOMPOSED é (e + U+0301) into every doc so the
    // normalization is genuinely exercised; the oracle is DuckDB's own
    // utf8proc-based nfc_normalize/strip_accents — independent
    // implementations of the same Unicode standard must agree bytewise.
    QDef("t_unicode_normalize",
      (s, dir) => {
        val deco = concat(substring(col("text"), 1, 12), lit(" e"),
          lit("\u0301"), lit("cole"))
        Q.table(s, dir, "documents").select(col("doc_id"),
          graft.functions.UnicodeNorm.normalize(deco, "NFC").as("nfc_str"),
          length(deco).cast("int").as("raw_chars"),
          length(graft.functions.UnicodeNorm.normalize(deco, "NFC"))
            .cast("int").as("nfc_chars"),
          graft.functions.UnicodeNorm.stripAccents(deco).as("ascii_str"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |         substr(text, 1, 12) || ' e' || chr(769) || 'cole'
             |           AS deco
             |       FROM documents)
             |SELECT doc_id,
             |  nfc_normalize(deco) AS nfc_str,
             |  CAST(length(deco) AS INTEGER) AS raw_chars,
             |  CAST(length(nfc_normalize(deco)) AS INTEGER) AS nfc_chars,
             |  strip_accents(deco) AS ascii_str
             |FROM d""".stripMargin)),

    // hybrid search capstone: BM25 over the inverted bigram index and
    // brute-force cosine over the embeddings, fused by integer
    // reciprocal-rank fusion (1000000 div (60 + rank)) — the standard
    // lexical+dense combiner. Only RANKS cross systems, so the fused
    // output is pure-integer portable even though the dense side scores
    // in floats (the pinned left-assoc dot fold makes its ranks
    // engine-identical). Self-matches are excluded on both legs.
    QDef("t_hybrid_search",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        val emb = Q.table(s, dir, "embeddings")
        val lex = Retrieval.bm25TopK(docs, "doc_id", "text",
          Retrieval.queriesFromDocs(docs, "doc_id", "text",
            every = 50L, offset = 0L),
          k = 20, maxDf = 40L, excludeSelf = true)
        val dense = graft.functions.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
          k = 20)
        Retrieval.rrfFuse(lex, dense, kRrf = 60L, k = 10)
      },
      Some {
        s"""WITH RECURSIVE
           |$hybridLexCtes,
           |${denseRankCtes("rnk")},
           |$rrfTail""".stripMargin
      }),

    // hybrid search, PRODUCTION-SERVING form: both legs ride persisted
    // indexes — BM25 from the inverted index (postings + idf + stats on
    // disk, t_bm25_search's build) and the dense leg from the IVF-PQ
    // index (sim_ivfpq_search's build — coarse probes + stored codes;
    // the brute-force O(Q·N) cosine of t_hybrid_search never runs).
    // This is the scale path the brute-force twin documents: at 100 TB
    // the dense leg touches nProbe inverted lists of m-byte codes
    // instead of every float vector. Deterministic training => the
    // oracle replays the full IVF-PQ chain + the BM25 chain + integer
    // RRF; both index builds are content-fingerprinted and shared with
    // their sim_*/t_* siblings (bench reps 2+ and production serve
    // without rebuilding).
    QDef("t_hybrid_ann",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        val emb = Q.table(s, dir, "embeddings")
        val lix = Q.indexDir("bm25", dir, "documents", "df40v2")
        Q.buildOnce(s"$lix/postings/_SUCCESS")(
          Retrieval.writeIndex(docs, "doc_id", "text", lix, maxDf = 40L))
        val lex = Retrieval.searchIndex(s, lix,
          Retrieval.queriesFromDocs(docs, "doc_id", "text",
            every = 50L, offset = 0L),
          k = 20, excludeSelf = true)
        // nCoarse = 0 → SELF-SCALING width (pow2floor(√N), floor 8):
        // the fixed-8 geometry measured a 56× candidate tail at the
        // century point; the derived width keeps probes ∝ √N
        val dix = Q.indexDir("ivfpq", dir, "embeddings", "cAi2m8s8k8p2sd2")
        Q.buildOnce(s"$dix/codes/_SUCCESS")(
          graft.functions.Similarity.writeIvfPqIndex(emb, "vec_id",
            "embedding", dix, nCoarse = 0, coarseIters = 2, m = 8,
            subDim = 8, nCentroids = 8, pqIters = 2, dim = QueriesEmb.Dim))
        val dense = graft.functions.Similarity.searchIvfPqIndex(s, dix,
          emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
          k = 20, nProbe = 2)
        Retrieval.rrfFuse(lex, dense, kRrf = 60L, k = 10)
      },
      Some {
        s"""WITH RECURSIVE
           |$hybridLexCtes,
           |${QueriesEmb.ivfPqScoreBodyAuto},
           |dr AS (SELECT query_id, match_id AS doc_id,
           |         row_number() OVER (PARTITION BY query_id
           |           ORDER BY sim_ivfpq DESC, match_id ASC) AS rnk
           |       FROM s),
           |$rrfTail""".stripMargin
      }),

    // hard-negative mining: training-triple construction for retriever
    // /embedding training — pos = dense top-1 (cosine, self excluded),
    // hard_neg = BM25 top-5 minus the positive (lexically similar, not
    // the semantic match), rand_neg = 3 from a GLOBAL hash-selected
    // pool (in-batch-negatives shape: no Q x N pair enumeration; the
    // ~N/10 pool broadcasts). All selection integer/hash deterministic
    // => full replay. The one float input (cosine) contributes only
    // RANKS, like t_hybrid_search.
    QDef("t_mining_triples",
      (s, dir) => Retrieval.hardNegativeMining(
        Q.table(s, dir, "documents"), "doc_id", "text",
        Q.table(s, dir, "embeddings"), "vec_id", "embedding",
        every = 50L, kHard = 5, kRand = 3, poolMod = 10L, maxDf = 40L),
      Some {
        s"""WITH RECURSIVE
           |$miningLexCtes,
           |${denseRankCtes("r")},
           |posr AS (SELECT query_id, doc_id FROM dr WHERE r = 1),
           |${miningTail(materializedHard = false)}""".stripMargin
      }),

    // hard-negative mining, PRODUCTION-SERVING form: the positive comes
    // from the persisted IVF-PQ index (rank-1 over coarse probes +
    // stored codes) and the lexical negatives from the persisted
    // inverted index — at corpus scale the brute top-1 cosine of
    // t_mining_triples cannot run. Same triple assembly; the oracle
    // replays the IVF-PQ chain for the positive instead of the brute
    // cosine. Index builds shared with t_bm25_search / sim_ivfpq_search.
    QDef("t_mining_ann",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        val emb = Q.table(s, dir, "embeddings")
        val lix = Q.indexDir("bm25", dir, "documents", "df40v2")
        Q.buildOnce(s"$lix/postings/_SUCCESS")(
          Retrieval.writeIndex(docs, "doc_id", "text", lix, maxDf = 40L))
        // same self-scaling index build (and dir) as t_hybrid_ann
        val dix = Q.indexDir("ivfpq", dir, "embeddings", "cAi2m8s8k8p2sd2")
        Q.buildOnce(s"$dix/codes/_SUCCESS")(
          graft.functions.Similarity.writeIvfPqIndex(emb, "vec_id",
            "embedding", dix, nCoarse = 0, coarseIters = 2, m = 8,
            subDim = 8, nCentroids = 8, pqIters = 2, dim = QueriesEmb.Dim))
        Retrieval.hardNegativeMiningServed(s, docs, "doc_id", "text",
          lix, dix, emb, "vec_id", "embedding",
          every = 50L, kHard = 5, kRand = 3, poolMod = 10L, nProbe = 2)
      },
      Some {
        s"""WITH RECURSIVE
           |$miningLexCtes,
           |${QueriesEmb.ivfPqScoreBodyAuto},
           |posr AS MATERIALIZED (SELECT query_id, match_id AS doc_id FROM (
           |    SELECT query_id, match_id,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY sim_ivfpq DESC, match_id ASC) AS r
           |    FROM s) t WHERE r = 1),
           |${miningTail(materializedHard = true)}""".stripMargin
      }),

    // hashed tf-idf document vectors: the sparse->dense bridge from
    // text to the ANN family — term weight (tf x Q16 idf, integer)
    // lands in dimension baseHash(term) mod 64, summed per dim; docs
    // without terms get the zero vector. One postings shuffle + a
    // vocab-scale broadcast + one groupBy(doc) with 64 conditional
    // sums. The assembled array is pinned by order-sensitive integer
    // checksums computed FROM the array (nnz + sum + positional sum —
    // the t_bpe_encode pattern: the compare harness sorts rows by
    // column values, which list columns can't support).
    QDef("t_tfidf_vectors",
      (s, dir) => Retrieval.tfidfVectors(
          Q.table(s, dir, "documents"), "doc_id", "text",
          dims = 64, maxDf = 40L)
        .select(col("doc_id"),
          size(filter(col("vec"), x => x =!= 0L)).as("nnz"),
          aggregate(col("vec"), lit(0L), (a, x) => a + x).as("v_sum"),
          aggregate(col("vec"), struct(lit(0L).as("s"), lit(0L).as("i")),
            (acc, x) => struct(
              (acc.getField("s") + (acc.getField("i") + 1L) * x).as("s"),
              (acc.getField("i") + 1L).as("i")),
            acc => acc.getField("s")).as("v_possum")),
      Some(s"""WITH RECURSIVE
              |${bm25IndexCtes(lengths = false)},
              |wt AS (SELECT p.doc_id,
              |         ${baseHashSql("term")} % 64 AS dim,
              |         p.tf * idf.idf_q16 AS wv
              |       FROM p JOIN idf USING (term)),
              |vd AS (SELECT doc_id, dim, CAST(sum(wv) AS BIGINT) AS v
              |       FROM wt GROUP BY 1, 2),
              |chk AS (SELECT doc_id,
              |          CAST(count(*) FILTER (WHERE v <> 0) AS INT) AS nnz,
              |          CAST(sum(v) AS BIGINT) AS v_sum,
              |          CAST(sum((dim + 1) * v) AS BIGINT) AS v_possum
              |        FROM vd GROUP BY 1)
              |SELECT dd.doc_id,
              |  coalesce(chk.nnz, 0) AS nnz,
              |  coalesce(chk.v_sum, 0) AS v_sum,
              |  coalesce(chk.v_possum, 0) AS v_possum
              |FROM documents dd LEFT JOIN chk ON dd.doc_id = chk.doc_id""".stripMargin)),

    // exact phrase search via positional postings: phrase terms
    // broadcast into the one corpus-token scan; the single shuffle
    // carries per-(doc, phrase, anchor) votes (only tokens matching a
    // phrase term), and an anchor with k votes is an occurrence. The
    // oracle brute-forces every anchor by list-slice equality — a
    // completely different algorithm arriving at the same rows, so the
    // hash pins the anchor arithmetic (off-by-one, overlap handling,
    // 1-based first_pos) rather than replaying the Spark plan.
    QDef("t_phrase_search",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        Retrieval.phraseSearch(docs, "doc_id", "text",
          Retrieval.phrasesFromDocs(docs, "doc_id", "text"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $wordsSql AS words FROM documents),
              |phr AS (SELECT doc_id AS phrase_id,
              |          list_slice(words, 1, 3) AS p
              |        FROM w WHERE doc_id % 41 = 5 AND doc_id < 41 * 1024
              |          AND len(words) >= 3),
              |anch AS (SELECT doc_id, words,
              |           unnest(range(1, greatest(len(words) - 2, 0) + 1)) AS s
              |         FROM w),
              |hit AS (SELECT p.phrase_id, a.doc_id, a.s
              |        FROM anch a JOIN phr p
              |          ON list_slice(a.words, a.s, a.s + 2) = p.p)
              |SELECT phrase_id, doc_id,
              |  CAST(count(*) AS BIGINT) AS n_hits,
              |  CAST(min(s) AS BIGINT) AS first_pos
              |FROM hit GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Flesch Reading Ease (Flesch 1948): whitespace words, [.!?]+ run
    // sentences (floored at 1), vowel-group syllables — the classic
    // no-dictionary readability score, in truncating integer micro.
    QDef("t_readability",
      (s, dir) => TextAnalysis.fleschOnto(
        Q.table(s, dir, "documents"), "doc_id", "text"),
      Some(s"""WITH c AS (
              |  SELECT doc_id,
              |    CAST(len($rawTokensSql) AS BIGINT) AS n_words,
              |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
              |      AS BIGINT), 1) AS n_sentences,
              |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
              |      AS BIGINT) AS n_syllables
              |  FROM documents)
              |SELECT doc_id, n_words, n_sentences, n_syllables,
              |  206835000 - 1015000 * n_words // n_sentences
              |    - 84600000 * n_syllables // n_words AS flesch_micro
              |FROM c""".stripMargin)),

    // Bloom-filter decontamination audit (Bloom 1970; Kirsch-
    // Mitzenmacher double hashing): the benchmark's stride-1 8-word
    // windows populate a 2^20-bit filter (32-bit words: DuckDB's
    // checked << rejects 1<<63), every corpus passage probes it
    // map-side, and the exact fp set verifies each probe hit — so the
    // oracle pins the bit arithmetic AND the realized false-positive
    // count per document.
    QDef("t_bloom_decontaminate",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        graft.functions.Bloom.bloomDecontaminate(
          docs.filter(col("doc_id") % 23 =!= 0),
          docs.filter(col("doc_id") % 23 === 0),
          "doc_id", "text", passageLen = 8, logM = 20, k = 3)
      },
      Some(s"""WITH wn AS (SELECT doc_id, regexp_split_to_array($normSql, ' ') AS words
              |            FROM documents),
              |bg AS (SELECT DISTINCT
              |         array_to_string(list_slice(words, s, s + 7), ' ') AS g
              |       FROM (SELECT words, unnest(range(1, len(words) - 6)) AS s
              |             FROM wn WHERE doc_id % 23 = 0) b),
              |bh AS (SELECT g,
              |         CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h
              |       FROM bg),
              |bp AS (SELECT ((h % 1048576) + i * ((h >> 20) * 2 + 1)) % 1048576 AS pos
              |       FROM bh, (SELECT unnest(range(0, 3)) AS i) ii),
              |bw AS (SELECT pos // 32 AS word_idx,
              |         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
              |       FROM bp GROUP BY 1),
              |cp AS (SELECT doc_id, CAST((s - 1) // 8 AS BIGINT) AS pidx,
              |         array_to_string(list_slice(words, s, s + 7), ' ') AS passage
              |       FROM (SELECT doc_id, words,
              |               unnest(range(1, len(words) + 1, 8)) AS s
              |             FROM wn WHERE doc_id % 23 <> 0) c),
              |ph AS (SELECT doc_id, pidx, passage,
              |         CAST(('0x' || substr(md5(passage), 1, 15)) AS BIGINT) AS h
              |       FROM cp),
              |pp AS (SELECT doc_id, pidx, passage,
              |         ((h % 1048576) + i * ((h >> 20) * 2 + 1)) % 1048576 AS pos
              |       FROM ph, (SELECT unnest(range(0, 3)) AS i) ii),
              |pj AS (SELECT pp.doc_id, pp.pidx, pp.passage,
              |         CASE WHEN coalesce(bw.bits
              |             & (CAST(1 AS BIGINT) << CAST(pp.pos % 32 AS INT)), 0) <> 0
              |           THEN 1 ELSE 0 END AS hit
              |       FROM pp LEFT JOIN bw ON pp.pos // 32 = bw.word_idx),
              |pb AS (SELECT doc_id, pidx, passage, min(hit) AS bloom_hit
              |       FROM pj GROUP BY 1, 2, 3),
              |ex AS (SELECT DISTINCT md5(g) AS fp FROM bg),
              |pe AS (SELECT pb.doc_id, pb.bloom_hit,
              |         CASE WHEN ex.fp IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
              |       FROM pb LEFT JOIN ex ON md5(pb.passage) = ex.fp),
              |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
              |         CAST(sum(bloom_hit) AS BIGINT) AS bloom_hits,
              |         CAST(sum(exact_hit) AS BIGINT) AS exact_hits
              |       FROM pe GROUP BY 1)
              |SELECT doc_id, n_passages, bloom_hits, exact_hits,
              |  bloom_hits - exact_hits AS false_pos,
              |  exact_hits > 0 AS contaminated,
              |  bloom_hits > 0 AS bloom_drop
              |FROM ag""".stripMargin)),

    // reliability table for the integer quality classifier (Niculescu-
    // Mizil & Caruana 2005): equal-width logit bins, per bin the mass,
    // mean score and empirical positive rate — the calibration-side
    // companion of t_classifier_auc (same scorer, same teacher labels).
    QDef("t_calibration",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        val scored = TextAnalysis.linearQualityScore(docs, "doc_id", "text",
          wTokensMicro = 500000L, wCharsMicro = 50000L, wAlphaMicro = 30000L,
          wStopMicro = 200000L, wMwlMicro = 2000L, biasMicro = -62000000L)
        val teach = docs.select(col("doc_id"),
            TextAnalysis.wsTokenCount(col("text")).cast("long").as("nt"),
            length(col("text")).cast("long").as("nc"),
            length(regexp_replace(col("text"), "[^A-Za-z]", ""))
              .cast("long").as("na"))
          .select(col("doc_id"),
            (col("nt") >= 20L && col("nt") <= 70L &&
              expr("na * 1024 DIV greatest(nc, 1)") >= 700L).as("teacher"))
        graft.functions.Eval.calibrationBins(scored.join(teach, "doc_id"),
          col("logit_micro"), col("teacher"), nBins = 10)
      },
      Some {
        s"""WITH $qualityScoredCte,
           |g AS (SELECT s, CAST(sum(y) AS BIGINT) AS pos,
           |        CAST(count(*) AS BIGINT) AS n
           |      FROM sc GROUP BY 1),
           |mm AS (SELECT min(s) AS lo, max(s) AS hi FROM g),
           |b AS (SELECT (s - lo) // ((hi - lo) // 10 + 1) AS bin, s, n, pos
           |      FROM g, mm)
           |SELECT CAST(bin AS BIGINT) AS bin,
           |  CAST(sum(n) AS BIGINT) AS n,
           |  CAST(sum(s * n) // sum(n) AS BIGINT) AS mean_score,
           |  CAST(sum(pos) * 1000000 // sum(n) AS BIGINT) AS pos_ppm
           |FROM b GROUP BY 1""".stripMargin
      }),

    // nDCG@5 of the BM25 ranking against same-source relevance
    // (Järvelin & Kekäläinen 2002): position discounts are integer —
    // gain(i) = 1e6·2^16 DIV log2q16(i+1), the same portable log as the
    // idf — so DCG, ideal DCG and the ppm ratio replay bit-exactly.
    // Self-retrieval is excluded on both the ranking (excludeSelf) and
    // the relevance totals (n_same_source − 1).
    QDef("t_ndcg",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        val res = Retrieval.bm25TopK(docs, "doc_id", "text",
          Retrieval.queriesFromDocs(docs, "doc_id", "text"),
          k = 5, maxDf = 40L, excludeSelf = true)
        val qsrc = docs.filter(pmod(col("doc_id"), lit(29L)) === 3L)
          .select(col("doc_id").as("query_id"), col("source").as("__qsrc"))
        val labeled = res
          .join(broadcast(qsrc), Seq("query_id"))
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .withColumn("rel", col("source") === col("__qsrc"))
          .select("query_id", "doc_id", "rnk", "rel")
        val srcn = docs.groupBy(col("source")).agg(count(lit(1)).as("__ns"))
        val nrt = qsrc.join(broadcast(srcn), col("__qsrc") === col("source"))
          .select(col("query_id"), (col("__ns") - 1L).as("n_rel_total"))
        graft.functions.Eval.ndcgAtK(labeled, nrt, k = 5)
      },
      Some(s"""WITH RECURSIVE
              |$evalLabelCtes,
              |lab AS (SELECT res.query_id, res.doc_id, res.rnk,
              |          CASE WHEN ds.source = qs.qsrc THEN 1 ELSE 0 END AS rel
              |        FROM res JOIN qs USING (query_id) JOIN ds USING (doc_id)),
              |rin AS (SELECT j, CAST(j + 1 AS BIGINT) AS x
              |        FROM (SELECT unnest(range(1, 6)) AS j) jj),
              |${Portable.log2q16Sql("rin", Seq("j"), "x", "lgr", "lg")},
              |gains AS (SELECT j, CAST(65536000000 AS BIGINT) // lg AS g
              |          FROM lgr),
              |cgs AS (SELECT j, CAST(sum(g) OVER (ORDER BY j
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |          AS BIGINT) AS cg
              |        FROM gains),
              |dcg AS (SELECT query_id,
              |          CAST(sum(CASE WHEN rel = 1 THEN g ELSE 0 END) AS BIGINT)
              |            AS dcg_micro,
              |          CAST(sum(rel) AS BIGINT) AS n_rel_in_k
              |        FROM lab JOIN gains ON gains.j = lab.rnk GROUP BY 1),
              |srcn AS (SELECT source, CAST(count(*) AS BIGINT) AS ns
              |         FROM documents GROUP BY 1),
              |nrt AS (SELECT qs.query_id, ns - 1 AS n_rel_total
              |        FROM qs JOIN srcn ON srcn.source = qs.qsrc)
              |SELECT dcg.query_id, nrt.n_rel_total, dcg.n_rel_in_k,
              |  dcg.dcg_micro, coalesce(cgs.cg, 0) AS idcg_micro,
              |  CASE WHEN cgs.cg IS NOT NULL
              |    THEN dcg.dcg_micro * 1000000 // cgs.cg END AS ndcg_ppm
              |FROM dcg JOIN nrt USING (query_id)
              |LEFT JOIN cgs ON cgs.j = least(nrt.n_rel_total, 5)""".stripMargin)),

    // Cohen's kappa of the integer quality classifier against its
    // teacher heuristic (Cohen 1960): 2x2 confusion matrix + chance-
    // corrected agreement, every step truncating integer, one
    // map-side-partial aggregate.
    QDef("t_kappa",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        val scored = TextAnalysis.linearQualityScore(docs, "doc_id", "text",
          wTokensMicro = 500000L, wCharsMicro = 50000L, wAlphaMicro = 30000L,
          wStopMicro = 200000L, wMwlMicro = 2000L, biasMicro = -62000000L)
        val teach = docs.select(col("doc_id"),
            TextAnalysis.wsTokenCount(col("text")).cast("long").as("nt"),
            length(col("text")).cast("long").as("nc"),
            length(regexp_replace(col("text"), "[^A-Za-z]", ""))
              .cast("long").as("na"))
          .select(col("doc_id"),
            (col("nt") >= 20L && col("nt") <= 70L &&
              expr("na * 1024 DIV greatest(nc, 1)") >= 700L).as("teacher"))
        graft.functions.Eval.cohensKappa(scored.join(teach, "doc_id"),
          col("logit_micro") >= 0L, col("teacher"))
      },
      Some {
        s"""WITH sc AS (
           |  SELECT doc_id,
           |    CASE WHEN $qualityLogitSql
           |      >= 0 THEN 1 ELSE 0 END AS a,
           |    $qualityTeacherSql AS b
           |  FROM documents),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |        CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
           |        CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
           |        CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
           |        CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
           |      FROM sc),
           |p AS (SELECT *, (n00 + n11) * 1000000 // n AS po_ppm,
           |        CAST(((CAST(n10 + n11 AS HUGEINT) * (n01 + n11)
           |          + CAST(n00 + n01 AS HUGEINT) * (n00 + n10)) * 1000000)
           |          // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm
           |      FROM m)
           |SELECT n, n00, n01, n10, n11,
           |  CAST(po_ppm AS BIGINT) AS po_ppm, pe_ppm,
           |  (po_ppm - pe_ppm) * 1000000
           |    // nullif(1000000 - pe_ppm, 0) AS kappa_ppm
           |FROM p""".stripMargin
      }),

    // reciprocal rank of the same BM25 ranking (the MRR family's
    // per-query row): 1e6 DIV rank of the first same-source result,
    // 0 when none ranked — the second standard retrieval-eval metric
    // next to t_ndcg, same candidate pipeline.
    QDef("t_mrr",
      (s, dir) => {
        val docs = Q.table(s, dir, "documents")
        val res = Retrieval.bm25TopK(docs, "doc_id", "text",
          Retrieval.queriesFromDocs(docs, "doc_id", "text"),
          k = 5, maxDf = 40L, excludeSelf = true)
        val qsrc = docs.filter(pmod(col("doc_id"), lit(29L)) === 3L)
          .select(col("doc_id").as("query_id"), col("source").as("__qsrc"))
        val labeled = res
          .join(broadcast(qsrc), Seq("query_id"))
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .withColumn("rel", col("source") === col("__qsrc"))
          .select("query_id", "doc_id", "rnk", "rel")
        graft.functions.Eval.reciprocalRank(labeled)
      },
      Some(s"""WITH RECURSIVE
              |$evalLabelCtes,
              |lab AS (SELECT res.query_id, res.rnk,
              |          CASE WHEN ds.source = qs.qsrc THEN 1 ELSE 0 END AS rel
              |        FROM res JOIN qs USING (query_id) JOIN ds USING (doc_id)),
              |fr AS (SELECT query_id,
              |         CAST(min(CASE WHEN rel = 1 THEN rnk END) AS BIGINT)
              |           AS first_rel_rank
              |       FROM lab GROUP BY 1)
              |SELECT query_id, first_rel_rank,
              |  coalesce(1000000 // first_rel_rank, 0) AS rr_ppm
              |FROM fr""".stripMargin)),

    // THE CENTURY CAPSTONE (round 12): the full production curation
    // chain composed into ONE artifact — Gopher/C4/quality/PII gates →
    // exact dedup → MinHash fuzzy dedup (Jaccard ≥ 0.5, min-id
    // survives) → 8-gram benchmark decontamination (doc_id % 23 split)
    // → temperature mixture sample (20k-token budget, salt 'cap') →
    // concat-and-split packing → BUCKETED-AT-REST shard table, WRITTEN
    // to disk and READ BACK. Output = per-sequence digest of the
    // read-back table (token-hash sum + position-weighted sum), so the
    // hash gate proves the bytes a trainer would read. Every fragment
    // below is one a standalone oracle already proved engine-exact
    // (t_pipeline_e2e gates, dd_minhash_pairs, t_decontaminate,
    // t_mixture_sample, t_bpe_pack assembly); this query guards their
    // COMPOSITION — the stage-reuse-trap habitat (Curation.capstoneShards
    // localCheckpoints each multiply-consumed frame).
    QDef("t_capstone_shards",
      (s, dir) => graft.pipeline.Curation.capstoneShards(
        Q.table(s, dir, "documents"), "doc_id", "text", "source",
        outTable = "graft_capstone_shards",
        outPath = Q.indexDir("capstone", dir, "documents", "shards"),
        minQualityMicro = 800000L, maxPii = 0L, tau = 0.5,
        passageLen = 8, budgetTokens = 20000L, seqLen = 512,
        nBuckets = 32, seqsPerShard = 8L, tableBuckets = 8),
      Some {
        s"""WITH ${curationGateCtes("dd0", c4 = true)},
           |kept0 AS MATERIALIZED (
           |  SELECT doc_id, source, text FROM documents
           |  JOIN dd0 USING (doc_id) JOIN g USING (doc_id)
           |  JOIN q USING (doc_id) JOIN pp USING (doc_id)
           |  WHERE dedup_ok AND r_len_ok AND r_mwl_ok AND r_sw_ok
           |    AND r_alpha_ok AND c4_ok AND quality_micro >= 800000
           |    AND n_pii <= 0 AND doc_id % 23 <> 0),
           |kw AS (SELECT doc_id, $wordsSql AS words FROM kept0),
           |sh AS MATERIALIZED (
           |  SELECT DISTINCT doc_id, shingle FROM (
           |    SELECT doc_id,
           |      unnest(list_transform(range(1, greatest(len(words) - 2, 0) + 1),
           |        i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]))
           |        AS shingle
           |    FROM kw) t),
           |${minhashBandsCteGen(materializedSig = true)},
           |$minhashCandCtes,
           |dups AS (
           |  SELECT DISTINCT c.id_b AS doc_id FROM cand c
           |  JOIN co ON co.id_a = c.id_a AND co.id_b = c.id_b
           |  JOIN sizes sa ON sa.doc_id = c.id_a
           |  JOIN sizes sb ON sb.doc_id = c.id_b
           |  WHERE CAST(co.co AS DOUBLE) / CAST(sa.n + sb.n - co.co AS DOUBLE)
           |    >= 0.5),
           |kept1 AS (SELECT * FROM kept0
           |          WHERE doc_id NOT IN (SELECT doc_id FROM dups)),
           |wn2 AS (SELECT doc_id, source,
           |          regexp_split_to_array($normSql, ' ') AS words FROM kept1),
           |pas AS (
           |  SELECT doc_id, source, CAST((s - 1) // 8 AS BIGINT) AS pidx,
           |    array_to_string(list_slice(words, s, s + 7), ' ') AS passage
           |  FROM (SELECT doc_id, source, words,
           |          unnest(range(1, len(words) + 1, 8)) AS s FROM wn2)),
           |bw AS (SELECT regexp_split_to_array($normSql, ' ') AS words
           |       FROM documents WHERE doc_id % 23 = 0),
           |ev AS (SELECT DISTINCT
           |         md5(array_to_string(list_slice(words, i, i + 7), ' ')) AS fp
           |       FROM (SELECT words,
           |               unnest(range(1, greatest(len(words) - 7, 0) + 1)) AS i
           |             FROM bw) t),
           |keptp AS (SELECT doc_id, source, pidx, passage FROM pas
           |          WHERE md5(passage) NOT IN (SELECT fp FROM ev)),
           |clean AS MATERIALIZED (
           |  SELECT doc_id, source,
           |    string_agg(passage, ' ' ORDER BY pidx) AS clean_text
           |  FROM keptp GROUP BY 1, 2),
           |d2 AS (SELECT doc_id, source,
           |        CAST(len(regexp_split_to_array(trim(clean_text), '\\s+'))
           |          AS BIGINT) AS n_tokens
           |       FROM clean),
           |s1 AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n
           |       FROM d2 GROUP BY 1),
           |s2 AS (SELECT source, n,
           |         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000.0) AS BIGINT) AS sq
           |       FROM s1),
           |ts AS (SELECT CAST(sum(sq) AS BIGINT) AS ssum FROM s2),
           |r AS (SELECT source,
           |        least(1000000, ((CAST(20000 AS BIGINT) * 1000000 // ssum) * sq) // n)
           |          AS rate_micro
           |      FROM s2, ts),
           |samp AS (SELECT d2.doc_id, d2.n_tokens FROM d2 JOIN r USING (source)
           |         WHERE (CAST(('0x' || substr(md5('cap' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           |                  % 1000000) < r.rate_micro),
           |d AS (SELECT doc_id, n_tokens,
           |       (CAST(('0x' || substr(md5('cap' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           |         % 1000000) % 32 AS bucket
           |      FROM samp WHERE n_tokens > 0),
           |c AS (SELECT doc_id, bucket, n_tokens,
           |        CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |          AS local_end
           |      FROM d),
           |bo AS (SELECT bucket,
           |        CAST(coalesce(sum(tot) OVER (ORDER BY bucket
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |          AS bucket_off
           |       FROM (SELECT bucket, sum(n_tokens) AS tot FROM d GROUP BY bucket) t),
           |pk AS (SELECT c.doc_id, c.n_tokens,
           |        bucket_off + local_end - n_tokens AS start_off,
           |        (bucket_off + local_end - n_tokens) // 512 AS seq_first,
           |        (bucket_off + local_end - 1) // 512 AS seq_last
           |       FROM c JOIN bo USING (bucket)),
           |ex AS (SELECT doc_id, n_tokens, start_off,
           |        unnest(generate_series(seq_first, seq_last)) AS seq_id
           |       FROM pk),
           |sl AS (SELECT ex.seq_id, ex.doc_id,
           |        greatest(start_off, seq_id * 512) - start_off AS tok_from,
           |        least(start_off + n_tokens, (seq_id + 1) * 512) - start_off AS tok_to,
           |        greatest(start_off, seq_id * 512) - seq_id * 512 AS seq_off
           |       FROM ex),
           |tw AS (SELECT doc_id,
           |         regexp_split_to_array(trim(clean_text), '\\s+') AS toks
           |       FROM clean),
           |x AS (SELECT sl.seq_id,
           |        unnest(list_slice(tw.toks, CAST(tok_from + 1 AS INTEGER),
           |                          CAST(tok_to AS INTEGER))) AS tok,
           |        seq_off + unnest(range(1, tok_to - tok_from + 1)) AS pos
           |      FROM sl JOIN tw USING (doc_id))
           |SELECT seq_id // 8 AS shard, seq_id,
           |  CAST(count(*) AS BIGINT) AS n_tokens,
           |  CAST(sum(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)) AS BIGINT)
           |    AS hash_sum,
           |  CAST(sum(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) * pos) AS BIGINT)
           |    AS hash_possum
           |FROM x GROUP BY 1, 2""".stripMargin
      })
  )
}
