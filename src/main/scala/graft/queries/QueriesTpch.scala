package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Headline analytical queries over the TPC-H-ish tables — generic
  * filter/join/aggregate coverage (SURVEY §2.2-2.4; the reference's own
  * joins/aggregations are all subsumed by these shapes) and the BENCH
  * workhorses.
  *
  * Numeric discipline for oracle parity: measures are quantized to
  * **micro-unit BIGINT** per row (cast to DECIMAL(25,6) — exact for the
  * 2-decimal inputs — then ×1e6 to a long) and summed in integer space:
  * exact, associative (immune to partial-aggregation order), and
  * hash-portable — round 1 showed DECIMAL output columns serialize
  * differently between Spark parquet and the DuckDB oracle even when the
  * values are equal. Averages are exact integer floor-divisions of the
  * micro sums. DuckDB side: integer SUMs widen to HUGEINT → CAST back.
  */
object QueriesTpch {

  private val dec = "decimal(25,6)"

  /** Per-row micro-unit quantization: exact decimal, then integral long. */
  private def micro(c: Column): Column =
    (c.cast(dec) * lit(1000000)).cast("long") // int literal: decimal(36,6), no precision loss

  /** Same quantization as DuckDB SQL text.
    *
    * The paired `sum(micro) DIV count` / `sum // count` average recipe
    * is engine-exact for ANY sign: Spark's integer `DIV` and DuckDB's
    * integer `//` BOTH truncate toward zero (verified: `-7 // 2 = -3`
    * in DuckDB 1.x — an earlier note here claimed `//` floors, which
    * is true only for FLOAT operands). Keep both sides on integer
    * operands and the semantics match.
    */
  private def microSql(e: String): String =
    s"CAST(CAST($e AS DECIMAL(25,6)) * 1000000 AS BIGINT)"

  /** The distinct customer → supplier trade pairs (suppliers keyed
    * negative) as the CTE `name` — mirrors PageRank.tradeGraphPairs.
    */
  private def tradePairsCte(name: String, materialized: Boolean): String =
    s"""$name AS${if (materialized) " MATERIALIZED" else ""} (
       |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
       |                  CAST(-l_suppkey AS BIGINT) AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey)""".stripMargin

  /** The trade `pairs` and their symmetrized edge list `e` — mirrors
    * PageRank.tradeGraphEdges.
    */
  private val tradeEdgesCtes: String =
    s"""${tradePairsCte("pairs", materialized = false)},
       |e AS MATERIALIZED (SELECT src, dst FROM pairs
       |       UNION ALL SELECT dst, src FROM pairs)""".stripMargin

  /** The PageRank input: symmetrized trade edges with their source's
    * out-degree, `e (src, dst, deg)`, and the nodes `n`.
    */
  private val pageRankGraphCtes: String =
    s"""${tradePairsCte("pairs", materialized = false)},
       |edges AS (SELECT src, dst FROM pairs
       |          UNION ALL SELECT dst, src FROM pairs),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |e AS (SELECT edges.src, edges.dst, deg.deg
       |      FROM edges JOIN deg USING (src)),
       |n AS (SELECT src AS node FROM deg)""".stripMargin

  /** Three unrolled integer PageRank rounds `r1`..`r3` from `r0`
    * (damping 0.85, `teleport` = a node's teleport mass in micro
    * units) — mirrors PageRank.ranks and personalizedRanks.
    */
  private def pageRankRounds(teleport: String): String =
    (1 to 3).map { r =>
      s"""c$r AS (SELECT e.dst AS node, sum(r${r - 1}.rank_micro // e.deg) AS s
         |       FROM e JOIN r${r - 1} ON r${r - 1}.node = e.src GROUP BY e.dst),
         |r$r AS (SELECT n.node,
         |         CAST($teleport
         |           + (85 * coalesce(c$r.s, 0)) // 100 AS BIGINT)
         |           AS rank_micro
         |       FROM n LEFT JOIN c$r ON c$r.node = n.node)""".stripMargin
    }.mkString(",\n")

  /** Three unrolled synchronous label-propagation rounds over the trade
    * edges, `l0`..`l3` (most frequent neighbour label, smallest label on
    * ties) — mirrors Graphs.labelPropagation.
    */
  private val labelPropCtes: String = {
    val rounds = (1 to 3).map { r =>
      s"""v$r AS (SELECT e.dst, l.label, CAST(count(*) AS BIGINT) AS c
         |  FROM e JOIN l${r - 1} l ON l.v = e.src GROUP BY 1, 2),
         |l$r AS MATERIALIZED (SELECT dst AS v, label FROM (
         |  SELECT dst, label, row_number() OVER (
         |    PARTITION BY dst ORDER BY c DESC, label ASC) AS rn
         |  FROM v$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$tradeEdgesCtes,
       |l0 AS (SELECT DISTINCT src AS v, src AS label FROM e),
       |$rounds""".stripMargin
  }

  /** Candidate part-name pairs `cand (name_a, name_b)` from two-pass
    * token blocking (blocks above 500 names dropped) over the distinct
    * names `n (name, n_rows)` — mirrors EntityResolution.nameMatchPairs
    * before its edit-distance check.
    */
  private val entityCandCtes: String =
    """n AS (SELECT p_name AS name,
      |         CAST(count(*) AS BIGINT) AS n_rows
      |       FROM part GROUP BY 1),
      |t AS (SELECT name, string_split(name, ' ') AS toks FROM n),
      |b AS (SELECT name, 't1:' || toks[1] AS blk FROM t
      |      UNION ALL SELECT name, 't2:' || toks[2] FROM t),
      |sz AS (SELECT blk FROM b GROUP BY blk
      |       HAVING count(*) <= 500),
      |bb AS (SELECT b.name, b.blk FROM b JOIN sz USING (blk)),
      |cand AS (SELECT DISTINCT a.name AS name_a, b2.name AS name_b
      |         FROM bb a JOIN bb b2 USING (blk)
      |         WHERE a.name < b2.name)""".stripMargin

  val defs: Seq[QDef] = Seq(

    QDef("q1_pricing_summary",
      (s, dir) => {
        val l = Q.table(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        l.groupBy("l_returnflag", "l_linestatus").agg(
          sum(micro(col("l_quantity"))).as("sum_qty_micro"),
          sum(micro(col("l_extendedprice"))).as("sum_base_price_micro"),
          sum(micro(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("sum_disc_price_micro"),
          sum(micro(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))))
            .as("sum_charge_micro"),
          expr("sum(CAST(CAST(l_quantity AS decimal(25,6)) * 1000000 AS BIGINT)) DIV count(1)")
            .as("avg_qty_micro"),
          expr("sum(CAST(CAST(l_discount AS decimal(25,6)) * 1000000 AS BIGINT)) DIV count(1)")
            .as("avg_disc_micro"),
          count(lit(1)).as("count_order"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(${microSql("l_quantity")}) AS BIGINT) AS sum_qty_micro,
             |  CAST(sum(${microSql("l_extendedprice")}) AS BIGINT) AS sum_base_price_micro,
             |  CAST(sum(${microSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS sum_disc_price_micro,
             |  CAST(sum(${microSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")}) AS BIGINT) AS sum_charge_micro,
             |  CAST(sum(${microSql("l_quantity")}) // count(*) AS BIGINT) AS avg_qty_micro,
             |  CAST(sum(${microSql("l_discount")}) // count(*) AS BIGINT) AS avg_disc_micro,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    QDef("q3_top_orders",
      (s, dir) => {
        val c = Q.table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = Q.table(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
        val l = Q.table(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderpriority"))
          .agg(sum(micro(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue_micro"))
          .orderBy(col("revenue_micro").desc, col("l_orderkey").asc)
          .limit(10)
      },
      Some(s"""SELECT l_orderkey, o_orderpriority,
             |  CAST(sum(${microSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS revenue_micro
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
             |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
             |GROUP BY l_orderkey, o_orderpriority
             |ORDER BY revenue_micro DESC, l_orderkey ASC
             |LIMIT 10""".stripMargin)),

    QDef("q5_nation_revenue",
      (s, dir) => {
        val l = Q.table(s, dir, "lineitem")
        val o = Q.table(s, dir, "orders")
        val c = Q.table(s, dir, "customer")
        val sup = Q.table(s, dir, "supplier")
        val n = Q.table(s, dir, "nation")
        val r = Q.table(s, dir, "region")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(micro(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue_micro"),
            count(lit(1)).as("n_lines"))
      },
      Some(s"""SELECT r_name, n_name,
             |  CAST(sum(${microSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS revenue_micro,
             |  count(*) AS n_lines
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name""".stripMargin)),

    // TPC-H q10 shape — returned-item report: one quarter of orders,
    // returned lines only, revenue per customer, top 20. The selective
    // date filter reaches the orders scan; customer/nation broadcast;
    // the top-k is a partial TakeOrdered, never a global sort.
    QDef("q10_returned_items",
      (s, dir) => {
        val l = Q.table(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        val o = Q.table(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        val c = Q.table(s, dir, "customer")
        val n = Q.table(s, dir, "nation")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(sum(micro(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue_micro"),
            count(lit(1)).as("n_lines"))
          .orderBy(col("revenue_micro").desc, col("c_custkey").asc)
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, n_name,
             |  CAST(sum(${microSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS revenue_micro,
             |  count(*) AS n_lines
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE l_returnflag = 'R'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
             |GROUP BY c_custkey, c_name, n_name
             |ORDER BY revenue_micro DESC, c_custkey ASC
             |LIMIT 20""".stripMargin)),

    // TPC-H q18 shape — large-volume orders: aggregate lineitem FIRST
    // (the HAVING semi-join), then join the tiny qualifying set to
    // orders/customer. The aggregation is the reduction: at 100 TB the
    // qualifying orders are a sliver of lineitem, so the heavy table is
    // touched once by a partial-agg groupBy and the join sides after it
    // are broadcast-able — the win is agg-before-join, not pushdown.
    QDef("q18_large_orders",
      (s, dir) => {
        val l = Q.table(s, dir, "lineitem")
        val big = l.groupBy(col("l_orderkey"))
          .agg(sum(micro(col("l_quantity"))).as("sum_qty_micro"))
          .filter(col("sum_qty_micro") > lit(300L * 1000000L))
        val o = Q.table(s, dir, "orders")
        val c = Q.table(s, dir, "customer")
        o.join(big, col("o_orderkey") === col("l_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            // parquet TIMESTAMP_NTZ → session-UTC timestamp, exact µs
            unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
            micro(col("o_totalprice")).as("o_totalprice_micro"),
            col("sum_qty_micro"))
      },
      Some(s"""WITH big AS (
             |  SELECT l_orderkey,
             |    CAST(sum(${microSql("l_quantity")}) AS BIGINT) AS sum_qty_micro
             |  FROM lineitem GROUP BY 1
             |  HAVING CAST(sum(${microSql("l_quantity")}) AS BIGINT) > 300000000)
             |SELECT c_name, c_custkey, o_orderkey,
             |  epoch_us(o_orderdate) AS o_orderdate_us,
             |  ${microSql("o_totalprice")} AS o_totalprice_micro,
             |  sum_qty_micro
             |FROM orders
             |JOIN big ON o_orderkey = l_orderkey
             |JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    // TPC-H q14 shape — promo revenue ratio: one month of lineitem
    // (date filter pushed to the scan) broadcast-joined to the part dim,
    // conditional micro-unit sums, ratio = IEEE division of two exact
    // integers (deterministic across engines). The single-row ratio
    // report shape: no shuffle beyond the one partial-agg merge.
    QDef("q14_promo_revenue",
      (s, dir) => {
        val l = Q.table(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        val p = Q.table(s, dir, "part")
        l.join(p, col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO",
              micro(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
              .otherwise(lit(0L))).as("promo_micro"),
            sum(micro(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
              .as("total_micro"))
          .withColumn("promo_ratio",
            round(col("promo_micro").cast("double") / col("total_micro").cast("double"), 6))
      },
      Some(s"""SELECT promo_micro, total_micro,
             |  round(CAST(promo_micro AS DOUBLE) / CAST(total_micro AS DOUBLE), 6)
             |    AS promo_ratio
             |FROM (
             |  SELECT
             |    CAST(sum(CASE WHEN p_type = 'PROMO'
             |      THEN ${microSql("l_extendedprice * (1.0 - l_discount)")}
             |      ELSE 0 END) AS BIGINT) AS promo_micro,
             |    CAST(sum(${microSql("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT)
             |      AS total_micro
             |  FROM lineitem
             |  JOIN part ON l_partkey = p_partkey
             |  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
             |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00') t""".stripMargin)),

    // semi/anti join coverage (free Spark builtins; SURVEY §2.10)
    QDef("q_semi_anti",
      (s, dir) => {
        val o = Q.table(s, dir, "orders")
        val l = Q.table(s, dir, "lineitem").filter(col("l_quantity") > 45)
        val withBig = o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .select(col("o_orderkey"), lit(1).as("has_big"))
        val withoutBig = o.join(l, col("o_orderkey") === col("l_orderkey"), "left_anti")
          .select(col("o_orderkey"), lit(0).as("has_big"))
        withBig.unionByName(withoutBig)
      },
      Some("""SELECT o_orderkey, 1 AS has_big FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
             |UNION ALL
             |SELECT o_orderkey, 0 AS has_big FROM orders
             |WHERE NOT EXISTS (SELECT 1 FROM lineitem
             |                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)""".stripMargin)),

    // graph authority over the customer↔supplier trade graph: 3 fixed
    // PageRank iterations in exact integer micro-units (floor division
    // everywhere — no float accumulation order), each iteration one
    // same-key equi-join + one partially-aggregated groupBy; the ranks
    // frame is |V| rows, lineage truncated per round. The oracle unrolls
    // the identical iterations as CTEs.
    // declarative data-quality audit (the Deequ/expectations shape):
    // six rules over lineitem evaluate in ONE aggregation pass (every
    // rule = (observed value, pass predicate) aggregates — auditing
    // 100 TB costs one scan regardless of rule count) + one
    // referential anti-join frame. discount_bounds and shipdate_range
    // FAIL on this data by design — the audit reports, it does not
    // filter. Integer values (micro ratios / violation counts) =>
    // exact replay.
    QDef("q_quality_audit",
      (s, dir) => {
        import graft.ops.DataQuality._
        val l = Q.table(s, dir, "lineitem")
        val o = Q.table(s, dir, "orders")
        val loTs = lit(788918400000000L)  // 1995-01-01 UTC µs
        val hiTs = lit(978307200000000L)  // 2001-01-01 UTC µs
        val rules = Seq(
          ("quantity_completeness", completenessMicro(col("l_quantity")),
            completenessMicro(col("l_quantity")) === 1000000L),
          ("quantity_bounds",
            boundViolations(col("l_quantity"), lit(1.0), lit(50.0)),
            boundViolations(col("l_quantity"), lit(1.0), lit(50.0)) === 0L),
          ("discount_bounds",
            boundViolations(col("l_discount"), lit(0.0), lit(0.06)),
            boundViolations(col("l_discount"), lit(0.0), lit(0.06)) === 0L),
          ("pk_unique", dupCount(col("l_orderkey"), col("l_linenumber")),
            dupCount(col("l_orderkey"), col("l_linenumber")) === 0L),
          ("shipdate_range",
            boundViolations(unix_micros(col("l_shipdate").cast("timestamp")), loTs, hiTs),
            boundViolations(unix_micros(col("l_shipdate").cast("timestamp")), loTs, hiTs) === 0L))
        audit(l, rules).unionByName(
          refIntegrity("orderkey_ref", l, col("l_orderkey"),
            o, col("o_orderkey")))
      },
      Some("""SELECT 'quantity_completeness' AS rule,
             |  CAST(count(l_quantity) * 1000000 // count(*) AS BIGINT) AS value,
             |  count(l_quantity) * 1000000 // count(*) = 1000000 AS ok
             |FROM lineitem
             |UNION ALL
             |SELECT 'quantity_bounds',
             |  CAST(count(*) - count(CASE WHEN l_quantity >= 1.0
             |    AND l_quantity <= 50.0 THEN 1 END) AS BIGINT),
             |  count(*) = count(CASE WHEN l_quantity >= 1.0
             |    AND l_quantity <= 50.0 THEN 1 END)
             |FROM lineitem
             |UNION ALL
             |SELECT 'discount_bounds',
             |  CAST(count(*) - count(CASE WHEN l_discount >= 0.0
             |    AND l_discount <= 0.06 THEN 1 END) AS BIGINT),
             |  count(*) = count(CASE WHEN l_discount >= 0.0
             |    AND l_discount <= 0.06 THEN 1 END)
             |FROM lineitem
             |UNION ALL
             |SELECT 'pk_unique',
             |  CAST(count(*) - count(DISTINCT CASE WHEN l_orderkey IS NOT NULL
             |    AND l_linenumber IS NOT NULL
             |    THEN (l_orderkey, l_linenumber) END) AS BIGINT),
             |  count(*) = count(DISTINCT CASE WHEN l_orderkey IS NOT NULL
             |    AND l_linenumber IS NOT NULL
             |    THEN (l_orderkey, l_linenumber) END)
             |FROM lineitem
             |UNION ALL
             |SELECT 'shipdate_range',
             |  CAST(count(*) - count(CASE WHEN epoch_us(l_shipdate)
             |    >= 788918400000000 AND epoch_us(l_shipdate)
             |    <= 978307200000000 THEN 1 END) AS BIGINT),
             |  count(*) = count(CASE WHEN epoch_us(l_shipdate)
             |    >= 788918400000000 AND epoch_us(l_shipdate)
             |    <= 978307200000000 THEN 1 END)
             |FROM lineitem
             |UNION ALL
             |SELECT 'orderkey_ref', CAST(count(*) AS BIGINT), count(*) = 0
             |FROM lineitem l WHERE NOT EXISTS
             |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)"""
        .stripMargin)),

    // snapshot diff: today's orders = yesterday's with planted drops
    // (%13), price bumps (%7) and inserts (%41, shifted keys); the
    // diff classifies every key with null-safe column comparison and
    // names the changed columns. Output = the (status, changed_cols)
    // histogram. One key-hash shuffle per side.
    QDef("q_snapshot_diff",
      (s, dir) => {
        val o = Q.table(s, dir, "orders")
        val mutated = o.filter(col("o_orderkey") % 13 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
              .otherwise(col("o_totalprice")))
          .unionByName(o.filter(col("o_orderkey") % 41 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
        graft.core.Tables.snapshotDiff(o, mutated, "o_orderkey",
            Seq("o_orderstatus", "o_totalprice"))
          .groupBy(col("status"),
            coalesce(col("changed_cols"), lit("")).as("changed_cols"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""WITH oldt AS (SELECT o_orderkey AS k, o_orderstatus AS c1,
             |                o_totalprice AS c2 FROM orders),
             |newt AS (
             |  SELECT o_orderkey AS k, o_orderstatus AS c1,
             |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
             |         ELSE o_totalprice END AS c2
             |  FROM orders WHERE o_orderkey % 13 <> 0
             |  UNION ALL
             |  SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
             |  FROM orders WHERE o_orderkey % 41 = 0),
             |j AS (SELECT o.k IS NOT NULL AS ino, n.k IS NOT NULL AS inn,
             |        o.c1 IS NOT DISTINCT FROM n.c1 AS s1,
             |        o.c2 IS NOT DISTINCT FROM n.c2 AS s2
             |      FROM oldt o FULL OUTER JOIN newt n ON o.k = n.k),
             |r AS (SELECT
             |        CASE WHEN NOT ino THEN 'added'
             |             WHEN NOT inn THEN 'removed'
             |             WHEN s1 AND s2 THEN 'unchanged'
             |             ELSE 'changed' END AS status,
             |        CASE WHEN ino AND inn AND NOT (s1 AND s2) THEN
             |          array_to_string(list_filter(
             |            [CASE WHEN NOT s1 THEN 'o_orderstatus' END,
             |             CASE WHEN NOT s2 THEN 'o_totalprice' END],
             |            x -> x IS NOT NULL), ',')
             |        ELSE '' END AS changed_cols
             |      FROM j)
             |SELECT status, changed_cols, CAST(count(*) AS BIGINT) AS n
             |FROM r GROUP BY 1, 2""".stripMargin)),

    // market-basket association rules over part co-occurrence: pairs
    // with support >= 3 (LIVE: 63 of 115k pairs at sf0.01), integer
    // confidence and lift in micro-units, top-20 by lift. All counts
    // on DISTINCT (order, part) — one pair shuffle, item-frequency
    // table broadcast back.
    QDef("q_assoc_rules",
      (s, dir) => {
        // distinct basket items materialized once: four consumers
        // (basket count, item counts, both sides of the pair self-join)
        val li = Q.table(s, dir, "lineitem")
          .select(col("l_orderkey").as("g"), col("l_partkey").as("item"))
          .distinct()
          .localCheckpoint()
        val n = li.agg(countDistinct(col("g")).as("n"))
        val cx = li.groupBy(col("item")).agg(count(lit(1)).as("c"))
        val pairs = li.as("a").join(li.as("b"),
            col("a.g") === col("b.g") && col("a.item") < col("b.item"))
          .groupBy(col("a.item").as("x"), col("b.item").as("y"))
          .agg(count(lit(1)).as("c_xy"))
          .filter(col("c_xy") >= 3L)
        pairs
          .join(cx.select(col("item").as("x"), col("c").as("c_x")), "x")
          .join(cx.select(col("item").as("y"), col("c").as("c_y")), "y")
          .crossJoin(broadcast(n))
          .select(col("x"), col("y"), col("c_xy"),
            call_function("div", col("c_xy") * 1000000L, col("c_x"))
              .as("conf_xy_micro"),
            call_function("div", col("c_xy") * 1000000L, col("c_y"))
              .as("conf_yx_micro"),
            call_function("div", col("c_xy") * col("n") * 1000000L,
              col("c_x") * col("c_y")).as("lift_micro"))
          .orderBy(col("lift_micro").desc, col("x").asc, col("y").asc)
          .limit(20)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
             |           FROM lineitem),
             |nn AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n FROM li),
             |cx AS (SELECT item, CAST(count(*) AS BIGINT) AS c
             |       FROM li GROUP BY 1),
             |pr AS (SELECT a.item AS x, b.item AS y,
             |         CAST(count(*) AS BIGINT) AS c_xy
             |       FROM li a JOIN li b ON a.g = b.g AND a.item < b.item
             |       GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT pr.x, pr.y, pr.c_xy,
             |  CAST(pr.c_xy * 1000000 // ax.c AS BIGINT) AS conf_xy_micro,
             |  CAST(pr.c_xy * 1000000 // ay.c AS BIGINT) AS conf_yx_micro,
             |  CAST(pr.c_xy * nn.n * 1000000 // (ax.c * ay.c) AS BIGINT)
             |    AS lift_micro
             |FROM pr JOIN cx ax ON ax.item = pr.x
             |        JOIN cx ay ON ay.item = pr.y, nn
             |ORDER BY lift_micro DESC, x ASC, y ASC
             |LIMIT 20""".stripMargin)),

    // TPC-H Q7 shape — cross-nation shipping volume: revenue between a
    // nation pair (both directions) by ship year. Two independent
    // nation lookups (supplier side, customer side) on one fact scan;
    // all dimension joins broadcast; year from l_shipdate.
    QDef("q7_nation_volume",
      (s, dir) => {
        val l = Q.table(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        val o = Q.table(s, dir, "orders")
        val c = Q.table(s, dir, "customer")
        val sup = Q.table(s, dir, "supplier")
        val n1 = Q.table(s, dir, "nation")
          .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
        val n2 = Q.table(s, dir, "nation")
          .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("snk"))
          .join(broadcast(n2), col("c_nationkey") === col("cnk"))
          .filter((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" &&
              col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(sum(micro(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue_micro"),
            count(lit(1)).as("n_lines"))
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |  CAST(year(l_shipdate) AS INT) AS l_year,
             |  CAST(sum(${microSql("l_extendedprice * (1.0 - l_discount)")})
             |    AS BIGINT) AS revenue_micro,
             |  count(*) AS n_lines
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation n1 ON s_nationkey = n1.n_nationkey
             |JOIN nation n2 ON c_nationkey = n2.n_nationkey
             |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
             |GROUP BY 1, 2, 3""".stripMargin)),

    // TPC-H Q16 shape — supplier diversity per part attribute: distinct
    // supplier count per (brand, size band), suppliers on a deterministic
    // denylist excluded by anti-join (the NOT IN shape), lineitem as
    // the part-supplier relation. countDistinct rides Expand in one
    // aggregation pass.
    QDef("q16_supplier_diversity",
      (s, dir) => {
        val li = Q.table(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        val p = Q.table(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"),
            expr("p_size DIV 10").as("size_band"))
        val bad = Q.table(s, dir, "supplier")
          .filter(col("s_suppkey") % 17 === 0)
          .select(col("s_suppkey").as("l_suppkey"))
        li.join(bad, Seq("l_suppkey"), "left_anti")
          .join(p, col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("size_band"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"),
            countDistinct(col("l_partkey")).as("part_cnt"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_partkey, l_suppkey
             |           FROM lineitem),
             |ok AS (SELECT li.* FROM li
             |       WHERE l_suppkey NOT IN (
             |         SELECT s_suppkey FROM supplier
             |         WHERE s_suppkey % 17 = 0))
             |SELECT p.p_brand, p.p_size // 10 AS size_band,
             |  CAST(count(DISTINCT ok.l_suppkey) AS BIGINT) AS supplier_cnt,
             |  CAST(count(DISTINCT ok.l_partkey) AS BIGINT) AS part_cnt
             |FROM ok JOIN part p ON ok.l_partkey = p.p_partkey
             |GROUP BY 1, 2""".stripMargin)),

    // join-key skew diagnosis: per candidate key column, the group-size
    // distribution (count, max, p50/p99 via the exact-percentile
    // histogram — a histogram OF the histogram), top-key share and
    // max/median skew ratio in micro-units. The report a planner (or a
    // human) reads before picking join keys / salting at 100 TB.
    QDef("q_skew_report",
      (s, dir) => {
        val li = Q.table(s, dir, "lineitem")
        def one(c: String) = {
          val grp = li.groupBy(col(c)).agg(count(lit(1)).as("c"))
            .withColumn("g", lit(c))
          val pq = graft.functions.Sketches.exactQuantiles(
            grp, Seq("g"), col("c"), Seq(50, 99))
          grp.groupBy(col("g").as("key_name"))
            .agg(sum(col("c")).as("n_rows"),
              count(lit(1)).as("n_keys"), max(col("c")).as("max_group"))
            .join(broadcast(pq.select(col("g").as("key_name"),
              col("p50").as("p50_group"), col("p99").as("p99_group"))),
              Seq("key_name"))
        }
        one("l_orderkey").unionByName(one("l_partkey"))
          .unionByName(one("l_suppkey"))
          .select(col("key_name"), col("n_rows"), col("n_keys"),
            col("max_group"), col("p50_group"), col("p99_group"),
            expr("max_group * 1000000 DIV n_rows").as("top_share_micro"),
            expr("max_group * 1000000 DIV greatest(p50_group, 1)")
              .as("skew_micro"))
      },
      Some {
        def blk(c: String) =
          s"""(SELECT '$c' AS key_name,
             |  CAST(sum(c) AS BIGINT) AS n_rows,
             |  CAST(count(*) AS BIGINT) AS n_keys,
             |  CAST(max(c) AS BIGINT) AS max_group,
             |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c)
             |    AS BIGINT) AS p50_group,
             |  CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY c)
             |    AS BIGINT) AS p99_group
             | FROM (SELECT $c AS k, CAST(count(*) AS BIGINT) AS c
             |       FROM lineitem GROUP BY 1) g)""".stripMargin
        s"""SELECT key_name, n_rows, n_keys, max_group, p50_group,
           |  p99_group,
           |  CAST(max_group * 1000000 // n_rows AS BIGINT)
           |    AS top_share_micro,
           |  CAST(max_group * 1000000 // greatest(p50_group, 1) AS BIGINT)
           |    AS skew_micro
           |FROM (${blk("l_orderkey")}
           |      UNION ALL ${blk("l_partkey")}
           |      UNION ALL ${blk("l_suppkey")}) t""".stripMargin
      }),

    // entity resolution, matching stage: near-identical part names via
    // multi-pass token blocking (one block per token position) over the
    // DISTINCT name universe, Levenshtein <= 2 verify, live block-size
    // cap. 24 matched pairs at sf0.01; the fuzzy compare never touches
    // the 2000-row part table, only the 64-name vocabulary.
    QDef("q_entity_match",
      (s, dir) => graft.ops.EntityResolution.nameMatchPairs(
        Q.table(s, dir, "part"), "p_name", maxDist = 2, blockCap = 500L),
      Some(s"""WITH $entityCandCtes,
             |p AS (SELECT name_a, name_b,
             |        CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
             |      FROM cand WHERE levenshtein(name_a, name_b) <= 2)
             |SELECT p.name_a, p.name_b, p.dist,
             |  na.n_rows AS rows_a, nb.n_rows AS rows_b
             |FROM p JOIN n na ON na.name = p.name_a
             |       JOIN n nb ON nb.name = p.name_b""".stripMargin)),

    // entity resolution, clustering + survivorship stage: the generic
    // HashMin connected-components operator composed over the fuzzy
    // match pairs (labels are STRINGS here — min-label propagation is
    // type-agnostic); canonical = the cluster's lexicographic-min name.
    // Same recursive-CTE min-reachable oracle as dd_clusters.
    QDef("q_entity_clusters",
      (s, dir) => {
        val part = Q.table(s, dir, "part")
        val names = part.groupBy(col("p_name").as("name"))
          .agg(count(lit(1)).as("n_rows"))
        val pairs = graft.ops.EntityResolution.nameMatchPairs(
          part, "p_name", maxDist = 2, blockCap = 500L)
        graft.functions.Dedup.nearDupClusters(
            names.select(col("name").as("id")), pairs,
            aCol = "name_a", bCol = "name_b")
          .select(col("id").as("name"), col("cluster").as("cluster_id"),
            col("is_canonical"))
          .join(names, Seq("name"))
      },
      Some(s"""WITH RECURSIVE
             |$entityCandCtes,
             |p AS (SELECT name_a, name_b FROM cand
             |      WHERE levenshtein(name_a, name_b) <= 2),
             |edges AS (SELECT name_a AS src, name_b AS dst FROM p
             |          UNION ALL SELECT name_b, name_a FROM p),
             |lab (id, cluster) AS (
             |  SELECT name, name FROM n
             |  UNION
             |  SELECT e.src, l.cluster FROM edges e JOIN lab l ON l.id = e.dst)
             |SELECT g.id AS name, g.cluster_id, g.is_canonical, n.n_rows
             |FROM (SELECT id, min(cluster) AS cluster_id,
             |        id = min(cluster) AS is_canonical
             |      FROM lab GROUP BY id) g
             |JOIN n ON n.name = g.id""".stripMargin)),

    // degree-oriented triangle counting over the part co-occurrence
    // graph (parts sharing an order): orientation by (degree, id) rank
    // bounds the wedge join by m^1.5 — the power-law-hub-safe scheme —
    // and counts each triangle exactly once at its lowest-rank vertex.
    // Integer stats => exact replay; closure = global clustering
    // coefficient in micro-units.
    QDef("q_triangles",
      (s, dir) => graft.ops.Graphs.triangleStats(
        graft.ops.Graphs.coOccurrenceEdges(
          Q.table(s, dir, "lineitem"), "l_orderkey", "l_partkey")),
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
             |           FROM lineitem),
             |pr AS (SELECT a.item AS x, b.item AS y
             |       FROM li a JOIN li b ON a.g = b.g AND a.item < b.item),
             |ed AS (SELECT DISTINCT x AS a, y AS b FROM pr),
             |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
             |          SELECT a AS v FROM ed UNION ALL SELECT b FROM ed) t
             |        GROUP BY v),
             |rk AS (SELECT ed.a, ed.b,
             |         da.d * 4294967296 + ed.a AS ra,
             |         db.d * 4294967296 + ed.b AS rb
             |       FROM ed JOIN deg da ON da.v = ed.a
             |               JOIN deg db ON db.v = ed.b),
             |o AS (SELECT CASE WHEN ra < rb THEN a ELSE b END AS src,
             |             CASE WHEN ra < rb THEN b ELSE a END AS dst,
             |             greatest(ra, rb) AS rdst
             |      FROM rk),
             |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
             |        FROM o e1 JOIN o e2 ON e1.src = e2.src
             |                           AND e1.rdst < e2.rdst
             |             JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
             |wed AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             |          CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
             |        FROM deg),
             |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ed)
             |SELECT wed.n_nodes, ne.n_edges, wed.n_wedges, tri.n_triangles,
             |  CAST(3000000 * tri.n_triangles
             |    // greatest(wed.n_wedges, 1) AS BIGINT) AS closure_micro
             |FROM ne, wed, tri""".stripMargin)),

    // k-core decomposition of the part co-occurrence graph: 8
    // synchronized peeling rounds at k = 80 (converges in 5 at
    // sf0.01 — 143 of 2000 parts peel off, the rest are the 80-core).
    // The oracle unrolls the same rounds as generated CTEs.
    QDef("q_kcore",
      (s, dir) => graft.ops.Graphs.kcoreRounds(
        graft.ops.Graphs.coOccurrenceEdges(
          Q.table(s, dir, "lineitem"), "l_orderkey", "l_partkey"),
        k = 80, rounds = 8),
      Some {
        val k = 80
        val rounds = (1 to 8).map { r =>
          s"""e$r AS MATERIALIZED (SELECT ed.a, ed.b FROM ed
             |  JOIN a${r - 1} x ON x.v = ed.a
             |  JOIN a${r - 1} y ON y.v = ed.b),
             |dd$r AS MATERIALIZED (SELECT a${r - 1}.v, coalesce(g.c, 0) AS d
             |  FROM a${r - 1} LEFT JOIN (
             |    SELECT v, CAST(count(*) AS BIGINT) AS c FROM (
             |      SELECT a AS v FROM e$r UNION ALL SELECT b FROM e$r) t
             |    GROUP BY 1) g USING (v)),
             |rm$r AS (SELECT v, CAST($r AS INTEGER) AS removed_round
             |  FROM dd$r WHERE d < $k),
             |a$r AS (SELECT v FROM dd$r WHERE d >= $k)""".stripMargin
        }.mkString(",\n")
        val allRm = (1 to 8).map(r => s"SELECT * FROM rm$r")
          .mkString(" UNION ALL ")
        s"""WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
           |           FROM lineitem),
           |ed AS MATERIALIZED (SELECT DISTINCT a.item AS a, b.item AS b
           |       FROM li a JOIN li b ON a.g = b.g AND a.item < b.item),
           |a0 AS MATERIALIZED (SELECT DISTINCT v FROM (
           |         SELECT a AS v FROM ed UNION ALL SELECT b FROM ed) t),
           |$rounds,
           |rm AS ($allRm)
           |SELECT a0.v, rm.removed_round,
           |  rm.removed_round IS NULL AS in_core
           |FROM a0 LEFT JOIN rm USING (v)""".stripMargin
      }),

    QDef("q_pagerank",
      (s, dir) => graft.ops.PageRank.ranks(
        graft.ops.PageRank.tradeGraphEdges(
          Q.table(s, dir, "orders"), Q.table(s, dir, "lineitem")), iters = 3),
      Some(s"""WITH $pageRankGraphCtes,
             |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM n),
             |${pageRankRounds("150000")}
             |SELECT node, rank_micro FROM r3""".stripMargin)),

    // k-hop BFS reachability from the seed set (node % 20 == 0) on the
    // symmetrized trade graph: first-reached hop per vertex, NULL if
    // unreached in 3 hops — crawl-frontier sizing / contamination
    // blast-radius. Fixed rounds ⇒ unrolled-CTE replay (EXCEPT is the
    // SQL form of the per-round left-anti).
    QDef("q_reach",
      (s, dir) => graft.ops.Graphs.reachHops(
        graft.ops.PageRank.tradeGraphEdges(
          Q.table(s, dir, "orders"), Q.table(s, dir, "lineitem")),
        seedMod = 20L, hops = 3),
      Some {
        val rounds = (1 to 3).map { r =>
          s"""n$r AS MATERIALIZED (
             |  SELECT DISTINCT e.dst AS v FROM e
             |  JOIN f${r - 1} ON f${r - 1}.v = e.src
             |  EXCEPT SELECT v FROM vis${r - 1}),
             |vis$r AS MATERIALIZED (SELECT v, hop FROM vis${r - 1}
             |  UNION ALL SELECT v, CAST($r AS INTEGER) AS hop FROM n$r),
             |f$r AS (SELECT v FROM n$r)""".stripMargin
        }.mkString(",\n")
        s"""WITH $tradeEdgesCtes,
           |verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
           |vis0 AS (SELECT v, CAST(0 AS INTEGER) AS hop FROM verts
           |         WHERE v % 20 = 0),
           |f0 AS (SELECT v FROM vis0),
           |$rounds
           |SELECT verts.v, vis3.hop
           |FROM verts LEFT JOIN vis3 ON vis3.v = verts.v""".stripMargin
      }),

    // personalized PageRank: teleport mass restricted to the seed set
    // (node % 20 == 0 — both engines give remainder the dividend's
    // sign, so the sign-split supplier keys select consistently). Rank
    // concentrates in seed neighborhoods — the crawl-prioritization /
    // related-entity form. Same integer arithmetic and unrolled-CTE
    // replay as q_pagerank.
    QDef("q_ppr",
      (s, dir) => graft.ops.PageRank.personalizedRanks(
        graft.ops.PageRank.tradeGraphEdges(
          Q.table(s, dir, "orders"), Q.table(s, dir, "lineitem")),
        seedMod = 20L, iters = 3),
      Some {
        s"""WITH $pageRankGraphCtes,
           |r0 AS (SELECT node,
           |         CAST(CASE WHEN node % 20 = 0 THEN 1000000 ELSE 0 END
           |           AS BIGINT) AS rank_micro FROM n),
           |${pageRankRounds("CASE WHEN n.node % 20 = 0 THEN 150000 ELSE 0 END")}
           |SELECT node, rank_micro FROM r3""".stripMargin
      }),

    // HITS hubs & authorities (Kleinberg 1999) on the DIRECTED
    // customer→supplier trade graph: customers are pure hubs, suppliers
    // pure authorities (bipartite direction separates the roles).
    // Integer ceil-divisor max-normalization per round — no sqrt, no
    // overflow — so 3 fixed rounds replay exactly as unrolled CTEs.
    QDef("q_hits",
      (s, dir) => graft.ops.PageRank.hits(
        graft.ops.PageRank.tradeGraphPairs(
          Q.table(s, dir, "orders"), Q.table(s, dir, "lineitem")), iters = 3),
      Some {
        val rounds = (1 to 3).map { r =>
          val hPrev = if (r == 1) "h0" else s"h${r - 1}"
          s"""ar$r AS (SELECT dst, CAST(sum(h) AS BIGINT) AS raw
             |         FROM e JOIN $hPrev ON $hPrev.node = e.src GROUP BY dst),
             |ad$r AS (SELECT greatest((max(raw) + 999999) // 1000000, 1) AS d
             |         FROM ar$r),
             |a$r AS MATERIALIZED (SELECT n.node,
             |         CAST(coalesce(raw, 0) // d AS BIGINT) AS a
             |       FROM n LEFT JOIN ar$r ON ar$r.dst = n.node, ad$r),
             |hr$r AS (SELECT src, CAST(sum(a) AS BIGINT) AS raw
             |         FROM e JOIN a$r ON a$r.node = e.dst GROUP BY src),
             |hd$r AS (SELECT greatest((max(raw) + 999999) // 1000000, 1) AS d
             |         FROM hr$r),
             |h$r AS MATERIALIZED (SELECT n.node,
             |         CAST(coalesce(raw, 0) // d AS BIGINT) AS h
             |       FROM n LEFT JOIN hr$r ON hr$r.src = n.node, hd$r)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH ${tradePairsCte("e", materialized = true)},
           |n AS MATERIALIZED (SELECT src AS node FROM e
           |                   UNION SELECT dst AS node FROM e),
           |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM n),
           |$rounds
           |SELECT h3.node, h3.h AS hub_micro, a3.a AS auth_micro
           |FROM h3 JOIN a3 USING (node)""".stripMargin
      }),

    // synchronous label propagation (community detection) on the same
    // customer-supplier trade graph as q_pagerank: 3 fixed rounds,
    // most-frequent-neighbor-label with smallest-label ties — both
    // deterministic, so the oracle unrolls the rounds as CTEs (the
    // argmin is a row_number window in SQL, a min(struct) in Spark —
    // different mechanisms, same rows).
    QDef("q_labelprop",
      (s, dir) => graft.ops.Graphs.labelPropagation(
        graft.ops.PageRank.tradeGraphEdges(
          Q.table(s, dir, "orders"), Q.table(s, dir, "lineitem")),
        rounds = 3),
      Some {
        s"""WITH $labelPropCtes
           |SELECT v, label FROM l3 ORDER BY v""".stripMargin
      }),

    // Newman modularity of the LPA communities, per community, in
    // overflow-safe integer micro-units (t1 − r²/10^6 with r ≤ 10^6 —
    // every intermediate ≤ ~10^14 at 10^8 edges). Both engines truncate
    // integer division toward zero identically, so q_micro replays
    // bit-exactly on top of the full LPA-round replay.
    QDef("q_modularity",
      (s, dir) => {
        val o = Q.table(s, dir, "orders")
        val l = Q.table(s, dir, "lineitem")
        // pair construction materialized ONCE: it feeds the LPA edge
        // frame and three more consumers inside modularity() (intra-
        // community count, degree rollup, edge total)
        val pairs = graft.ops.PageRank.tradeGraphPairs(o, l).localCheckpoint()
        val labels = graft.ops.Graphs.labelPropagation(
          pairs.union(pairs.select(col("dst").as("src"),
            col("src").as("dst"))), rounds = 3)
        graft.ops.Graphs.modularity(pairs, labels)
      },
      Some {
        s"""WITH $labelPropCtes,
           |intra AS (SELECT a.label, CAST(count(*) AS BIGINT) AS e_intra
           |          FROM pairs p JOIN l3 a ON a.v = p.src
           |                       JOIN l3 b ON b.v = p.dst
           |          WHERE a.label = b.label GROUP BY 1),
           |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
           |          SELECT src AS v FROM pairs
           |          UNION ALL SELECT dst FROM pairs) t GROUP BY 1),
           |dt AS (SELECT l3.label, CAST(sum(deg.d) AS BIGINT) AS d_tot,
           |         CAST(count(*) AS BIGINT) AS n_members
           |       FROM l3 JOIN deg ON deg.v = l3.v GROUP BY 1),
           |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs)
           |SELECT dt.label, dt.n_members,
           |  CAST(coalesce(intra.e_intra, 0) AS BIGINT) AS e_intra,
           |  dt.d_tot,
           |  CAST(1000000 * coalesce(intra.e_intra, 0) // m
           |    - ((1000000 * dt.d_tot // (2 * m))
           |       * (1000000 * dt.d_tot // (2 * m))) // 1000000
           |    AS BIGINT) AS q_micro
           |FROM dt LEFT JOIN intra USING (label), mm""".stripMargin
      }),

    // Degree assortativity (Newman 2002) of the trade graph: Pearson
    // correlation of endpoint degrees over the symmetrized edge list —
    // the sqrt-free identical-marginals form, integer end to end
    // (DECIMAL(38,0) sums ≡ DuckDB HUGEINT). Bipartite hubs-to-leaves
    // structure makes it strongly negative, exercising the
    // negative-numerator truncation path on both engines.
    QDef("q_assortativity",
      (s, dir) => graft.ops.Graphs.assortativity(
        graft.ops.PageRank.tradeGraphEdges(
          Q.table(s, dir, "orders"), Q.table(s, dir, "lineitem"))),
      Some(s"""WITH $tradeEdgesCtes,
             |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
             |      FROM e GROUP BY 1),
             |j AS (SELECT dx.deg AS x, dy.deg AS y
             |      FROM e JOIN d dx ON dx.src = e.src
             |             JOIN d dy ON dy.src = e.dst),
             |s AS (SELECT CAST(count(*) AS HUGEINT) AS m,
             |             CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             |             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             |             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
             |      FROM j)
             |SELECT CAST(m AS BIGINT) AS n_edges,
             |  CAST((m * sxy - sx * sx) * 1000000
             |       // nullif(m * sxx - sx * sx, 0) AS BIGINT) AS assort_micro
             |FROM s""".stripMargin)),

    // TPC-H q2 shape — min-cost supplier (the correlated-subquery
    // pattern): "supply cost" is the min unit price each supplier ever
    // charged for the part (no partsupp table in this schema), the
    // region filter prunes suppliers, and each part keeps only the
    // suppliers matching its regional minimum. Scale shape: the unit
    // costs are a two-phase groupBy over lineitem; all dims broadcast;
    // the per-part min joins back on (part, cost) equality. Fully
    // deterministic output order (the sort key chain is unique).
    QDef("q2_min_cost_supplier",
      (s, dir) => {
        val l = Q.table(s, dir, "lineitem")
        val p = Q.table(s, dir, "part")
          .filter(col("p_type") === "STANDARD" && col("p_size") < 10)
        val sup = Q.table(s, dir, "supplier")
        val n = Q.table(s, dir, "nation")
        val r = Q.table(s, dir, "region").filter(col("r_name") === "EUROPE")
        // unit cost in PURE integer arithmetic: micro(ep)*1e6 DIV
        // micro(qty) — a double division quantized through the decimal
        // cast rounds half-up in Spark but half-even in DuckDB, and one
        // exact-.5 cell proved it (597470312.5)
        val cost = l.groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(expr(
            "CAST(CAST(l_extendedprice AS decimal(25,6)) * 1000000 AS BIGINT)" +
              " * 1000000 DIV" +
              " CAST(CAST(l_quantity AS decimal(25,6)) * 1000000 AS BIGINT)"))
            .as("cost_micro"))
        val eu = cost
          .join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        // per-part min via a window over the COST-scale frame (rows per
        // part = suppliers that shipped it — bounded, never corpus-hot):
        // a groupBy+join-back here re-planned the whole lineitem subtree
        // twice (no ReusedExchange across the differently-aliased aggs)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_partkey"))
        eu.withColumn("__min_cost", min(col("cost_micro")).over(w))
          .filter(col("cost_micro") === col("__min_cost"))
          .join(p, col("l_partkey") === col("p_partkey"))
          .select(micro(col("s_acctbal")).as("s_acctbal_micro"),
            col("s_name"), col("n_name"), col("p_partkey"), col("p_name"),
            col("cost_micro"))
          .orderBy(col("s_acctbal_micro").desc, col("n_name"), col("s_name"),
            col("p_partkey"))
          .limit(100)
      },
      Some(s"""WITH cost AS (
             |  SELECT l_partkey, l_suppkey,
             |    CAST(min(${microSql("l_extendedprice")} * 1000000
             |      // ${microSql("l_quantity")}) AS BIGINT) AS cost_micro
             |  FROM lineitem GROUP BY 1, 2),
             |eu AS (
             |  SELECT cost.l_partkey, cost.cost_micro, s_name, s_acctbal, n_name
             |  FROM cost JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN nation ON s_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |  WHERE r_name = 'EUROPE'),
             |best AS (SELECT l_partkey, min(cost_micro) AS min_cost
             |         FROM eu GROUP BY 1)
             |SELECT ${microSql("s_acctbal")} AS s_acctbal_micro, s_name, n_name,
             |  p_partkey, p_name, cost_micro
             |FROM eu JOIN part ON eu.l_partkey = p_partkey
             |JOIN best ON eu.l_partkey = best.l_partkey
             |  AND cost_micro = min_cost
             |WHERE p_type = 'STANDARD' AND p_size < 10
             |ORDER BY s_acctbal_micro DESC, n_name, s_name, p_partkey
             |LIMIT 100""".stripMargin)),

    // TPC-H q4 shape — order priority checking: one quarter of orders
    // having at least one "late" line (shipped > 30 days after the
    // order date; this schema has no commit/receipt dates). The EXISTS
    // is a left-semi join; the quarter filter reaches the orders scan.
    QDef("q4_order_priority",
      (s, dir) => {
        val o = Q.table(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        val l = Q.table(s, dir, "lineitem")
        o.join(l, col("o_orderkey") === col("l_orderkey") &&
            unix_micros(col("l_shipdate").cast("timestamp")) >
              unix_micros(col("o_orderdate").cast("timestamp"))
                + lit(2592000000000L),
          "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
             |  AND EXISTS (
             |    SELECT 1 FROM lineitem
             |    WHERE l_orderkey = o_orderkey
             |      AND epoch_us(l_shipdate) > epoch_us(o_orderdate)
             |        + 2592000000000)
             |GROUP BY 1""".stripMargin)),

    // TPC-H q6 — forecasting revenue change: pure scan-side predicate
    // (year x discount band x quantity cap, all pushed to parquet) and
    // one global integer sum. The canonical columns all exist here.
    QDef("q6_forecast_revenue",
      (s, dir) => Q.table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(micro(col("l_extendedprice") * col("l_discount")))
          .as("revenue_micro"),
          count(lit(1)).as("n_lines")),
      Some(s"""SELECT
             |  CAST(sum(${microSql("l_extendedprice * l_discount")}) AS BIGINT)
             |    AS revenue_micro,
             |  count(*) AS n_lines
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_discount >= CAST(0.05 AS DOUBLE)
             |  AND l_discount <= CAST(0.07 AS DOUBLE)
             |  AND l_quantity < 24""".stripMargin)),

    // TPC-H q8 shape — national market share: NATION_7's slice of ASIA
    // customers' PROMO-part volume per order year. Share is reported in
    // ppm over WHOLE-unit sums (micro sums overflow int64 when scaled
    // by 1e6; identical integer ops both engines keep parity exact).
    QDef("q8_market_share",
      (s, dir) => {
        val l = Q.table(s, dir, "lineitem")
        val o = Q.table(s, dir, "orders")
        val c = Q.table(s, dir, "customer")
        val sup = Q.table(s, dir, "supplier")
        val n1 = Q.table(s, dir, "nation")
        val r = Q.table(s, dir, "region").filter(col("r_name") === "ASIA")
        val n2 = Q.table(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
        val p = Q.table(s, dir, "part").filter(col("p_type") === "PROMO")
        val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(p, col("l_partkey") === col("p_partkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n1), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n2), col("s_nationkey") === col("sn_key"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(sum(when(col("supp_nation") === "NATION_7", micro(vol))
            .otherwise(lit(0L))).as("nation_vol_micro"),
            sum(micro(vol)).as("total_vol_micro"))
          .select(col("o_year"), col("nation_vol_micro"), col("total_vol_micro"),
            expr("(nation_vol_micro DIV 1000000) * 1000000" +
              " DIV greatest(total_vol_micro DIV 1000000, 1)").as("share_ppm"))
      },
      Some(s"""WITH v AS (
             |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             |    CAST(sum(CASE WHEN n2.n_name = 'NATION_7'
             |      THEN ${microSql("l_extendedprice * (1.0 - l_discount)")}
             |      ELSE 0 END) AS BIGINT) AS nation_vol_micro,
             |    CAST(sum(${microSql("l_extendedprice * (1.0 - l_discount)")})
             |      AS BIGINT) AS total_vol_micro
             |  FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN part ON l_partkey = p_partkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
             |  JOIN region ON n1.n_regionkey = r_regionkey
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
             |  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
             |  GROUP BY 1)
             |SELECT o_year, nation_vol_micro, total_vol_micro,
             |  CAST((nation_vol_micro // 1000000) * 1000000
             |    // greatest(total_vol_micro // 1000000, 1) AS BIGINT)
             |    AS share_ppm
             |FROM v""".stripMargin)),

    // TPC-H q9 shape — product-type profit: revenue minus a synthetic
    // supply cost (half the part's retail price per unit — no
    // ps_supplycost here), per supplier nation x order year, for parts
    // whose name carries a color token.
    QDef("q9_product_profit",
      (s, dir) => {
        val l = Q.table(s, dir, "lineitem")
        val o = Q.table(s, dir, "orders")
        val sup = Q.table(s, dir, "supplier")
        val n = Q.table(s, dir, "nation")
        val p = Q.table(s, dir, "part").filter(col("p_name").contains("red"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(p, col("l_partkey") === col("p_partkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
          .agg(sum(micro(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            - micro(col("p_retailprice") * col("l_quantity") * lit(0.5)))
            .as("profit_micro"),
            count(lit(1)).as("n_lines"))
      },
      Some(s"""SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
             |  CAST(sum(${microSql("l_extendedprice * (1.0 - l_discount)")}
             |    - ${microSql("p_retailprice * l_quantity * 0.5")}) AS BIGINT)
             |    AS profit_micro,
             |  count(*) AS n_lines
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN part ON l_partkey = p_partkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |WHERE p_name LIKE '%red%'
             |GROUP BY 1, 2""".stripMargin)),

    // TPC-H q11 shape — important stock: per-part "inventory value"
    // (revenue booked through NATION_3 suppliers; no partsupp here)
    // above a fraction of the grand total. The total is a one-row
    // broadcast; the threshold compare is pure integer.
    QDef("q11_important_stock",
      (s, dir) => {
        val l = Q.table(s, dir, "lineitem")
        val sup = Q.table(s, dir, "supplier")
        val n = Q.table(s, dir, "nation").filter(col("n_name") === "NATION_3")
        val li = l.join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        val perPart = li.groupBy(col("l_partkey"))
          .agg(sum(micro(col("l_extendedprice"))).as("value_micro"))
        val total = perPart.agg(sum(col("value_micro")).as("__total"))
        perPart.crossJoin(broadcast(total))
          .filter(col("value_micro") * lit(10000L) > col("__total"))
          .select(col("l_partkey"), col("value_micro"))
      },
      Some(s"""WITH li AS (
             |  SELECT l_partkey, ${microSql("l_extendedprice")} AS v
             |  FROM lineitem
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN nation ON s_nationkey = n_nationkey
             |  WHERE n_name = 'NATION_3'),
             |pp AS (SELECT l_partkey, CAST(sum(v) AS BIGINT) AS value_micro
             |       FROM li GROUP BY 1),
             |t AS (SELECT CAST(sum(value_micro) AS BIGINT) AS total FROM pp)
             |SELECT l_partkey, value_micro FROM pp, t
             |WHERE value_micro * 10000 > total""".stripMargin)),

    // TPC-H q12 shape — shipping-delay classes (no l_shipmode in this
    // schema): lines bucketed by ship delay vs the order date, counting
    // critical-priority orders per bucket. Delay is exact integer
    // epoch-µs arithmetic.
    QDef("q12_delay_classes",
      (s, dir) => {
        val l = Q.table(s, dir, "lineitem")
        val o = Q.table(s, dir, "orders")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .withColumn("delay_class",
            when((unix_micros(col("l_shipdate").cast("timestamp"))
              - unix_micros(col("o_orderdate").cast("timestamp")))
              >= lit(60L * 86400000000L), "SLOW").otherwise("FAST"))
          .groupBy(col("delay_class"))
          .agg(sum(when(col("o_orderpriority") === "1-URGENT" ||
            col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
            .as("high_line_count"),
            sum(when(col("o_orderpriority") =!= "1-URGENT" &&
              col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
              .as("low_line_count"))
      },
      Some("""SELECT
             |  CASE WHEN epoch_us(l_shipdate) - epoch_us(o_orderdate)
             |    >= 5184000000000 THEN 'SLOW' ELSE 'FAST' END AS delay_class,
             |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1""".stripMargin)),

    // TPC-H q13 — customer order-count distribution: left join keeps
    // zero-order customers, the excluded priority stands in for the
    // canonical comment filter; two cascaded aggregations.
    QDef("q13_customer_distribution",
      (s, dir) => {
        val c = Q.table(s, dir, "customer")
        val o = Q.table(s, dir, "orders")
          .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
      },
      Some("""WITH co AS (
             |  SELECT c_custkey, count(o_orderkey) AS c_count
             |  FROM customer
             |  LEFT JOIN orders ON c_custkey = o_custkey
             |    AND o_orderpriority <> '4-NOT SPECIFIED'
             |  GROUP BY 1)
             |SELECT c_count, count(*) AS custdist
             |FROM co GROUP BY 1""".stripMargin)),

    // TPC-H q15 — top supplier: quarterly revenue per supplier, keep
    // the one(s) matching the scalar max (ties all survive, exactly the
    // canonical view + subquery form).
    QDef("q15_top_supplier",
      (s, dir) => {
        val l = Q.table(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        val rev = l.groupBy(col("l_suppkey"))
          .agg(sum(micro(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("total_revenue_micro"))
        val mx = rev.agg(max(col("total_revenue_micro")).as("__mx"))
        rev.crossJoin(broadcast(mx))
          .filter(col("total_revenue_micro") === col("__mx"))
          .join(broadcast(Q.table(s, dir, "supplier")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_revenue_micro"))
      },
      Some(s"""WITH rev AS (
             |  SELECT l_suppkey,
             |    CAST(sum(${microSql("l_extendedprice * (1.0 - l_discount)")})
             |      AS BIGINT) AS total_revenue_micro
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
             |  GROUP BY 1)
             |SELECT s_suppkey, s_name, total_revenue_micro
             |FROM rev JOIN supplier ON l_suppkey = s_suppkey
             |WHERE total_revenue_micro = (SELECT max(total_revenue_micro)
             |                             FROM rev)""".stripMargin)),

    // TPC-H q17 shape — small-quantity-order revenue: lines of one
    // brand under 20% of their part's average quantity; the 5x integer
    // cross-multiplication avoids any division on the compare side, and
    // the per-part averages join back broadcast-scale.
    QDef("q17_small_qty_revenue",
      (s, dir) => {
        val p = Q.table(s, dir, "part").filter(col("p_brand") === "Brand#13")
        val l = Q.table(s, dir, "lineitem")
          .join(p, col("l_partkey") === col("p_partkey"))
        val perPart = l.groupBy(col("l_partkey").as("__pk"))
          .agg(sum(micro(col("l_quantity"))).as("__sq"),
            count(lit(1)).as("__cnt"))
        l.join(perPart, col("l_partkey") === col("__pk"))
          .filter(micro(col("l_quantity")) * lit(5L) <
            expr("__sq DIV __cnt"))
          .agg(sum(micro(col("l_extendedprice"))).as("__rev"),
            count(lit(1)).as("n_lines"))
          .select(expr("__rev DIV 7").as("avg_yearly_micro"), col("n_lines"))
      },
      Some(s"""WITH li AS (
             |  SELECT l_partkey, l_quantity, l_extendedprice
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  WHERE p_brand = 'Brand#13'),
             |pp AS (SELECT l_partkey,
             |         CAST(sum(${microSql("l_quantity")}) AS BIGINT) AS sq,
             |         count(*) AS cnt
             |       FROM li GROUP BY 1)
             |SELECT CAST(sum(${microSql("l_extendedprice")}) // 7 AS BIGINT)
             |    AS avg_yearly_micro,
             |  count(*) AS n_lines
             |FROM li JOIN pp USING (l_partkey)
             |WHERE ${microSql("l_quantity")} * 5 < sq // cnt""".stripMargin)),

    // TPC-H q19 — discounted revenue, the OR-of-ANDs join predicate
    // (brand x size x quantity windows; no container/shipmode columns
    // here). The disjunction lives in the join condition, exactly the
    // canonical pattern Catalyst must not flatten wrongly.
    QDef("q19_discounted_revenue",
      (s, dir) => {
        val l = Q.table(s, dir, "lineitem")
        val p = Q.table(s, dir, "part")
        val c1 = col("p_brand") === "Brand#1" &&
          col("p_size").between(1, 5) && col("l_quantity").between(1, 11)
        val c2 = col("p_brand") === "Brand#7" &&
          col("p_size").between(1, 10) && col("l_quantity").between(10, 20)
        val c3 = col("p_brand") === "Brand#13" &&
          col("p_size").between(1, 15) && col("l_quantity").between(20, 30)
        l.join(p,
            col("l_partkey") === col("p_partkey") && (c1 || c2 || c3))
          .agg(sum(micro(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue_micro"),
            count(lit(1)).as("n_lines"))
      },
      Some(s"""SELECT
             |  CAST(sum(${microSql("l_extendedprice * (1.0 - l_discount)")})
             |    AS BIGINT) AS revenue_micro,
             |  count(*) AS n_lines
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
             |       AND l_quantity BETWEEN 1 AND 11)
             |   OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 10
             |       AND l_quantity BETWEEN 10 AND 20)
             |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
             |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // TPC-H q20 shape — potential part promotion: ASIA suppliers who
    // moved more than 30 units of any 'small %' part during 1996
    // (supply volume from lineitem; no partsupp availqty here). The
    // nested-subquery chain becomes groupBy -> semi-join.
    QDef("q20_potential_promotion",
      (s, dir) => {
        val p = Q.table(s, dir, "part").filter(col("p_name").startsWith("small"))
        val l = Q.table(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        val sup = Q.table(s, dir, "supplier")
        val n = Q.table(s, dir, "nation")
        val r = Q.table(s, dir, "region").filter(col("r_name") === "ASIA")
        val moved = l.join(p, col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_suppkey"), col("l_partkey"))
          .agg(sum(micro(col("l_quantity"))).as("__qty"))
          .filter(col("__qty") > lit(30L * 1000000L))
          .select(col("l_suppkey")).distinct()
        sup.join(moved, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
      },
      Some(s"""WITH moved AS (
             |  SELECT l_suppkey FROM (
             |    SELECT l_suppkey, l_partkey,
             |      CAST(sum(${microSql("l_quantity")}) AS BIGINT) AS q
             |    FROM lineitem JOIN part ON l_partkey = p_partkey
             |    WHERE p_name LIKE 'small%'
             |      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             |    GROUP BY 1, 2) t
             |  WHERE q > 30000000 GROUP BY 1)
             |SELECT s_suppkey, s_name, n_name
             |FROM supplier
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND s_suppkey IN (SELECT l_suppkey FROM moved)""".stripMargin)),

    // TPC-H q21 shape — suppliers who kept orders waiting: finalized
    // multi-supplier orders where ONLY this supplier shipped late
    // (> 60 days after the order date; no commit/receipt dates here).
    // exists -> semi-join, not-exists -> anti-join, per-line counting.
    QDef("q21_waiting_supplier",
      (s, dir) => {
        val o = Q.table(s, dir, "orders").filter(col("o_orderstatus") === "F")
        val l = Q.table(s, dir, "lineitem")
        val sup = Q.table(s, dir, "supplier")
        val lo = l.join(o, col("l_orderkey") === col("o_orderkey"))
        val lateCond = unix_micros(col("l_shipdate").cast("timestamp")) >
          unix_micros(col("o_orderdate").cast("timestamp")) + lit(5184000000000L)
        val l1 = lo.filter(lateCond).select(col("l_orderkey"), col("l_suppkey"))
        val allLines = l.select(col("l_orderkey").as("__o2"),
          col("l_suppkey").as("__s2")).distinct()
        val lateD = l1.distinct()
          .select(col("l_orderkey").as("__o3"), col("l_suppkey").as("__s3"))
        l1.join(allLines, col("l_orderkey") === col("__o2") &&
            col("l_suppkey") =!= col("__s2"), "left_semi")
          .join(lateD, col("l_orderkey") === col("__o3") &&
            col("l_suppkey") =!= col("__s3"), "left_anti")
          .join(sup, col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(20)
      },
      Some("""WITH l1 AS (
             |  SELECT l_orderkey, l_suppkey
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE o_orderstatus = 'F'
             |    AND epoch_us(l_shipdate) > epoch_us(o_orderdate)
             |      + 5184000000000)
             |SELECT s_name, count(*) AS numwait
             |FROM l1 JOIN supplier ON l_suppkey = s_suppkey
             |WHERE EXISTS (SELECT 1 FROM lineitem l2
             |              WHERE l2.l_orderkey = l1.l_orderkey
             |                AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM l1 l3
             |                  WHERE l3.l_orderkey = l1.l_orderkey
             |                    AND l3.l_suppkey <> l1.l_suppkey)
             |GROUP BY 1
             |ORDER BY numwait DESC, s_name
             |LIMIT 20""".stripMargin)),

    // TPC-H q22 shape — global sales opportunity: customers richer than
    // the average positive balance with no RECENT orders, grouped by nation
    // (no phone country codes in this schema). The average is an exact
    // integer floor-division scalar; the not-exists is an anti-join.
    QDef("q22_sales_opportunity",
      (s, dir) => {
        val c = Q.table(s, dir, "customer")
        val o = Q.table(s, dir, "orders")
        val avgPos = c.filter(col("c_acctbal") > 0.0)
          .agg(sum(micro(col("c_acctbal"))).as("__s"),
            count(lit(1)).as("__n"))
          .select(expr("__s DIV __n").as("__avg"))
        c.crossJoin(broadcast(avgPos))
          .filter(micro(col("c_acctbal")) > col("__avg"))
          .join(o.filter(col("o_orderdate") >= lit("1999-01-01")
              .cast("timestamp"))
            .select(col("o_custkey")).distinct(),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("numcust"),
            sum(micro(col("c_acctbal"))).as("totacctbal_micro"))
      },
      Some(s"""WITH a AS (
             |  SELECT CAST(sum(${microSql("c_acctbal")}) // count(*) AS BIGINT)
             |    AS avg_micro
             |  FROM customer WHERE c_acctbal > 0.0)
             |SELECT c_nationkey, count(*) AS numcust,
             |  CAST(sum(${microSql("c_acctbal")}) AS BIGINT) AS totacctbal_micro
             |FROM customer, a
             |WHERE ${microSql("c_acctbal")} > a.avg_micro
             |  AND NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey
             |                    AND o_orderdate >=
             |                      TIMESTAMP '1999-01-01 00:00:00')
             |GROUP BY 1""".stripMargin)),
  )
}
