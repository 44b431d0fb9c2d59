package graft.analytics

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.{Q, QueryModule}
import graft.util.Tables._

/** Relational core: scans, filters, projections, joins, aggregations.
  *
  * Fills the analytics surface the reference delegates to Power BI
  * (reference `static/report.html:2`; SURVEY.md §2.5) plus the
  * reference's own filter/enrich semantics transposed onto the star
  * schema (SURVEY.md §7.2 role mapping).
  */
object CoreQueries extends QueryModule {

  /** Flagship (SURVEY §7.2): the reference's "pharmacy EOBs for the demo
    * patient since a date, enriched from a dim" (ref
    * `FetchBulkData/__init__.py:466-528`) transposed: date+quantity filter
    * on the fact, joined to the `part` dim, grouped revenue.
    * No broadcast hint: `part` grows with SF (~20B rows at 100 TB), so a
    * forced broadcast OOMs there — AQE picks broadcast-vs-SMJ from
    * runtime size stats (still BHJ at every local SF).
    */
  val flagship = Q(
    "q_flagship",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1998-01-01") && col("l_quantity") > 5)
      val p = t(s, dir, "part")
      li.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n_items"),
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
            .as("revenue"))
        .orderBy(col("p_brand"))
    },
    Some("""
      SELECT p_brand,
             count(*) AS n_items,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_quantity > 5
      GROUP BY p_brand
      ORDER BY p_brand""")
  )

  /** TPC-H Q1-shaped hash aggregate (SURVEY §2.5 "aggregations"):
    * map-side partial + final agg, exact sums, derived mean. The two
    * PRODUCT sums (disc_price, charge) run in integer fixed point —
    * price/discount/tax are cent-valued, so ×100 each and the product
    * is an exact BIGINT (≤ ~1.2e11/row) — because the r10
    * full-registry 40× sweep caught the decimal route diverging: a
    * double product cast to DECIMAL(18,6) rounds through the exact
    * binary expansion on one engine and the shortest-decimal repr on
    * the other, and at 2.4M rows a handful of near-midpoint products
    * flip the 6th decimal. Integer products cannot disagree.
    *
    * The SUM must not stay in LongType though: per-row products reach
    * ~1.2e11 and a per-group sum crosses 2^63 around sf≈50–100, where
    * DuckDB silently promotes BIGINT sums to HUGEINT while Spark wraps
    * (or throws under ANSI). So the exact per-row Long product is
    * accumulated through DecimalType(38,0) — still exact integer math,
    * same value as DuckDB's HUGEINT sum, headroom to ~1e27 rows. */
  val hashAgg = Q(
    "q_hash_agg",
    (s, dir) => {
      val ec = round(col("l_extendedprice") * 100).cast(LongType)
      val dc = round((lit(1.0) - col("l_discount")) * 100).cast(LongType)
      val tc = round((lit(1.0) + col("l_tax")) * 100).cast(LongType)
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= ts("2001-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          (sum((ec * dc).cast(DecimalType(38, 0))).cast(DoubleType) / lit(1e4))
            .as("sum_disc_price"),
          (sum((ec * dc * tc).cast(DecimalType(38, 0))).cast(DoubleType) / lit(1e6))
            .as("sum_charge"),
          davg(col("l_quantity"), 2).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(round((CAST(1 AS DOUBLE) - l_discount) * 100) AS BIGINT))
                  AS DOUBLE) / 1e4 AS sum_disc_price,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(round((CAST(1 AS DOUBLE) - l_discount) * 100) AS BIGINT)
                      * CAST(round((CAST(1 AS DOUBLE) + l_tax) * 100) AS BIGINT))
                  AS DOUBLE) / 1e6 AS sum_charge,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-09-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")
  )

  /** A SQL-text query over `tables` whose DuckDB oracle is the very text
    * that runs on Spark, so the two sides cannot drift apart.
    */
  private def sqlQ(name: String, tables: String*)(text: String): Q =
    Q(name, (s, dir) => sql(s, dir, text, tables: _*), Some(text))

  /** TPC-H Q3-shaped (shipping-priority) query submitted through
    * `spark.sql` over temp views — the one entry point the rest of the
    * surface doesn't exercise (everything else is DataFrame API).
    * Catalyst plans SQL text and DataFrame calls through the same
    * logical plans, so this pins that the SQL front door produces the
    * same exact results; the ORACLE IS THE SAME TEXT — every construct
    * (TIMESTAMP literals, DECIMAL casts, alias in ORDER BY, LIMIT) is
    * chosen to parse identically in Spark SQL and DuckDB.
    *
    * Scale shape: two selective fact filters reach the scans (pushed),
    * customer⋈orders then ⋈lineitem as hash joins on the keys, AQE
    * picks broadcast when a side is small; the ordered LIMIT plans as
    * TakeOrdered (no global sort). Unique l_orderkey tiebreak keeps
    * the top-10 deterministic.
    */
  val sqlQ3 = sqlQ("q_sql_q3", "customer", "orders", "lineitem")("""
      SELECT l_orderkey,
             CAST(sum(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             o_orderdate
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1995-03-15'
        AND l_shipdate  > TIMESTAMP '1995-03-15'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10""")

  /** TPC-H Q5-shaped (local-supplier revenue) — the 6-table join that
    * exercises Catalyst's join ORDERING breadth: two independent join
    * conditions on supplier (line item's supplier AND the customer's
    * nation) mean the optimizer must pick among genuinely different
    * trees; the region/nation dims broadcast, the three fact joins
    * hash-partition on their keys, and both date bounds push to the
    * orders scan.
    */
  val sqlQ5 = sqlQ("q_sql_q5", "customer", "orders", "lineitem", "supplier", "nation",
    "region")("""
      SELECT n_name,
             CAST(sum(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name""")

  /** TPC-H Q18-shaped (large-volume orders) — the HAVING-subquery
    * pattern the front door lacked: an aggregate-filtered key set
    * (orders whose total quantity clears a threshold) semi-joins back
    * into a 3-table detail query. Catalyst rewrites the IN-subquery to
    * a LEFT SEMI join and, because the HAVING side is selective, AQE
    * broadcasts it — the detail join never shuffles on the rare-key
    * set.
    */
  val sqlQ18 = sqlQ("q_sql_q18", "customer", "orders", "lineitem")("""
      WITH big AS (
        SELECT l_orderkey AS bok
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
      SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE o_orderkey IN (SELECT bok FROM big)
      GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 100""")

  /** Correlated scalar subquery — each customer's priciest order(s),
    * phrased the way analysts write it (an inner max referencing the
    * outer row). The POINT is the optimizer surface: Catalyst's
    * decorrelation rewrites the per-row subquery into ONE aggregate +
    * equi-join (`RewriteCorrelatedScalarSubquery`), so the plan is a
    * keyed shuffle pair — never a per-row re-scan, which is what a
    * naive executor would do and what 100 TB forbids. Price ties keep
    * all tied orders on both engines (no arbitrary pick).
    */
  val sqlCorr = sqlQ("q_sql_corr", "orders")("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders o
      WHERE o_totalprice = (SELECT max(o2.o_totalprice)
                            FROM orders o2
                            WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_custkey, o_orderkey""")

  /** TPC-H Q7-shaped (volume shipping) — the SELF-JOINED-DIMENSION
    * pattern the front door lacked: nation joins the fact chain TWICE
    * in different roles (supplier's nation, customer's nation) with a
    * disjunctive pair filter, plus a per-year breakdown extracted from
    * the ship date. Both nation sides broadcast (25 rows each role),
    * the customer⋈orders⋈lineitem⋈supplier chain co-partitions on its
    * keys, and the shipdate range prunes at the scan — the one
    * scale-relevant subtlety is that the pair predicate can only be
    * applied AFTER both roles are bound, so it must be selective
    * post-join, never a join explosion. Revenue routes through
    * DECIMAL(18,6) (the q_sql_q5 idiom) so the aggregate is exact,
    * and the year is cast to INTEGER in the shared text because the
    * two engines' EXTRACT defaults differ (INT vs HUGEINT-ish).
    */
  val sqlQ7 = sqlQ("q_sql_q7", "customer", "orders", "lineitem", "supplier", "nation")("""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
             CAST(sum(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
          OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY n1.n_name, n2.n_name, CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER)
      ORDER BY supp_nation, cust_nation, l_year""")

  /** Recursive CTE through the front door — Spark 4.x's recursive
    * WITH (SPARK-24497) driving the classic calendar-spine gap fill:
    * generate every month of the data window by LINEAR recursion (one
    * row per step, a fixed literal bound guarantees termination on
    * both engines — no subquery in the recursive term, which Spark
    * restricts), then LEFT JOIN the monthly order census so silent
    * months surface as explicit zero rows. Complements q_gap_fill
    * (DataFrame sequence/explode LOCF) by pinning the recursive
    * EXECUTION path itself: the spine is driver-cheap (≤ 84 rows)
    * and broadcast into the census join, so recursion never touches
    * fact-table scale — the shape that keeps recursive SQL usable at
    * 100 TB. STRING (not VARCHAR) in the cast because bare VARCHAR
    * needs a length on Spark; both engines accept STRING.
    */
  val sqlRec = sqlQ("q_sql_rec", "orders")("""
      WITH RECURSIVE spine(mon) AS (
        SELECT CAST('1995-01-01' AS DATE)
        UNION ALL
        SELECT CAST(mon + INTERVAL '1' MONTH AS DATE) FROM spine
        WHERE mon < CAST('2001-11-01' AS DATE)),
      census AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM orders GROUP BY 1)
      SELECT CAST(s.mon AS STRING) AS mon,
             COALESCE(c.n_orders, 0) AS n_orders,
             COALESCE(c.revenue, CAST(0 AS DOUBLE)) AS revenue
      FROM spine s LEFT JOIN census c ON s.mon = c.mon
      ORDER BY mon""")

  /** TPC-H Q21-shaped (suppliers who kept orders waiting) — the
    * MULTI-CORRELATED EXISTENTIAL shape the front door lacked
    * (r08 verdict #4): two subqueries correlate on the SAME fact
    * (lineitem) through the same outer key with non-equi supplier
    * predicates — "another supplier shipped on this order" (EXISTS)
    * and "no OTHER supplier's line was returned" (NOT EXISTS). The
    * synthetic lineitem carries no receipt/commit dates, so the
    * "problem line" predicate is `l_returnflag = 'R'` — same
    * correlation structure, same rewrite. The POINT is Catalyst's
    * `RewritePredicateSubquery`: EXISTS becomes a LEFT SEMI join and
    * NOT EXISTS a LEFT ANTI join, both hash-partitioned on
    * l_orderkey with the `<>` predicate as a join residual — never a
    * per-row re-scan of a 100 TB fact. The anti join's probe side is
    * pre-filtered to returned lines only, so the heaviest input is
    * one-third of lineitem before it shuffles. Ties in numwait are
    * broken by the unique s_name so the LIMIT is deterministic on
    * both engines.
    */
  val sqlQ21 = sqlQ("q_sql_q21", "lineitem", "orders", "supplier", "nation")("""
      SELECT s_name, count(*) AS numwait
      FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE o_orderstatus = 'F'
        AND l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 100""")

  /** TPC-H Q17-shaped (small-quantity-order revenue) — the
    * CORRELATED-SCALAR-AGGREGATE-ON-THE-SAME-FACT shape: "lines whose
    * quantity is under 20% of the average quantity for their part".
    * q_sql_corr decorrelates a scalar max over a DIFFERENT-role scan
    * of the same table; here the subqueries aggregate the very fact
    * being filtered, the pattern that melts a naive executor (one
    * fact re-scan per probe row). The textbook form compares against
    * `0.2 * avg(l_quantity)` in floating point; this text multiplies
    * through instead — `5·qty·count < sum` — so the threshold
    * comparison is exact BIGINT arithmetic on both engines. Quantities
    * enter as CENTS (`round(qty·100)`): a bare `CAST(qty AS BIGINT)`
    * truncates in Spark but ROUNDS in DuckDB — invisible on integral
    * driver quantities, divergent on the fractional 40× smoke ones
    * (caught by the r10 full-registry sweep); scaling both sides of
    * the inequality by 100 changes nothing (Σcents per part ≪ 2^63
    * at any SF). TWO correlated
    * scalar subqueries (count and sum) over the same correlation key.
    * Catalyst's RewriteCorrelatedScalarSubquery merges both into ONE
    * per-part aggregate + equi-join on l_partkey (plan-contract
    * pinned: no Subquery node survives), so at 100 TB the fact is
    * scanned twice total (probe + aggregate), never per-row; the
    * selective part filter broadcasts into the probe side. Revenue
    * routes through DECIMAL(18,2) (the q_sql_q5 idiom) for an exact
    * sum; /7 mirrors Q17's avg_yearly.
    */
  val sqlQ17 = sqlQ("q_sql_q17", "lineitem", "part")("""
      SELECT CAST(count(*) AS BIGINT) AS n_small,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                        AS DOUBLE) / 7e0, 6) AS avg_yearly_r
      FROM lineitem l1
      JOIN part ON p_partkey = l1.l_partkey
      WHERE p_brand = 'Brand#4' AND p_size < 10
        AND CAST(round(l1.l_quantity * 100) AS BIGINT) * 5 *
            (SELECT count(*) FROM lineitem l2
             WHERE l2.l_partkey = l1.l_partkey)
          < (SELECT CAST(sum(CAST(round(l3.l_quantity * 100) AS BIGINT)) AS BIGINT)
             FROM lineitem l3 WHERE l3.l_partkey = l1.l_partkey)""")

  /** TPC-H Q2-shaped (minimum-cost supplier) — the CORRELATED SCALAR
    * OVER A DIFFERENT RELATION shape the front door lacked (r09
    * verdict #6): q_sql_corr's subquery re-scans the OUTER table in
    * another role; here the scalar min aggregates a different 4-table
    * JOIN (the offer relation, restricted to the same region as the
    * outer row's supplier chain), correlated on the outer part key.
    * The synthetic schema has no partsupp, so lineitem plays the
    * offer table (l_extendedprice as the supply cost) — same
    * correlation structure, same rewrite. Catalyst's
    * RewriteCorrelatedScalarSubquery turns the per-part min into ONE
    * region-filtered aggregate over the offer join + an equi-join
    * back on l_partkey (plan-pinned: no Subquery node survives), so
    * at 100 TB the offer relation is scanned twice total, never
    * per-row; region/nation/supplier broadcast into both sides.
    * Price equality compares the same stored DOUBLE on both engines
    * (no arithmetic); DISTINCT collapses repeat min-price offers, so
    * (p_partkey, s_name) uniquely keys the output and the ordered
    * LIMIT is deterministic.
    */
  val sqlQ2 = sqlQ("q_sql_q2", "part", "lineitem", "supplier", "nation", "region")("""
      SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_brand,
             l_extendedprice AS min_price
      FROM part
      JOIN lineitem ON l_partkey = p_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE p_size = 5 AND p_type = 'ECONOMY'
        AND r_name = 'EUROPE'
        AND l_extendedprice = (SELECT min(l2.l_extendedprice)
                               FROM lineitem l2
                               JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
                               JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
                               JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
                               WHERE r2.r_name = 'EUROPE'
                                 AND l2.l_partkey = p_partkey)
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      LIMIT 100""")

  /** TPC-H Q15-shaped (top supplier) — the AGGREGATE-VIEW / MAX-OF-AGG
    * shape (r09 verdict #6): a revenue rollup defined once as a CTE
    * (Q15's CREATE VIEW, minus the DDL) is consumed TWICE — once as
    * the join input, once under an uncorrelated scalar max — and the
    * filter keeps the supplier(s) achieving the maximum. Revenue stays
    * DECIMAL through the sum AND the max-equality comparison (exact on
    * both engines — a DOUBLE round-trip could split ties differently),
    * casting to DOUBLE only in the output. The scalar max is
    * UNCORRELATED, so it executes once and broadcasts as a literal
    * into the filter — one supplier-keyed aggregate, no per-row work;
    * at 100 TB the rollup is the only fact-sized stage and the
    * ship-date window prunes the scan.
    */
  val sqlQ15 = sqlQ("q_sql_q15", "supplier", "lineitem")("""
      WITH revenue0 AS (
        SELECT l_suppkey AS supplier_no,
               sum(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                        AS DECIMAL(18,6))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name,
             CAST(total_revenue AS DOUBLE) AS total_revenue
      FROM supplier
      JOIN revenue0 ON s_suppkey = supplier_no
      WHERE total_revenue = (SELECT max(total_revenue) FROM revenue0)
      ORDER BY s_suppkey""")

  // --------------------------------------------------------------------
  // Round-10 front-door completion: the remaining TPC-H query SHAPES the
  // registry lacked, adapted to the reduced star schema (TESTDATA.md has
  // no partsupp and fewer attribute columns, so partsupp-backed queries
  // substitute the lineitem-derived supplier×part relation and attribute
  // filters move to columns that exist — each scaladoc names the swap).
  // Every construct is chosen to parse identically in Spark SQL and
  // DuckDB, sums routed through DECIMAL so both engines aggregate exactly.
  // --------------------------------------------------------------------

  /** TPC-H Q4-shaped (order-priority checking) — correlated EXISTS over
    * the fact: count orders in a window that have at least one returned
    * line (stand-in for Q4's commit<receipt lateness test; those columns
    * don't exist here). Catalyst rewrites the EXISTS to a LEFT SEMI hash
    * join on l_orderkey (`RewritePredicateSubquery`), so the fact is
    * scanned once with the returnflag filter pushed down — never a
    * per-order probe. The date range prunes the orders scan. At 100 TB
    * both sides shuffle on orderkey once; the semi join keeps the build
    * side to matching keys only.
    */
  val sqlQ4 = sqlQ("q_sql_q4", "orders", "lineitem")("""
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1997-07-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")

  /** TPC-H Q6 (forecasting-revenue change) — verbatim shape: the pure
    * scan-filter-aggregate with NO join, the baseline every engine must
    * ace. All three predicates (date range, discount band, quantity cap)
    * push to the parquet scan; the single global sum runs as map-side
    * partials + one 1-row final — zero wide shuffles. The whole query is
    * one WholeStageCodegen span over the scan.
    */
  val sqlQ6 = sqlQ("q_sql_q6", "lineitem")("""
      SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
                  AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24""")

  /** TPC-H Q8-shaped (national market share) — the widest join tree in
    * the front door: lineitem joins part, supplier, orders, customer,
    * region and nation TWICE in different roles (customer's region
    * gates the rows, supplier's nation feeds the CASE numerator). The
    * market-share ratio is a conditional-aggregate-over-aggregate in one
    * GROUP BY — no second pass. Scale shape: the four dims broadcast,
    * the three fact-side joins hash-partition on their keys, and the
    * selective p_type + date filters reach the scans; the CASE routes
    * through DECIMAL(18,6) on both branches so each engine sums exactly
    * and the final double division is bit-identical.
    */
  val sqlQ8 = sqlQ("q_sql_q8", "lineitem", "part", "supplier", "orders", "customer",
    "nation", "region")("""
      SELECT o_year,
             CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
                           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
               / CAST(sum(volume) AS DOUBLE) AS mkt_share
      FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
                   CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                        AS DECIMAL(18,6)) AS volume,
                   n2.n_name AS nation
            FROM lineitem
            JOIN part      ON p_partkey = l_partkey
            JOIN supplier  ON s_suppkey = l_suppkey
            JOIN orders    ON l_orderkey = o_orderkey
            JOIN customer  ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region    ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'AMERICA'
              AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                                  AND TIMESTAMP '1997-12-31'
              AND p_type = 'ECONOMY') all_nations
      GROUP BY o_year
      ORDER BY o_year""")

  /** TPC-H Q9-shaped (product-type profit) — profit per supplier-nation
    * per year over a LIKE-filtered part subset. The schema has no
    * partsupp, so supply cost substitutes `p_retailprice * 0.1 *
    * quantity` (same arithmetic shape: a per-row margin expression mixing
    * three tables' columns). The substring LIKE cannot push to a parquet
    * min/max but prunes rows before the fact joins; amount routes through
    * DECIMAL(18,6) per row so the per-group sums are exact on both
    * engines. Scale: part/supplier/nation broadcast or co-partition,
    * lineitem⋈orders shuffles once on orderkey.
    */
  val sqlQ9 = sqlQ("q_sql_q9", "lineitem", "part", "supplier", "orders", "nation")("""
      SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
      FROM (SELECT n_name AS nation,
                   CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
                   CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                        - p_retailprice * CAST(0.1 AS DOUBLE) * l_quantity
                        AS DECIMAL(18,6)) AS amount
            FROM lineitem
            JOIN part     ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%') profit
      GROUP BY nation, o_year
      ORDER BY nation, o_year DESC""")

  /** TPC-H Q10-shaped (returned-item reporting) — top-20 customers by
    * revenue lost to returns in a quarter. GROUP BY carries the
    * customer attribute columns (the Q10 idiom — they're functionally
    * dependent on c_custkey but both engines require them listed), and
    * the ordered LIMIT plans as TakeOrdered, never a global sort. The
    * c_custkey tiebreak makes the top-20 deterministic under revenue
    * ties. Scale: returnflag + date filters push to the two fact scans,
    * nation broadcasts, customer⋈orders⋈lineitem co-partitions.
    */
  val sqlQ10 = sqlQ("q_sql_q10", "customer", "orders", "lineitem", "nation")("""
      SELECT c_custkey, c_name,
             CAST(sum(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             c_acctbal, n_name
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-10-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""")

  /** TPC-H Q11-shaped (important stock) — GROUP BY + HAVING against an
    * UNCORRELATED SCALAR aggregate over the same relation: parts whose
    * traded value for one nation's suppliers exceeds a fixed fraction
    * of that nation's total. partsupp doesn't exist, so the value
    * relation is lineitem⋈supplier⋈nation (same grouping shape). The
    * subquery plans once as a 1-row broadcast into the HAVING filter —
    * the relation is scanned twice by construction (value-per-part and
    * grand total), which is Q11's defining cost; both passes push the
    * nation filter down. DECIMAL throughout keeps the threshold compare
    * exact on both engines (no float-boundary flake).
    */
  val sqlQ11 = sqlQ("q_sql_q11", "lineitem", "supplier", "nation")("""
      SELECT l_partkey AS ps_partkey,
             CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4)))
                  AS DOUBLE) AS part_value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey
      HAVING sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) >
        (SELECT sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4)))
                * CAST(0.002 AS DECIMAL(8,4))
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation   ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_3')
      ORDER BY part_value DESC, ps_partkey""")

  /** TPC-H Q12-shaped (shipping-mode line priority) — the conditional
    * two-way count split inside one aggregation, via the standard
    * `count(*) FILTER (WHERE …)` clause (parses and types BIGINT
    * identically on both engines; l_linestatus stands in for the absent
    * l_shipmode). One fact⋈fact join on orderkey with the date range
    * pushed to the lineitem scan, then a 2-group hash agg — map-side
    * partials make the final exchange carry 2 rows per task.
    */
  val sqlQ12 = sqlQ("q_sql_q12", "orders", "lineitem")("""
      SELECT l_linestatus AS shipmode,
             count(*) FILTER (WHERE o_orderpriority = '1-URGENT'
                                 OR o_orderpriority = '2-HIGH') AS high_line_count,
             count(*) FILTER (WHERE o_orderpriority <> '1-URGENT'
                                AND o_orderpriority <> '2-HIGH') AS low_line_count
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_linestatus
      ORDER BY shipmode""")

  /** TPC-H Q13 (customer order-count distribution) — the DOUBLE
    * AGGREGATION over a LEFT OUTER join with an extra ON-clause filter:
    * customers with zero qualifying orders must survive as c_count=0
    * (the filter lives in ON, not WHERE — moving it would silently drop
    * them, the classic outer-join bug this query exists to catch).
    * o_comment doesn't exist, so the exclusion predicate filters
    * o_orderpriority instead. Scale: one shuffle on custkey for the
    * outer join + first agg (they share partitioning), then a tiny
    * second agg over ≤ distinct-count rows.
    */
  val sqlQ13 = sqlQ("q_sql_q13", "customer", "orders")("""
      SELECT c_count, count(*) AS custdist
      FROM (SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT OUTER JOIN orders ON c_custkey = o_custkey
                                  AND o_orderpriority <> '5-LOW'
            GROUP BY c_custkey) c_orders
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""")

  /** TPC-H Q14-shaped (promotion effect) — the conditional-revenue-share
    * scalar: percent of one month's revenue from PROMO parts, as a
    * CASE-split sum over sum in a single ungrouped aggregate (p_type
    * here is a category word, so equality replaces Q14's LIKE 'PROMO%').
    * Both CASE branches are DECIMAL(18,6) so each engine's two sums are
    * exact; the ×100/÷ arithmetic happens once on the final doubles.
    * Scale: date range pushes to the fact scan, part broadcasts at local
    * SF (AQE decides), the global agg is map-side partials + 1 row.
    */
  val sqlQ14 = sqlQ("q_sql_q14", "lineitem", "part")("""
      SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                           THEN CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                                     AS DECIMAL(18,6))
                           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
               * CAST(100 AS DOUBLE)
               / CAST(sum(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                               AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-02-01'""")

  /** TPC-H Q16-shaped (supplier-part relationship count) — DISTINCT
    * aggregation over a NOT IN anti-join: how many distinct suppliers
    * ship each surviving (brand, type, size) combination, excluding a
    * name-pattern supplier blocklist. partsupp doesn't exist, so the
    * supplier×part relation is lineitem (same distinct-count shape).
    * The NOT IN subquery's key is NON-nullable, so Catalyst can plan a
    * plain broadcast LeftAnti hash join against the 100-row blocklist
    * (no null-awareness needed — the nullable-key twin that forces the
    * null-aware anti-join flag is q_sql_naaj); the IN-list
    * size filter prunes parts before the join; count(DISTINCT) expands
    * to the standard two-phase agg (dedup on group+suppkey, then count).
    */
  val sqlQ16 = sqlQ("q_sql_q16", "lineitem", "part", "supplier")("""
      SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_brand <> 'Brand#45'
        AND p_type <> 'PROMO'
        AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_name LIKE '%7')
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")

  /** TPC-H Q19-shaped (discounted revenue) — the DISJUNCTIVE predicate
    * stack: three brand/size/quantity bands OR-ed together over the
    * part join. The equi key (p_partkey = l_partkey) is common to every
    * disjunct, so it lives in ON and the OR stays a residual filter —
    * the join is a plain hash join, NEVER a cartesian with a filter
    * (the trap this query exists to catch; the suite's global
    * no-CartesianProduct contract would fail the naive plan). p_container
    * doesn't exist, so the in-list container bands become p_size ranges.
    */
  val sqlQ19 = sqlQ("q_sql_q19", "lineitem", "part")("""
      SELECT CAST(sum(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
             AND l_quantity >= 1  AND l_quantity <= 11)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
             AND l_quantity >= 10 AND l_quantity <= 20)
         OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
             AND l_quantity >= 20 AND l_quantity <= 30)""")

  /** TPC-H Q20-shaped (potential part promotion) — the NESTED IN stack:
    * suppliers (in a nation band) who moved more than a threshold
    * quantity of a name-pattern part family in a year. partsupp's
    * availqty doesn't exist, so the inner relation aggregates lineitem
    * per (supplier, part) and the HAVING threshold replaces the
    * correlated availqty compare (the correlated-scalar variant is
    * already pinned by q_sql_q2/q_sql_q17). Both IN subqueries rewrite
    * to LEFT SEMI joins; the part-name list broadcasts into the fact
    * scan side, and the per-(supp,part) agg shuffles once on the
    * composite key before collapsing to distinct suppkeys.
    */
  val sqlQ20 = sqlQ("q_sql_q20", "supplier", "nation", "lineitem", "part")("""
      SELECT s_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4',
                       'NATION_5')
        AND s_suppkey IN (
          SELECT l_suppkey
          FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE 'red%')
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1997-01-01'
          GROUP BY l_suppkey, l_partkey
          HAVING sum(l_quantity) > CAST(60 AS DOUBLE))
      ORDER BY s_name""")

  /** TPC-H Q22-shaped (global sales opportunity) — the UNCORRELATED
    * SCALAR threshold + NOT EXISTS anti-join combo: above-average-balance
    * customers with no RECENT orders, bucketed by a derived country code
    * (c_nationkey % 5 stands in for the absent phone prefix; the date
    * bound inside NOT EXISTS keeps the anti-join non-degenerate — every
    * customer here has SOME order). The avg subquery broadcasts as one
    * row; the NOT EXISTS plans as a LEFT ANTI hash join on custkey with
    * the date filter pushed inside the right scan — at 100 TB that
    * filter shrinks the anti build side to the recent window only.
    */
  val sqlQ22 = sqlQ("q_sql_q22", "customer", "orders")("""
      SELECT cntrycode, count(*) AS numcust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      FROM (SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode, c_acctbal
            FROM customer
            WHERE c_acctbal > (SELECT CAST(avg(c_acctbal) AS DOUBLE)
                               FROM customer
                               WHERE c_acctbal > CAST(0 AS DOUBLE))
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '1999-01-01'))
           custsale
      GROUP BY cntrycode
      ORDER BY cntrycode""")

  /** NULL-AWARE anti join — the NOT IN trap q_sql_q16's non-nullable
    * blocklist cannot exercise: when the subquery's key expression is
    * NULLABLE, `x NOT IN (S)` must evaluate to UNKNOWN (row dropped)
    * for EVERY probe row as soon as S contains one NULL, so Catalyst
    * cannot plan a plain anti join — it sets the single-column
    * null-aware fast path (the trailing `isNullAwareAntiJoin` flag on
    * BroadcastHashJoin, SPARK-32290; plan-pinned in SqlNaajSpec
    * alongside the actual-NULL semantics on a planted corpus: one NULL
    * in S empties the result on both engines). On the driver corpora
    * the CASE's guard (o_totalprice > 1e9) never fires, so the query
    * returns the real "customers with no high-value orders per
    * segment" census while the STATIC nullability still forces the
    * null-aware plan — both the plan shape and the value semantics
    * stay covered.
    */
  val sqlNaaj = sqlQ("q_sql_naaj", "customer", "orders")("""
      SELECT c_mktsegment, count(*) AS n_no_big_orders
      FROM customer
      WHERE c_custkey NOT IN (
        SELECT CASE WHEN o_totalprice > 1000000000 THEN NULL
                    ELSE o_custkey END
        FROM orders WHERE o_totalprice > 400000)
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""")

  override def all: Seq[Q] =
    Seq(flagship, hashAgg, sqlQ3, sqlQ5, sqlQ18, sqlCorr, sqlQ7, sqlRec, sqlQ21,
      sqlQ17, sqlQ2, sqlQ15, sqlQ4, sqlQ6, sqlQ8, sqlQ9, sqlQ10, sqlQ11,
      sqlQ12, sqlQ13, sqlQ14, sqlQ16, sqlQ19, sqlQ20, sqlQ22, sqlNaaj)
}
