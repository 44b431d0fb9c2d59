package graft.analytics

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.{Q, QueryModule}
import graft.util.Tables._
import graft.analytics.StatsQueries.{decileCuts, decileOf}

/** Grouping and profiling: distinct, rollup, cube and grouping sets,
  * pivots and map functions, profiles, data-quality rules, histograms,
  * RFM and market baskets. Partial aggregation before every exchange. */
object GroupingQueries extends QueryModule {

  /** DISTINCT — hash-aggregate based dedup of a projection. Spark plans
    * this as partial+final HashAggregate (map-side dedup before the
    * shuffle), which is exactly the scalable form.
    */
  val distinctQ = Q(
    "q_distinct",
    (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_nationkey"))
        .distinct()
        .orderBy(col("c_mktsegment"), col("c_nationkey")),
    Some("""
      SELECT DISTINCT c_mktsegment, c_nationkey
      FROM customer ORDER BY c_mktsegment, c_nationkey""")
  )

  /** COUNT(DISTINCT) per group — Spark expands this to a two-phase
    * partial-distinct aggregate (dedup before the shuffle). Named for
    * what it computes (exact distinct); the HLL-sketch path is
    * [[SketchQueries.hllDistinct]] below.
    */
  val countDistinctQ = Q(
    "q_count_distinct",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("nd_parts"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_parts, count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** ROLLUP — hierarchical subtotals region → nation → grand total.
    * Catalyst expands rollup into a single Expand + aggregate (one
    * shuffle, not one job per level). NULL group keys are coalesced to
    * 'ALL' for deterministic ordering against the oracle.
    */
  val rollupQ = Q(
    "q_rollup",
    (s, dir) => {
      val joined = t(s, dir, "customer")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      joined
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal"), 2).as("sum_bal"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("n"), col("sum_bal"))
        .orderBy(col("region"), col("nation"))
    },
    Some("""
      SELECT coalesce(r_name, 'ALL') AS region,
             coalesce(n_name, 'ALL') AS nation,
             count(*) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY region, nation""")
  )

  /** CUBE — all grouping-set combinations of (segment, nation-of-
    * customer). Same single Expand+aggregate plan as rollup.
    */
  val cubeQ = Q(
    "q_cube",
    (s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .cube(col("c_mktsegment"), col("n_name"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal"), 2).as("sum_bal"))
        .select(
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("n"), col("sum_bal"))
        .orderBy(col("segment"), col("nation"))
    },
    Some("""
      SELECT coalesce(c_mktsegment, 'ALL') AS segment,
             coalesce(n_name, 'ALL') AS nation,
             count(*) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY CUBE(c_mktsegment, n_name)
      ORDER BY segment, nation""")
  )

  /** General GROUPING SETS — the ((a),(b),()) form neither rollup nor
    * cube can express, over group keys containing GENUINE NULLs
    * (`nullif` blanks the majority order status), with
    * `grouping()`/`grouping_id()` disambiguating a NULL key value from
    * a subtotal row — the distinction the rollup/cube
    * `coalesce(…,'ALL')` idiom cannot make once real NULLs exist.
    * Output keeps the raw (nullable) keys plus the flags; the sort key
    * coalesces to a high sentinel ONLY for deterministic row order
    * (Spark defaults NULLS FIRST, DuckDB NULLS LAST — never sort raw
    * NULLs cross-engine). Same single Expand + one-shuffle aggregate
    * plan as rollup/cube: each input row replicates once per matching
    * grouping set (3× here) before the partial aggregate, so the
    * shuffle carries pre-combined per-set groups, not row copies.
    * grouping_id bit order: first grouping column is the MSB, so the
    * oracle replicates it as 2*grouping(status)+grouping(priority).
    */
  val groupingSetsQ = Q(
    "q_grouping_sets",
    (s, dir) => {
      val src = t(s, dir, "orders")
        .select(
          nullif(col("o_orderstatus"), lit("O")).as("status"),
          col("o_orderpriority").as("priority"),
          col("o_totalprice"))
      src
        .groupingSets(
          Seq(Seq(col("status")), Seq(col("priority")), Seq.empty),
          col("status"), col("priority"))
        .agg(
          grouping(col("status")).cast(LongType).as("g_status"),
          grouping(col("priority")).cast(LongType).as("g_priority"),
          grouping_id().cast(LongType).as("gid"),
          count(lit(1)).as("n"),
          dsum(col("o_totalprice"), 2).as("sum_price"))
        .select(col("status"), col("priority"), col("g_status"),
          col("g_priority"), col("gid"), col("n"), col("sum_price"))
        .orderBy(col("gid"),
          coalesce(col("status"), lit("~")),
          coalesce(col("priority"), lit("~")))
    },
    Some("""
      WITH src AS (
        SELECT nullif(o_orderstatus, 'O') AS status,
               o_orderpriority AS priority,
               o_totalprice
        FROM orders)
      SELECT status, priority,
             CAST(GROUPING(status) AS BIGINT) AS g_status,
             CAST(GROUPING(priority) AS BIGINT) AS g_priority,
             CAST(2 * GROUPING(status) + GROUPING(priority) AS BIGINT) AS gid,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM src
      GROUP BY GROUPING SETS ((status), (priority), ())
      ORDER BY gid, coalesce(status, '~'), coalesce(priority, '~')""")
  )

  /** Map-column functions (§2.5 "map fns" — the one category row with
    * no query obligation until now): per-user event-type histograms
    * AGGREGATED INTO A MAP (`map_from_entries` over a sorted entry
    * list), then consumed with `map_keys`, `element_at` (NULL on
    * missing key → coalesce), and a `map_filter` lambda. Outputs are
    * scalars/strings, not raw maps, so the oracle compare stays
    * hash-exact; the DuckDB twin computes the same semantics map-free
    * (conditional aggregation) — an independent mechanism agreeing on
    * the result, as with q_dedup_components. Same two-level agg scale
    * shape as q_vocab: the map is per-user, bounded by the event-type
    * vocabulary, never by event count.
    */
  val mapFns = Q(
    "q_map_fns",
    (s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("event_type"), col("n")))))
          .as("m"))
        .select(
          col("user_id"),
          lsize(map_keys(col("m"))).as("n_types"),
          array_join(array_sort(map_keys(col("m"))), ",").as("types_csv"),
          coalesce(element_at(col("m"), lit("click")), lit(0L)).as("n_clicks"),
          lsize(map_keys(map_filter(col("m"), (_, v) => v >= 5))).as("n_heavy"))
        .orderBy(col("user_id")),
    Some("""
      WITH hist AS (
        SELECT user_id, event_type, count(*) AS n
        FROM events GROUP BY 1, 2)
      SELECT user_id,
             count(*) AS n_types,
             string_agg(event_type, ',' ORDER BY event_type) AS types_csv,
             CAST(coalesce(max(CASE WHEN event_type = 'click' THEN n END), 0)
                  AS BIGINT) AS n_clicks,
             CAST(count(CASE WHEN n >= 5 THEN 1 END) AS BIGINT) AS n_heavy
      FROM hist GROUP BY user_id ORDER BY user_id""")
  )

  /** Data-quality rule audit — the cross-table DQ census every landed
    * dataset gets before anything downstream trusts it: referential
    * integrity (orphan FKs), range violations, null rates, one row per
    * rule. Scale shape: each referential rule is a LEFT ANTI join
    * keyed on the FK (never a collect-and-check); the range/null
    * rules for one table fold into a SINGLE conditional-aggregate
    * scan unpivoted via stack, so the audit costs one pass per table
    * plus the anti-joins — the census itself is rule-count-sized.
    */
  val dqRules = Q(
    "q_dq_rules",
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      def census(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_violations"))
          .select(lit(name).as("rule"), col("n_violations"))
      val orphanOrders = census("orders_orphan_customer",
        ord.join(cust, ord("o_custkey") === cust("c_custkey"), "left_anti"))
      val orphanLines = census("lineitem_orphan_order",
        li.join(ord.select(col("o_orderkey")),
          li("l_orderkey") === col("o_orderkey"), "left_anti"))
      val ordScan = ord.agg(
          sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpos"),
          sum(when(col("o_orderdate") > lit("1998-12-31").cast("timestamp"), 1L)
            .otherwise(0L)).as("future"))
        .selectExpr("""stack(2,
            'orders_nonpositive_price', nonpos,
            'orders_future_date', future) AS (rule, n_violations)""")
      val custScan = cust.agg(
          sum(when(col("c_acctbal") < 0, 1L).otherwise(0L)).as("negbal"),
          sum(when(col("c_mktsegment").isNull, 1L).otherwise(0L)).as("nullseg"))
        .selectExpr("""stack(2,
            'customer_negative_balance', negbal,
            'customer_null_segment', nullseg) AS (rule, n_violations)""")
      orphanOrders.union(orphanLines).union(ordScan).union(custScan)
        .orderBy(col("rule"))
    },
    Some("""
      SELECT 'orders_orphan_customer' AS rule, count(*) AS n_violations
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      WHERE c_custkey IS NULL
      UNION ALL
      SELECT 'lineitem_orphan_order', count(*)
      FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderkey IS NULL
      UNION ALL
      SELECT 'orders_nonpositive_price',
             CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders_future_date',
             CAST(sum(CASE WHEN o_orderdate > TIMESTAMP '1998-12-31'
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'customer_negative_balance',
             CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM customer
      UNION ALL
      SELECT 'customer_null_segment',
             CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM customer
      ORDER BY rule""")
  )

  /** Column profile — the validate-before-training pass over a table:
    * row count, null counts, exact distinct cardinalities, and value
    * ranges, all in ONE aggregation job (every stat is a partial-
    * aggregable expression, so profiling 100 TB costs one scan + one
    * tiny shuffle, not one job per statistic — the difference between
    * a profiler you run on every snapshot and one you don't).
    */
  val profile = Q(
    "q_profile",
    (s, dir) =>
      t(s, dir, "lineitem")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("n_null_flag"),
          countDistinct(col("l_returnflag")).as("nd_flag"),
          countDistinct(col("l_partkey")).as("nd_part"),
          min(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("min_qty"),
          max(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("max_qty")),
    Some("""
      SELECT count(*) AS n_rows,
             CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_flag,
             count(DISTINCT l_returnflag) AS nd_flag,
             count(DISTINCT l_partkey) AS nd_part,
             CAST(CAST(min(l_quantity) AS DECIMAL(18,2)) AS DOUBLE) AS min_qty,
             CAST(CAST(max(l_quantity) AS DECIMAL(18,2)) AS DOUBLE) AS max_qty
      FROM lineitem""")
  )

  /** PIVOT — long-to-wide: order counts per (priority, status) with
    * statuses as columns. The pivot column values are ENUMERATED
    * (`pivot(col, values)`) so the plan is a single pass — Spark
    * without the value list runs an extra distinct job first, and an
    * unbounded value set would make the schema data-dependent (a
    * non-starter at 100 TB where the planner must not scan to plan).
    * Catalyst compiles this to one aggregate with CASE projections —
    * exactly the oracle's formulation, one shuffle.
    */
  val pivotQ = Q(
    "q_pivot",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot(col("o_orderstatus"), Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("o_orderpriority"), col("F").as("n_f"),
          col("O").as("n_o"), col("P").as("n_p"))
        .orderBy(col("o_orderpriority")),
    Some("""
      SELECT o_orderpriority,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
             count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )

  /** ARGMAX — per nation, WHICH supplier holds the max account balance
    * (not just the max). `max_by` is non-deterministic under ties, so
    * the implementation rides `max(struct(value, key))`: struct
    * comparison is lexicographic, making the tiebreak (largest key)
    * explicit and order-independent — the aggregation stays one
    * partial+final pass, no window, no join-back. The oracle expresses
    * the same thing positionally with a row_number.
    */
  val argmax = Q(
    "q_argmax",
    (s, dir) =>
      t(s, dir, "supplier")
        .groupBy(col("s_nationkey"))
        .agg(max(struct(
          col("s_acctbal").cast(DecimalType(18, 2)).as("bal"),
          col("s_suppkey").as("k"))).as("m"))
        .select(
          col("s_nationkey"),
          col("m.k").as("top_suppkey"),
          col("m.bal").cast(DoubleType).as("top_bal"))
        .orderBy(col("s_nationkey")),
    Some("""
      WITH r AS (
        SELECT s_nationkey, s_suppkey, s_acctbal,
               row_number() OVER (PARTITION BY s_nationkey
                                  ORDER BY CAST(s_acctbal AS DECIMAL(18,2)) DESC,
                                           s_suppkey DESC) AS rn
        FROM supplier)
      SELECT s_nationkey, s_suppkey AS top_suppkey,
             CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS top_bal
      FROM r WHERE rn = 1 ORDER BY s_nationkey""")
  )

  /** Salted two-phase AGGREGATION, the skew tool AQE doesn't cover
    * (adaptive skew-split only rewrites joins; a hot GROUP BY key
    * still lands on one reducer when map-side combine can't shrink
    * its state). `Scale.saltedCountSum` pre-aggregates by (key, salt)
    * then finalizes by key; feeding it a DECIMAL-cast value makes
    * both phases exact, so the result is bit-identical to the plain
    * one-phase aggregate — which is exactly what the oracle runs.
    */
  val saltedAggQ = Q(
    "q_salted_agg",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("k"),
          col("l_quantity").cast(DecimalType(18, 2)).as("v"))
      graft.util.Scale.saltedCountSum(li, "k", "v", salts = 8)
        .select(col("k").as("l_returnflag"), col("n"),
          col("sum_value").cast(DoubleType).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY 1 ORDER BY 1""")
  )

  /** Share-of-total report — each nation's revenue as a fraction of
    * the grand total. The total is a broadcast SCALAR off the same
    * aggregate, NOT an unpartitioned window over the detail (the
    * subtle single-task trap in most "percent of total" SQL); the
    * share is integer-exact decimal cents divided once at projection
    * time, rounded for the cut-proof compare.
    */
  val percentTotal = Q(
    "q_percent_total",
    (s, dir) => {
      val byNation = t(s, dir, "supplier")
        .join(t(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("s_acctbal").cast(DecimalType(18, 2))).as("bal"))
        // nation-bounded frame, TWO consumers (total + detail):
        // materialize once instead of running the join+agg twice
        .localCheckpoint(true)
      val total = byNation.groupBy()
        .agg(sum(col("bal")).as("total"))
      byNation.crossJoin(broadcast(total))
        .select(col("n_name"),
          col("bal").cast(DoubleType).as("bal"),
          round(col("bal").cast(DoubleType) / col("total").cast(DoubleType), 6)
            .as("share_r"))
        .orderBy(col("n_name"))
    },
    Some("""
      WITH b AS (
        SELECT n_name, sum(CAST(s_acctbal AS DECIMAL(18,2))) AS bal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1),
      t AS (SELECT sum(bal) AS total FROM b)
      SELECT n_name, CAST(bal AS DOUBLE) AS bal,
             round(CAST(bal AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share_r
      FROM b CROSS JOIN t ORDER BY n_name""")
  )

  /** Column-profiling census via UNPIVOT — the `stack` expression
    * turns one wide scan into per-column quality rows (null count,
    * distinct count) without N separate scans; the DuckDB oracle
    * spells the same thing as a UNION ALL. This is the data-quality
    * sweep a 100 TB ingest runs per batch, and the one relational
    * surface (unpivot) nothing else exercised.
    */
  val colProfile = Q(
    "q_col_profile",
    (s, dir) => {
      events(s, dir)
        .selectExpr("""stack(3,
            'event_type', event_type,
            'props', props,
            'value', CAST(value AS STRING)) AS (col_name, v)""")
        .groupBy(col("col_name"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col("v")).as("n_distinct"))
        .orderBy(col("col_name"))
    },
    Some("""
      WITH u AS (
        SELECT 'event_type' AS col_name, event_type AS v FROM events
        UNION ALL
        SELECT 'props', props FROM events
        UNION ALL
        SELECT 'value', CAST(value AS VARCHAR) FROM events)
      SELECT col_name, count(*) AS n_rows,
             CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
             count(DISTINCT v) AS n_distinct
      FROM u GROUP BY col_name ORDER BY col_name""")
  )

  /** Deterministic ordered string aggregation — each source's top-3
    * doc ids by length, concatenated IN ORDER. Spark has no ORDER BY
    * inside aggregates, so the portable pattern is sort_array over a
    * (sort-key, payload) struct list, sliced then joined — vs
    * DuckDB's native string_agg(... ORDER BY). Pins that a list
    * aggregate can be made order-stable at any parallelism (the
    * determinism rule every collect_list consumer must follow).
    */
  val groupConcat = Q(
    "q_group_concat",
    (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sort_array(collect_list(struct(
          (-col("n_chars")).as("neg_len"), col("doc_id")))).as("xs"))
        .select(col("source"),
          concat_ws(",",
            expr("transform(slice(xs, 1, 3), x -> CAST(x.doc_id AS STRING))"))
            .as("top3"))
        .orderBy(col("source"))
    },
    Some("""
      WITH r AS (
        SELECT source, doc_id,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents)
      SELECT source,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn) AS top3
      FROM r WHERE rn <= 3 GROUP BY source ORDER BY source""")
  )

  /** Deterministic MODE per group — the most frequent order priority
    * per status. Both engines ship a `mode()` aggregate but neither
    * defines its tie-break, so cross-engine (and cross-run) stability
    * requires the explicit form: count per (group, value), then
    * rank with a declared tiebreak. The rank runs on the counted
    * frame (groups × values), not the raw table.
    */
  val modeQ = Q(
    "q_mode",
    (s, dir) => {
      val counts = t(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("n").desc, col("o_orderpriority"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
          col("n"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""
      WITH c AS (
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders GROUP BY 1, 2),
      r AS (
        SELECT o_orderstatus, o_orderpriority, n,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY n DESC, o_orderpriority) AS rn
        FROM c)
      SELECT o_orderstatus, o_orderpriority AS mode_priority, n
      FROM r WHERE rn = 1 ORDER BY o_orderstatus""")
  )

  /** Equi-width histogram — the profiling primitive behind every
    * "distribution of X" dashboard tile: bucket = ⌊price / 20000⌋,
    * per-bucket census with exact decimal mass and the true bucket
    * envelope (min/max). One map-side bucket projection + one hash
    * aggregation; at 100 TB the shuffle carries one row per bucket
    * per map partition, nothing else.
    */
  val histogram = Q(
    "q_histogram",
    (s, dir) => {
      t(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / lit(20000.0)).as("bucket"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("o_totalprice"), 2).as("sum_price"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("bucket"))
    },
    Some("""
      SELECT CAST(floor(o_totalprice / CAST(20000 AS DOUBLE)) AS BIGINT) AS bucket,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             min(o_totalprice) AS min_price,
             max(o_totalprice) AS max_price
      FROM orders GROUP BY 1 ORDER BY bucket""")
  )

  /** RFM segmentation (recency / frequency / monetary quartiles) —
    * the classic customer-scoring pipeline. Deliberately NOT built on
    * a global ntile: an unpartitioned ranking window funnels every
    * customer through one task. Instead the three quartile cut points
    * come from ONE percentile aggregate (distributed, mergeable) and
    * broadcast back, so bucketing is a map-side CASE at any scale —
    * the same cutoff-vs-rank trade q_approx_percentile documents.
    * Recency anchors on a fixed literal date so results are stable.
    */
  val rfm = Q(
    "q_rfm",
    (s, dir) => {
      val per = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          datediff(lit("1998-08-02").cast("date"), to_date(max(col("o_orderdate"))))
            .cast(LongType).as("recency"),
          count(lit(1)).as("frequency"),
          dsum(col("o_totalprice"), 2).as("monetary"))
      val cuts = per.groupBy().agg(
        expr("percentile(recency, array(0.25D, 0.5D, 0.75D))").as("rc"),
        expr("percentile(frequency, array(0.25D, 0.5D, 0.75D))").as("fc"),
        expr("percentile(monetary, array(0.25D, 0.5D, 0.75D))").as("mc"))
      def bucket(c: Column, cut: Column): Column =
        (lit(1)
          + when(c > element_at(cut, 1), 1).otherwise(0)
          + when(c > element_at(cut, 2), 1).otherwise(0)
          + when(c > element_at(cut, 3), 1).otherwise(0)).cast(LongType)
      per.crossJoin(broadcast(cuts))
        .select(col("o_custkey").as("custkey"),
          col("recency"), col("frequency"), col("monetary"),
          bucket(col("recency"), col("rc")).as("r_q"),
          bucket(col("frequency"), col("fc")).as("f_q"),
          bucket(col("monetary"), col("mc")).as("m_q"))
        .withColumn("segment",
          concat_ws("-", col("r_q"), col("f_q"), col("m_q")))
        .orderBy(col("custkey"))
    },
    Some("""
      WITH per AS (
        SELECT o_custkey AS custkey,
               CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                              DATE '1998-08-02') AS BIGINT) AS recency,
               count(*) AS frequency,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        FROM orders GROUP BY 1),
      cuts AS (
        SELECT quantile_cont(recency, [0.25, 0.5, 0.75]) AS rc,
               quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fc,
               quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mc
        FROM per),
      b AS (
        SELECT custkey, recency, frequency, monetary,
               CAST(1 + CASE WHEN recency > rc[1] THEN 1 ELSE 0 END
                      + CASE WHEN recency > rc[2] THEN 1 ELSE 0 END
                      + CASE WHEN recency > rc[3] THEN 1 ELSE 0 END AS BIGINT) AS r_q,
               CAST(1 + CASE WHEN frequency > fc[1] THEN 1 ELSE 0 END
                      + CASE WHEN frequency > fc[2] THEN 1 ELSE 0 END
                      + CASE WHEN frequency > fc[3] THEN 1 ELSE 0 END AS BIGINT) AS f_q,
               CAST(1 + CASE WHEN monetary > mc[1] THEN 1 ELSE 0 END
                      + CASE WHEN monetary > mc[2] THEN 1 ELSE 0 END
                      + CASE WHEN monetary > mc[3] THEN 1 ELSE 0 END AS BIGINT) AS m_q
        FROM per CROSS JOIN cuts)
      SELECT custkey, recency, frequency, monetary, r_q, f_q, m_q,
             concat_ws('-', r_q, f_q, m_q) AS segment
      FROM b ORDER BY custkey""")
  )

  /** Hard cap on items per basket for [[basket]]. Σ items-per-basket²
    * is fine when baskets are bounded (TPC-H orders carry ≤ 7 lines)
    * but ONE degenerate basket — a bot session, a bulk order — with
    * 10⁵ items makes 10¹⁰ pairs on a single key, and the support
    * filter runs AFTER pair expansion so it cannot save you. Baskets
    * above the cap are dropped from the analysis entirely (the same
    * declared-truncation contract as [[graft.similarity.NearDupQueries.MaxShingleDf]]):
    * a 10⁵-item basket is noise for association mining, not signal.
    * Worst case per basket is C(64,2) ≈ 2k pairs.
    */
  val MaxBasketItems = 64

  /** Drop baskets carrying more than `cap` distinct items (see
    * [[MaxBasketItems]]). Factored out so AnalyticsSpec can plant a
    * synthetic mega-basket and prove the pair count collapses. The
    * right side (oversized basket keys) is explicitly broadcast — it
    * is bounded-tiny by construction, so the cap costs one partial
    * aggregation and zero extra shuffles on the items frame.
    */
  private[analytics] def capBasketSize(
      items: org.apache.spark.sql.DataFrame, cap: Int): org.apache.spark.sql.DataFrame = {
    val big = items.groupBy(col("ok"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > cap)
      .select(col("ok"))
    items.join(broadcast(big), Seq("ok"), "left_anti")
  }

  /** Market-basket association (support + lift) — co-occurrence
    * mining over order contents. The pair generation is a self-join
    * keyed on the ORDER, so the blow-up is Σ items-per-basket², never
    * catalog² — and per-basket cost is bounded by [[MaxBasketItems]]:
    * oversized baskets are removed by a broadcast anti-join BEFORE the
    * self-join (the oversize list is tiny at any corpus size, so the
    * anti-join replicates, never shuffles). Item and basket counts
    * aggregate before any join, and the two dimension joins carry
    * catalog-sized frames. Support ≥ 3 prunes the pair tail BEFORE
    * the dimension joins. Lift = P(xy)/(P(x)P(y)) in a fixed textual
    * order + 6 dp round.
    */
  val basket = Q(
    "q_basket",
    (s, dir) => {
      val raw = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      // Checkpointed: the capped frame feeds FOUR consumers (total,
      // item counts, both sides of the pair join) — materialize the
      // distinct+cap once instead of re-deriving it per consumer.
      val items = capBasketSize(raw, MaxBasketItems).localCheckpoint(true)
      val n = items.select(col("ok")).distinct()
        .groupBy().agg(count(lit(1)).as("n_orders"))
      val ic = items.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
      val pairs = items.select(col("ok"), col("p").as("x"))
        .join(items.select(col("ok"), col("p").as("y")), Seq("ok"))
        .filter(col("x") < col("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_xy"))
        .filter(col("n_xy") >= 3)
      pairs
        .join(ic.select(col("p").as("x"), col("n_p").as("n_x")), Seq("x"))
        .join(ic.select(col("p").as("y"), col("n_p").as("n_y")), Seq("y"))
        .crossJoin(broadcast(n))
        .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
          round(col("n_xy") * lit(1.0) * col("n_orders")
            / (col("n_x") * lit(1.0) * col("n_y")), 6).as("lift_r"))
        .orderBy(col("lift_r").desc, col("x"), col("y"))
        .limit(25)
    },
    Some(s"""
      WITH items0 AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      big AS (SELECT ok FROM items0 GROUP BY ok HAVING count(*) > $MaxBasketItems),
      items AS (SELECT i.ok, i.p FROM items0 i ANTI JOIN big b ON i.ok = b.ok),
      n AS (SELECT count(DISTINCT ok) AS n_orders FROM items),
      ic AS (SELECT p, count(*) AS n_p FROM items GROUP BY p),
      pairs AS (
        SELECT a.p AS x, b.p AS y, count(*) AS n_xy
        FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= 3)
      SELECT x, y, n_xy, cx.n_p AS n_x, cy.n_p AS n_y,
             round(n_xy * CAST(1 AS DOUBLE) * n_orders
                   / (cx.n_p * CAST(1 AS DOUBLE) * cy.n_p), 6) AS lift_r
      FROM pairs
      JOIN ic cx ON pairs.x = cx.p
      JOIN ic cy ON pairs.y = cy.p
      CROSS JOIN n
      ORDER BY lift_r DESC, x, y LIMIT 25""")
  )

  /** EQUI-DEPTH histogram (each bucket holds ~the same row mass) —
    * the complement of q_histogram's equi-width buckets and the shape
    * optimizers build column statistics from. Decile boundaries come
    * from ONE distributed percentile aggregate broadcast back as a
    * map-side CASE (the q_rfm idiom — never a global ntile window,
    * which would single-task the whole table); bucket ids and counts
    * are pure integers, so the oracle compare has no float boundary
    * (the percentile-interpolation parity with quantile_cont is the
    * same contract q_percentile/q_rfm already pin).
    */
  val histogramEqDepth = Q(
    "q_histogram_eqdepth",
    (s, dir) => {
      val cuts = t(s, dir, "orders").groupBy().agg(decileCuts("o_totalprice").as("qs"))
      t(s, dir, "orders")
        .crossJoin(broadcast(cuts))
        .select(decileOf(col("o_totalprice"), col("qs")).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH c AS (
        -- CAST to DOUBLE first: quantile_cont over a DECIMAL column
        -- returns cents-rounded DECIMAL cuts, which can flip a strict
        -- '>' bucket decision vs Spark's full-precision percentile
        -- (same parity rule as the q_rfm oracle)
        SELECT quantile_cont(CAST(o_totalprice AS DOUBLE),
                 [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
        FROM orders),
      b AS (
        SELECT CAST(1
          + (CASE WHEN o_totalprice > qs[1] THEN 1 ELSE 0 END)
          + (CASE WHEN o_totalprice > qs[2] THEN 1 ELSE 0 END)
          + (CASE WHEN o_totalprice > qs[3] THEN 1 ELSE 0 END)
          + (CASE WHEN o_totalprice > qs[4] THEN 1 ELSE 0 END)
          + (CASE WHEN o_totalprice > qs[5] THEN 1 ELSE 0 END)
          + (CASE WHEN o_totalprice > qs[6] THEN 1 ELSE 0 END)
          + (CASE WHEN o_totalprice > qs[7] THEN 1 ELSE 0 END)
          + (CASE WHEN o_totalprice > qs[8] THEN 1 ELSE 0 END)
          + (CASE WHEN o_totalprice > qs[9] THEN 1 ELSE 0 END)
          AS BIGINT) AS bucket
        FROM orders CROSS JOIN c)
      SELECT bucket, count(*) AS n FROM b GROUP BY 1 ORDER BY 1""")
  )

  override def all: Seq[Q] = Seq(
    distinctQ, countDistinctQ, rollupQ, cubeQ, groupingSetsQ, mapFns,
    saltedAggQ, pivotQ, argmax, profile, histogram, rfm,
    basket, percentTotal, colProfile, groupConcat, modeQ, histogramEqDepth,
    dqRules)
}
