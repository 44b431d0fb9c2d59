package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.{Q, QueryModule}
import graft.util.Tables._

/** The analytics surface the reference delegates to Power BI
  * (reference `static/report.html:2`; SURVEY.md §2.5): distinct,
  * rollup/cube, window functions, top-k, sessionization, set ops,
  * join shapes, sort/limit.
  *
  * Scale notes are per-query; the common theme is: one shuffle per
  * logical re-keying, partial aggregation before every exchange, and
  * window partitions keyed on bounded-cardinality columns so no single
  * partition exceeds executor memory at 100 TB.
  */
object AnalyticsQueries extends QueryModule {

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
    * [[hllDistinct]] below.
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

  /** approx_count_distinct — the HLL++ sketch form of the query above:
    * constant memory per group at ANY cardinality, which is what you
    * actually run at 100 TB (exact distinct state grows with the key
    * set). HLL registers are engine-specific, so the ESTIMATE cannot
    * be hash-compared — but its ERROR BOUND can (r11 verdict #4): the
    * query emits the exact distinct count alongside a boolean holding
    * |estimate − exact| / exact ≤ 3·rsd (three standard errors of the
    * rsd=0.02 sketch), and the oracle computes the same exact count
    * with the boolean pinned TRUE — so every driver run now verifies
    * the estimator's accuracy contract, not just a row count. Cost
    * stays one distinct aggregation, not an exact+sketch double pass:
    * HLL register-max is DUPLICATE-INSENSITIVE, so the sketch runs
    * over the pre-distincted (flag, partkey) pairs — the exact same
    * estimate as over the raw rows — and the exact count is a plain
    * count(*) on the same deduped frame (a mixed distinct/non-distinct
    * aggregate would Expand every row instead, measured 4.5× slower).
    * At production scale you would drop the exact column and keep only
    * the sketch — the bound is the TEST, the sketch is the operator.
    */
  val hllDistinct = Q(
    "q_hll_distinct",
    (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_partkey"))
        .distinct()
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx"),
          count(lit(1)).as("nd_parts"))
        .select(
          col("l_returnflag"),
          col("nd_parts"),
          (abs(col("approx") - col("nd_parts")) <=
            col("nd_parts") * lit(0.06)).as("hll_within_3rsd"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS nd_parts,
             true AS hll_within_3rsd
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** KMV hash in [0,1): 32-bit md5 prefix over 2^32. Exactly
    * reproducible in DuckDB (same hex prefix, and division by a power
    * of two is IEEE-exact), which is what makes the WHOLE sketch —
    * not just its estimate — oracle-verifiable, unlike HLL's
    * engine-specific registers. */
  private def kmvH(user: Column): Column =
    conv(substring(md5(concat(lit("kmv:"), user.cast("string"))), 1, 8), 16, 10)
      .cast(LongType) / lit(4294967296.0)

  /** The KMV sketch of a (key, user) relation: the ≤ k smallest
    * distinct hash values per key (exposed for the mergeability spec —
    * union two sketches, keep the k smallest, and you have the sketch
    * of the union, the property that lets 100 TB of daily partials
    * merge without re-scanning history). */
  private[analytics] def kmvSketch(df: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("h"))
    df.select(col("event_type"), kmvH(col("user_id")).as("h"))
      .distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** K-minimum-values distinct sketch per event segment — the
    * third sketch family beside HLL (distinct estimate only) and
    * Count-Min (frequency): KMV keeps the k = 64 smallest distinct
    * hash values, estimates distinct as (k−1)/h_k, and — unlike HLL —
    * supports SET OPERATIONS on the retained values
    * ([[kmvOverlap]]). Fully oracle-verified because the hash is an
    * md5 prefix both engines compute identically; sets with ≤ k
    * members are reported exactly (the standard KMV small-set path).
    *
    * Scale shape: one distinct aggregation on (segment, h), then a
    * TWO-PHASE top-k (rank inside 32 hash sub-buckets first, then per
    * segment — the q_sample_exact_k pattern) so a hot segment's
    * billions of users never sort in a single task; post-aggregation
    * state is k rows per segment. Sketches merge associatively
    * (AnalyticsSpec pins partials-union == one-shot).
    */
  val kmvQ = Q(
    "q_kmv",
    (s, dir) => {
      val w1 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"), col("sub")).orderBy(col("h"))
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("h"))
      val hs = events(s, dir)
        .select(col("event_type"), kmvH(col("user_id")).as("h"))
        .distinct()
      val nh = hs.groupBy(col("event_type")).agg(count(lit(1)).as("nh"))
      val est = when(col("nh") <= 64, col("nh").cast(DoubleType))
        .otherwise(lit(63.0) / col("kth_h"))
      hs.withColumn("sub", pmod(hash(col("h")), lit(32)))
        .withColumn("rk1", row_number().over(w1)).filter(col("rk1") <= 64)
        .withColumn("rk", row_number().over(w2)).filter(col("rk") <= 64)
        .groupBy(col("event_type"))
        .agg(max(col("rk")).cast(LongType).as("k_used"), max(col("h")).as("kth_h"))
        .join(nh, Seq("event_type"))
        .select(col("event_type"), col("k_used"),
          round(col("kth_h"), 9).as("kth_h_r"),
          round(est, 6).as("est_r"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH hs AS (
        SELECT DISTINCT event_type,
               CAST(('0x' || substring(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 / 4294967296.0 AS h
        FROM events),
      nh AS (SELECT event_type, count(*) AS nh FROM hs GROUP BY 1),
      r AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
        FROM hs),
      tk AS (
        SELECT event_type, CAST(max(rk) AS BIGINT) AS k_used, max(h) AS kth_h
        FROM r WHERE rk <= 64 GROUP BY 1)
      SELECT t.event_type, t.k_used, round(t.kth_h, 9) AS kth_h_r,
             round(CASE WHEN n.nh <= 64 THEN CAST(n.nh AS DOUBLE)
                        ELSE 63.0 / t.kth_h END, 6) AS est_r
      FROM tk t JOIN nh n USING (event_type) ORDER BY event_type""")
  )

  /** KMV set-operation estimates — the query HLL cannot answer: how
    * many users did segments A ('view') and B ('click') SHARE? The
    * union sketch is the k smallest distinct hashes across both
    * segments (computed with a distributed TakeOrdered top-k, never a
    * global sort); Jaccard ≈ matches/k where a match is a retained
    * hash present in both segments; intersection ≈ Jaccard × union
    * estimate. A hash shared by two colliding users inherits both
    * memberships (the per-h max-flag fold) — sketch semantics operate
    * on hash VALUES, and the oracle folds identically. Small unions
    * (≤ k) degrade to exact counts on both engines.
    */
  val kmvOverlap = Q(
    "q_kmv_overlap",
    (s, dir) => {
      val hset = events(s, dir)
        .filter(col("event_type").isin("view", "click"))
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "view", 1).otherwise(0)).as("ua"),
          max(when(col("event_type") === "click", 1).otherwise(0)).as("ub"))
        .select(kmvH(col("user_id")).as("h"), col("ua"), col("ub"))
        .groupBy(col("h"))
        .agg(max(col("ua")).as("in_a"), max(col("ub")).as("in_b"))
      val census = hset.agg(count(lit(1)).as("n_union"))
      val sk = hset.orderBy(col("h")).limit(64)
        .agg(
          count(lit(1)).cast(LongType).as("k_used"),
          max(col("h")).as("kth_h"),
          sum(col("in_a") * col("in_b")).cast(LongType).as("matches"))
      val uEst = when(col("n_union") <= 64, col("n_union").cast(DoubleType))
        .otherwise(lit(63.0) / col("kth_h"))
      sk.crossJoin(broadcast(census))
        .select(col("k_used"), col("matches"),
          round(uEst, 6).as("union_est_r"),
          round(col("matches").cast(DoubleType) / col("k_used") * uEst, 6)
            .as("inter_est_r"))
    },
    Some("""
      WITH f AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ua,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ub
        FROM events WHERE event_type IN ('view', 'click') GROUP BY user_id),
      hset AS (
        SELECT CAST(('0x' || substring(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 / 4294967296.0 AS h,
               max(ua) AS in_a, max(ub) AS in_b
        FROM f GROUP BY 1),
      census AS (SELECT count(*) AS n_union FROM hset),
      r AS (SELECT h, in_a, in_b, row_number() OVER (ORDER BY h) AS rk FROM hset),
      sk AS (
        SELECT CAST(count(*) AS BIGINT) AS k_used, max(h) AS kth_h,
               CAST(sum(in_a * in_b) AS BIGINT) AS matches
        FROM r WHERE rk <= 64)
      SELECT k_used, matches,
             round(CASE WHEN n_union <= 64 THEN CAST(n_union AS DOUBLE)
                        ELSE 63.0 / kth_h END, 6) AS union_est_r,
             round(CAST(matches AS DOUBLE) / k_used
                   * CASE WHEN n_union <= 64 THEN CAST(n_union AS DOUBLE)
                          ELSE 63.0 / kth_h END, 6) AS inter_est_r
      FROM sk CROSS JOIN census""")
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

  /** Window ranking — rank/dense_rank/row_number of suppliers within
    * nation by account-balance band. Bands (floor(bal/1000)) create
    * real ties so rank != row_number; row_number carries a unique
    * tiebreak for determinism. One shuffle on the partition key.
    */
  val windowRank = Q(
    "q_window_rank",
    (s, dir) => {
      val balK = floor(col("s_acctbal") / 1000).cast(LongType)
      val wRank = Window.partitionBy(col("s_nationkey")).orderBy(balK.desc)
      val wRow =
        Window.partitionBy(col("s_nationkey")).orderBy(balK.desc, col("s_suppkey"))
      t(s, dir, "supplier")
        .select(
          col("s_suppkey"), col("s_nationkey"), balK.as("bal_k"),
          rank().over(wRank).cast(LongType).as("rnk"),
          dense_rank().over(wRank).cast(LongType).as("drnk"),
          row_number().over(wRow).cast(LongType).as("rn"))
        .orderBy(col("s_nationkey"), col("s_suppkey"))
    },
    Some("""
      SELECT s_suppkey, s_nationkey,
             CAST(floor(s_acctbal / 1000) AS BIGINT) AS bal_k,
             rank() OVER (PARTITION BY s_nationkey
                          ORDER BY CAST(floor(s_acctbal / 1000) AS BIGINT) DESC) AS rnk,
             dense_rank() OVER (PARTITION BY s_nationkey
                          ORDER BY CAST(floor(s_acctbal / 1000) AS BIGINT) DESC) AS drnk,
             CAST(row_number() OVER (PARTITION BY s_nationkey
                          ORDER BY CAST(floor(s_acctbal / 1000) AS BIGINT) DESC, s_suppkey)
                  AS BIGINT) AS rn
      FROM supplier ORDER BY s_nationkey, s_suppkey""")
  )

  /** Window frame — running total of order value per customer
    * (ROWS UNBOUNDED PRECEDING .. CURRENT ROW over a fully-ordered
    * frame). The sum rides DECIMAL so the running value is exact and
    * order-independent of engine internals.
    */
  val windowFrame = Q(
    "q_window_frame",
    (s, dir) => {
      val w = Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(
          col("o_orderkey"), col("o_custkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast(DoubleType).as("running_total"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS running_total
      FROM orders ORDER BY o_orderkey""")
  )

  /** RANGE-frame window — trailing 30-day order value per customer:
    * the frame is bounded by the ORDER BY *value* (epoch days), not row
    * position, so gaps and same-day ties behave correctly (all rows of
    * one day share one frame). Complements the ROWS frame in
    * q_window_frame.
    */
  val windowRange = Q(
    "q_window_range",
    (s, dir) => {
      val days = datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
        .cast(LongType)
      val w = Window
        .partitionBy(col("o_custkey"))
        .orderBy(days)
        .rangeBetween(-30, 0)
      t(s, dir, "orders")
        .select(
          col("o_orderkey"), col("o_custkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast(DoubleType).as("trailing_30d"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey
                          ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                          RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS trailing_30d
      FROM orders ORDER BY o_orderkey""")
  )

  /** Per-group top-k — the scalable top-k idiom: row_number inside each
    * partition then filter k, so only k rows per group survive the
    * window stage (vs a global sort). At 100 TB this is the only form
    * that doesn't materialize the full sorted table.
    */
  val topK = Q(
    "q_topk",
    (s, dir) => {
      val w = Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .select(
          col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          row_number().over(w).cast(LongType).as("rn"))
        .filter(col("rn") <= 5)
        .orderBy(col("c_mktsegment"), col("rn"))
    },
    Some("""
      SELECT c_mktsegment, c_custkey, c_acctbal, CAST(rn AS BIGINT) AS rn
      FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal DESC, c_custkey) AS rn
            FROM customer)
      WHERE rn <= 5 ORDER BY c_mktsegment, rn""")
  )

  /** [[topK]] re-expressed through the CUSTOM WHOLE-OPERATOR path
    * ([[graft.plans.TopKPerKey]]: logical node + planner strategy +
    * partial/final physical execs injected via SparkSessionExtensions)
    * — identical rows, identical oracle, different physics: Spark's
    * own rank-limit inference (SPARK-37099) gives [[topK]] the same
    * partial/final WIRE reduction, but each WindowGroupLimit stage
    * still fully SORTS its partition before walking it; the custom
    * operator keeps a bounded per-key heap instead — O(n log k), no
    * partition sort, no spill surface. The residual row_number that
    * materializes `rn` runs over the ≤ 25 surviving rows and reuses
    * the operator's key clustering — no second exchange
    * (plan-contract pinned).
    */
  val topKNative = Q(
    "q_topk_native",
    (s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
      val top = graft.plans.TopKPerKey(
        base, Seq("c_mktsegment"),
        Seq(col("c_acctbal").desc, col("c_custkey").asc), 5)
      val w = Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      top
        .select(
          col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          row_number().over(w).cast(LongType).as("rn"))
        .orderBy(col("c_mktsegment"), col("rn"))
    },
    Some("""
      SELECT c_mktsegment, c_custkey, c_acctbal, CAST(rn AS BIGINT) AS rn
      FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal DESC, c_custkey) AS rn
            FROM customer)
      WHERE rn <= 5 ORDER BY c_mktsegment, rn""")
  )

  /** Sessionization — lag/lead gap detection on the event stream: a new
    * session starts after a >30 min silence; sessions-per-user via a
    * running flag sum. Partitioned by user (bounded per-user history);
    * the streaming twin is session_window in graft.streaming.
    */
  val sessionize = Q(
    "q_sessionize",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(
          col("user_id"),
          when(
            lag(col("ts"), 1).over(w).isNull ||
              unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > 1800000000L,
            1).otherwise(0).as("new_s"))
        .groupBy(col("user_id"))
        .agg(
          sum(col("new_s")).cast(LongType).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH e AS (
        SELECT user_id,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions,
             count(*) AS n_events
      FROM e GROUP BY user_id ORDER BY user_id""")
  )

  /** Set operations — symmetric difference of two customer key sets.
    * The literal UNION/INTERSECT/EXCEPT form (kept verbatim in the
    * oracle) scans `customer` four times; since both sets derive from
    * the SAME table, one scan computes per-row membership flags and one
    * aggregation ORs them per key — symmetric difference is then the
    * XOR filter. 4× less I/O at 100 TB, one shuffle instead of three
    * set-op exchanges. Rows in neither set are dropped BEFORE the
    * shuffle (safe: max-ORing in a false,false row never changes the
    * flags, and all-false keys fail the XOR anyway).
    * Plan shape (1 FileScan, ≤2 shuffles) pinned in PlanContractSpec.
    */
  val setOps = Q(
    "q_setops",
    (s, dir) =>
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          // coalesce: a NULL segment/balance means "not in the set",
          // matching the set-op form (NULL predicates drop rows there
          // too); without it max(NULL-flag) poisons the XOR filter.
          coalesce(col("c_mktsegment") === "BUILDING", lit(false)).as("in_a"),
          coalesce(col("c_acctbal") > 5000, lit(false)).as("in_b"))
        .filter(col("in_a") || col("in_b"))
        .groupBy(col("c_custkey"))
        .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
        .filter(col("in_a") =!= col("in_b"))
        .select(col("c_custkey"))
        .orderBy(col("c_custkey")),
    Some("""
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       UNION
       SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      EXCEPT
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       INTERSECT
       SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      ORDER BY c_custkey""")
  )

  /** MULTISET set operations — INTERSECT ALL / EXCEPT ALL over two
    * year-slices of (customer, status) order rows, a different algebra
    * from [[setOps]]'s distinct semantics: duplicates carry
    * multiplicity (min of counts for intersect, truncated difference
    * for except). Catalyst's RewriteIntersectAll/RewriteExceptAll turn
    * these into per-key count aggregates + a Generate that replicates
    * each key min/diff times — ONE keyed shuffle per side, never a
    * row-pairing join, which is exactly the multiset form that scales.
    * Output is the op census (sizes), so the result stays 3 rows at
    * any SF.
    */
  val setOpsAll = Q(
    "q_setops_all",
    (s, dir) => {
      def slice(y: Int) = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey"), col("o_orderstatus"))
      val a = slice(1994)
      val b = slice(1995)
      a.intersectAll(b).agg(count(lit(1)).as("n"))
        .select(lit("intersect_all").as("op"), col("n"))
        .union(a.exceptAll(b).agg(count(lit(1)).as("n"))
          .select(lit("except_all").as("op"), col("n")))
        .union(a.union(b).agg(count(lit(1)).as("n"))
          .select(lit("union_all").as("op"), col("n")))
        .orderBy(col("op"))
    },
    Some("""
      WITH a AS (SELECT o_custkey, o_orderstatus FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1994-01-01'
                   AND o_orderdate < TIMESTAMP '1995-01-01'),
      b AS (SELECT o_custkey, o_orderstatus FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1996-01-01')
      SELECT 'intersect_all' AS op, count(*) AS n
      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
      UNION ALL
      SELECT 'except_all', count(*)
      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
      UNION ALL
      SELECT 'union_all', count(*)
      FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
      ORDER BY op""")
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

  /** k-anonymity census — the privacy audit a dataset gets before
    * release: generalize the quasi-identifiers (nation, market
    * segment, account-balance band of width 1000), form equivalence
    * classes, and report how many classes / rows fall in each
    * re-identification-risk band (k=1 is fully re-identifiable;
    * k≥10 is the conventional release bar). Complements q_pii_scrub:
    * scrubbing removes direct identifiers, this measures what the
    * QUASI-identifiers still leak. Scale shape: banding is a map-side
    * projection, the class census is ONE keyed aggregate (QI tuple),
    * and the band rollup runs on the class-count-sized result — the
    * 25-row nation dim broadcasts. The balance band floors in DOUBLE
    * on both engines (exact for these magnitudes), never in the
    * engines' differing DECIMAL division rules.
    */
  val kanon = Q(
    "q_kanon",
    (s, dir) => {
      val classes = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"),
          floor(col("c_acctbal").cast(DoubleType) / 1000.0).as("bal_band"))
        .agg(count(lit(1)).as("k"))
      classes
        .groupBy(
          when(col("k") === 1, "k=1")
            .when(col("k") < 5, "k=2-4")
            .when(col("k") < 10, "k=5-9")
            .otherwise("k>=10").as("k_band"))
        .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_rows"))
        .orderBy(col("k_band"))
    },
    Some("""
      WITH classes AS (
        SELECT n_name, c_mktsegment,
               floor(CAST(c_acctbal AS DOUBLE) / 1000.0) AS bal_band,
               count(*) AS k
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2, 3)
      SELECT CASE WHEN k = 1 THEN 'k=1'
                  WHEN k < 5 THEN 'k=2-4'
                  WHEN k < 10 THEN 'k=5-9'
                  ELSE 'k>=10' END AS k_band,
             count(*) AS n_classes,
             CAST(sum(k) AS BIGINT) AS n_rows
      FROM classes GROUP BY 1 ORDER BY k_band""")
  )

  /** Cross-tab independence census — observed vs expected counts and
    * standardized (Pearson) residuals for every observed
    * nation × market-segment cell: the contingency-table analysis
    * behind "is segment mix independent of geography", reported
    * CELL-LEVEL (the heat-map surface) rather than as one chi²
    * scalar, because per-cell arithmetic is a fixed IEEE expression
    * per row — deterministic on both engines — while a 125-term
    * double sum is not. Expected counts build from exact BIGINT
    * marginals (row total × column total, one division at the end).
    * Scale shape: one keyed aggregate to the cell census (the 25-row
    * nation dim broadcasts), then marginals via window sums OVER THE
    * CELL TABLE (bounded by |nations|×|segments|, never data-sized) —
    * the unpartitioned total window is a 125-row frame, not a scan.
    */
  val chisq = Q(
    "q_chisq",
    (s, dir) => {
      val obs = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("o"))
      val wr = Window.partitionBy(col("n_name"))
      val wc = Window.partitionBy(col("c_mktsegment"))
      val wAll = Window.partitionBy()
      obs
        .withColumn("rt", sum(col("o")).over(wr))
        .withColumn("ct", sum(col("o")).over(wc))
        .withColumn("n", sum(col("o")).over(wAll))
        .select(col("n_name"), col("c_mktsegment"), col("o"),
          round((col("rt") * col("ct")).cast(DoubleType)
            / col("n").cast(DoubleType), 6).as("e_r"),
          round((col("o").cast(DoubleType)
              - (col("rt") * col("ct")).cast(DoubleType) / col("n").cast(DoubleType))
            / sqrt((col("rt") * col("ct")).cast(DoubleType) / col("n").cast(DoubleType)), 6)
            .as("resid_r"))
        .orderBy(col("n_name"), col("c_mktsegment"))
    },
    Some("""
      WITH obs AS (
        SELECT n_name, c_mktsegment, count(*) AS o
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
      m AS (
        SELECT n_name, c_mktsegment, o,
               sum(o) OVER (PARTITION BY n_name) AS rt,
               sum(o) OVER (PARTITION BY c_mktsegment) AS ct,
               sum(o) OVER () AS n
        FROM obs)
      SELECT n_name, c_mktsegment, o,
             round(CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE), 6) AS e_r,
             round((CAST(o AS DOUBLE)
                    - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
                   / sqrt(CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)), 6)
               AS resid_r
      FROM m ORDER BY n_name, c_mktsegment""")
  )

  /** Cramér's V — the normalized [0,1] association scalar on top of
    * [[chisq]]'s cell census (chi² itself, then
    * V = sqrt(chi² / (n·min(r−1, c−1)))). The 125-term chi² sum the
    * cell-level query deliberately avoids becomes deterministic here
    * via the q_entropy idiom: each cell's (o−e)²/e is rounded to 9 dp
    * and summed in DECIMAL, so aggregation order cannot perturb it.
    * The census is completed to the FULL r×c grid before the term sum
    * (marginal-domain cross join, observed counts left-joined with
    * o = 0): an empty cell contributes (0−e)²/e = e, which the
    * observed-cells-only sum silently dropped — understating chi² and
    * V on sparse tables (r09 advisor finding; this corpus occupies
    * all 125 cells, so the completion is a semantics fix, not a
    * value change). Domains come from the observed marginals, so
    * all-zero rows/columns (e = 0, term 0/0) cannot arise. Same scale
    * shape as [[chisq]] / [[mutualInfo]]: one keyed cell aggregate,
    * then everything — the two distinct-domain frames, the broadcast
    * grid completion, the marginal windows — is bounded by the ≤125-
    * row cell table, never data-sized.
    */
  val cramersV = Q(
    "q_cramers_v",
    (s, dir) => {
      val obs = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("o"))
      val grid = obs.select(col("n_name")).distinct()
        .crossJoin(broadcast(obs.select(col("c_mktsegment")).distinct()))
      val full = grid.join(obs, Seq("n_name", "c_mktsegment"), "left")
        .select(col("n_name"), col("c_mktsegment"),
          coalesce(col("o"), lit(0L)).as("o"))
      val wr = Window.partitionBy(col("n_name"))
      val wc = Window.partitionBy(col("c_mktsegment"))
      val wAll = Window.partitionBy()
      full
        .withColumn("rt", sum(col("o")).over(wr))
        .withColumn("ct", sum(col("o")).over(wc))
        .withColumn("n", sum(col("o")).over(wAll))
        .selectExpr("n_name", "c_mktsegment", "n",
          """CAST(round(pow(CAST(o AS DOUBLE)
               - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE), 2e0)
             / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)), 9)
             AS DECIMAL(28,9)) AS term""")
        .groupBy()
        .agg(max(col("n")).as("n"),
          countDistinct(col("n_name")).as("r"),
          countDistinct(col("c_mktsegment")).as("c"),
          sum(col("term")).as("chi2"))
        .selectExpr("n", "r", "c",
          "CAST(round(chi2, 6) AS DOUBLE) AS chi2_r",
          """round(sqrt(CAST(chi2 AS DOUBLE)
             / (CAST(n AS DOUBLE) * least(r - 1, c - 1))), 6) AS v_r""")
    },
    Some("""
      WITH obs AS (
        SELECT n_name, c_mktsegment, count(*) AS o
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
      grid AS (
        SELECT rr.n_name, cc.c_mktsegment
        FROM (SELECT DISTINCT n_name FROM obs) rr
        CROSS JOIN (SELECT DISTINCT c_mktsegment FROM obs) cc),
      fullgrid AS (
        SELECT g.n_name, g.c_mktsegment, COALESCE(ob.o, 0) AS o
        FROM grid g LEFT JOIN obs ob
          ON g.n_name = ob.n_name AND g.c_mktsegment = ob.c_mktsegment),
      m AS (
        SELECT n_name, c_mktsegment, o,
               sum(o) OVER (PARTITION BY n_name) AS rt,
               sum(o) OVER (PARTITION BY c_mktsegment) AS ct,
               sum(o) OVER () AS n
        FROM fullgrid),
      terms AS (
        SELECT n_name, c_mktsegment, n,
               CAST(round(pow(CAST(o AS DOUBLE)
                   - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE), 2e0)
                 / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)), 9)
                 AS DECIMAL(28,9)) AS term
        FROM m),
      tot AS (
        SELECT CAST(max(n) AS BIGINT) AS n,
               CAST(count(DISTINCT n_name) AS BIGINT) AS r,
               CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS c,
               sum(term) AS chi2
        FROM terms)
      SELECT n, r, c,
             CAST(round(chi2, 6) AS DOUBLE) AS chi2_r,
             round(sqrt(CAST(chi2 AS DOUBLE)
               / (CAST(n AS DOUBLE) * least(r - 1, c - 1))), 6) AS v_r
      FROM tot""")
  )

  /** One-pass correlation MATRIX — Pearson r for every pair of the
    * four lineitem measures (quantity, price, discount, tax) from a
    * SINGLE aggregate: all 14 power sums (4 sums, 4 squares, 6 cross
    * products) accumulate in one scan, then each of the 6 output rows
    * is one fixed IEEE expression — the multivariate extension of
    * q_corr's single pair, and the multi-metric EDA pass a feature
    * pipeline runs before training. Determinism: measures become
    * exact integer CENTS first, sums ride DECIMAL(38,0) (the products
    * reach ~1e14 per row — BIGINT sums would overflow at scale;
    * DuckDB's HUGEINT matches), and doubles appear only in the final
    * per-row division. Scale shape: one partial+final aggregate to a
    * single row; the matrix unpivot is 6 rows of arithmetic.
    */
  val corrMatrix = Q(
    "q_corr_matrix",
    (s, dir) => {
      val cents = Map(
        "q" -> (col("l_quantity") * 100).cast(DecimalType(38, 0)),
        "p" -> (col("l_extendedprice") * 100).cast(DecimalType(38, 0)),
        "d" -> (col("l_discount") * 100).cast(DecimalType(38, 0)),
        "t" -> (col("l_tax") * 100).cast(DecimalType(38, 0)))
      val names = Seq("q", "p", "d", "t")
      val pairs = for {
        i <- names.indices; j <- names.indices if i < j
      } yield (names(i), names(j))
      val sums =
        count(lit(1)).as("n") +:
        names.map(v => sum(cents(v)).as(s"s_$v")) ++:
        names.map(v => sum(cents(v) * cents(v)).as(s"s_${v}_$v")) ++:
        pairs.map { case (a, b) => sum(cents(a) * cents(b)).as(s"s_${a}_$b") }
      def corr(a: String, b: String) =
        round((col("n") * col(s"s_${a}_$b") - col(s"s_$a") * col(s"s_$b"))
            .cast(DoubleType)
          / sqrt((col("n") * col(s"s_${a}_$a") - col(s"s_$a") * col(s"s_$a"))
              .cast(DoubleType)
            * (col("n") * col(s"s_${b}_$b") - col(s"s_$b") * col(s"s_$b"))
              .cast(DoubleType)), 6)
      val long = Map("q" -> "quantity", "p" -> "extendedprice",
        "d" -> "discount", "t" -> "tax")
      t(s, dir, "lineitem")
        .agg(sums.head, sums.tail: _*)
        .select(pairs.map { case (a, b) =>
          struct(lit(long(a)).as("x"), lit(long(b)).as("y"),
            corr(a, b).as("corr_r")).as(s"$a$b")
        }: _*)
        .select(explode(array(pairs.map { case (a, b) => col(s"$a$b") }: _*))
          .as("c"))
        .select(col("c.x"), col("c.y"), col("c.corr_r"))
        .orderBy(col("x"), col("y"))
    },
    Some("""
      WITH c AS (
        SELECT CAST(l_quantity * 100 AS HUGEINT) AS q,
               CAST(l_extendedprice * 100 AS HUGEINT) AS p,
               CAST(l_discount * 100 AS HUGEINT) AS d,
               CAST(l_tax * 100 AS HUGEINT) AS t
        FROM lineitem),
      m AS (
        SELECT count(*) AS n,
               sum(q) AS s_q, sum(p) AS s_p, sum(d) AS s_d, sum(t) AS s_t,
               sum(q*q) AS s_q_q, sum(p*p) AS s_p_p,
               sum(d*d) AS s_d_d, sum(t*t) AS s_t_t,
               sum(q*p) AS s_q_p, sum(q*d) AS s_q_d, sum(q*t) AS s_q_t,
               sum(p*d) AS s_p_d, sum(p*t) AS s_p_t, sum(d*t) AS s_d_t
        FROM c),
      pairs AS (
        SELECT 'quantity' AS x, 'extendedprice' AS y,
               round(CAST(n*s_q_p - s_q*s_p AS DOUBLE)
                 / sqrt(CAST(n*s_q_q - s_q*s_q AS DOUBLE)
                        * CAST(n*s_p_p - s_p*s_p AS DOUBLE)), 6) AS corr_r
        FROM m
        UNION ALL SELECT 'quantity', 'discount',
               round(CAST(n*s_q_d - s_q*s_d AS DOUBLE)
                 / sqrt(CAST(n*s_q_q - s_q*s_q AS DOUBLE)
                        * CAST(n*s_d_d - s_d*s_d AS DOUBLE)), 6) FROM m
        UNION ALL SELECT 'quantity', 'tax',
               round(CAST(n*s_q_t - s_q*s_t AS DOUBLE)
                 / sqrt(CAST(n*s_q_q - s_q*s_q AS DOUBLE)
                        * CAST(n*s_t_t - s_t*s_t AS DOUBLE)), 6) FROM m
        UNION ALL SELECT 'extendedprice', 'discount',
               round(CAST(n*s_p_d - s_p*s_d AS DOUBLE)
                 / sqrt(CAST(n*s_p_p - s_p*s_p AS DOUBLE)
                        * CAST(n*s_d_d - s_d*s_d AS DOUBLE)), 6) FROM m
        UNION ALL SELECT 'extendedprice', 'tax',
               round(CAST(n*s_p_t - s_p*s_t AS DOUBLE)
                 / sqrt(CAST(n*s_p_p - s_p*s_p AS DOUBLE)
                        * CAST(n*s_t_t - s_t*s_t AS DOUBLE)), 6) FROM m
        UNION ALL SELECT 'discount', 'tax',
               round(CAST(n*s_d_t - s_d*s_t AS DOUBLE)
                 / sqrt(CAST(n*s_d_d - s_d*s_d AS DOUBLE)
                        * CAST(n*s_t_t - s_t*s_t AS DOUBLE)), 6) FROM m)
      SELECT x, y, corr_r FROM pairs ORDER BY x, y""")
  )

  /** The label "placed 12+ orders": one row per such customer
    * (`o_custkey`, `is_pos` = 1), left-joined onto customers by the
    * classifier-evaluation queries below.
    */
  private def posKeys(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 12)
      .select(col("o_custkey"))
      .withColumn("is_pos", lit(1L))

  /** Exact distributed ROC-AUC — scores customers by account balance
    * against the label "placed 12+ orders" (a balanced split at every
    * SF — a date-cut label degenerates to all-positive on small SFs), computed as the exact
    * Mann-Whitney rank statistic WITHOUT a global per-row ranking:
    * rows collapse to score GROUPS (value-domain-bounded, the hourly-
    * census argument), a running negative count over the ascending
    * group series gives each group's pairs-won, and midrank tie
    * handling falls out by counting within-group pos/neg pairs at
    * half weight — the ×2 integer trick keeps every term integral
    * until the single final division. Sums ride DECIMAL(38,0):
    * n_pos × cum_neg products reach ~1e20 at 100 TB row counts,
    * past BIGINT (DuckDB's HUGEINT matches). Cents conversion uses
    * round-then-cast so both engines bucket identical scores.
    */
  val auc = Q(
    "q_auc",
    (s, dir) => {
      val scored = t(s, dir, "customer")
        .select(col("c_custkey"),
          round(col("c_acctbal") * 100, 0).cast(LongType).as("score"))
        .join(posKeys(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .select(col("score"), coalesce(col("is_pos"), lit(0L)).as("y"))
      val groups = scored.groupBy(col("score"))
        .agg(sum(col("y")).as("n_pos"),
          (count(lit(1)) - sum(col("y"))).as("n_neg"))
      val below = Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
      groups
        .withColumn("cb", coalesce(sum(col("n_neg")).over(below), lit(0L)))
        .agg(
          sum(col("n_pos")).as("n1"), sum(col("n_neg")).as("n0"),
          sum(col("n_pos").cast(DecimalType(38, 0))
            * (lit(2) * col("cb") + col("n_neg")).cast(DecimalType(38, 0))).as("num2"))
        .select(col("n1").as("n_pos"), col("n0").as("n_neg"),
          round(col("num2").cast(DoubleType)
            / (lit(2) * col("n1") * col("n0")).cast(DoubleType), 6).as("auc_r"))
    },
    Some("""
      WITH pos AS (
        SELECT o_custkey FROM orders
        GROUP BY 1 HAVING count(*) >= 12),
      s AS (
        SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS score,
               CASE WHEN p.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
        FROM customer c LEFT JOIN pos p ON c_custkey = o_custkey),
      g AS (
        SELECT score, CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(count(*) - sum(y) AS BIGINT) AS n_neg
        FROM s GROUP BY 1),
      w AS (
        SELECT n_pos, n_neg,
               COALESCE(sum(n_neg) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM g),
      m AS (
        SELECT CAST(sum(n_pos) AS BIGINT) AS n1,
               CAST(sum(n_neg) AS BIGINT) AS n0,
               sum(CAST(n_pos AS HUGEINT) * (2 * cb + n_neg)) AS num2
        FROM w)
      SELECT n1 AS n_pos, n0 AS n_neg,
             round(CAST(num2 AS DOUBLE)
               / CAST(2 * CAST(n1 AS HUGEINT) * n0 AS DOUBLE), 6) AS auc_r
      FROM m""")
  )

  /** Decile lift/gains table — the campaign-targeting evaluation that
    * complements q_auc's single number: rank customers into score
    * deciles by exact percentile cutoffs (the q_rfm broadcast-cutoff
    * idiom — never a global ntile window over the rows), then report
    * each decile's response rate, lift over the base rate, and
    * cumulative gain from the top. All counts are exact integers from
    * ONE per-decile census; rates/lift/gain are per-row IEEE
    * divisions over window sums of the 10-row decile table.
    */
  val decileLift = Q(
    "q_decile_lift",
    (s, dir) => {
      val scored = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal").cast(DoubleType).as("score"))
        .join(posKeys(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .select(col("score"), coalesce(col("is_pos"), lit(0L)).as("y"))
      val cuts = scored.groupBy().agg(
        expr("percentile(score, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
          .as("cs"))
      val bucketed = scored.crossJoin(broadcast(cuts))
        .select(col("y"),
          (lit(1) + (1 to 9).map(i =>
            when(col("score") > element_at(col("cs"), i), 1).otherwise(0))
            .reduce(_ + _)).cast(LongType).as("decile"))
      val census = bucketed.groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
      val wAll = Window.partitionBy()
      val wTop = Window.orderBy(col("decile").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      census
        .withColumn("tn", sum(col("n")).over(wAll))
        .withColumn("tp", sum(col("n_pos")).over(wAll))
        .withColumn("cp", sum(col("n_pos")).over(wTop))
        .select(col("decile"), col("n"), col("n_pos"),
          round(col("n_pos").cast(DoubleType) / col("n").cast(DoubleType), 6)
            .as("rate_r"),
          round((col("n_pos").cast(DoubleType) / col("n").cast(DoubleType))
            / (col("tp").cast(DoubleType) / col("tn").cast(DoubleType)), 6)
            .as("lift_r"),
          round(col("cp").cast(DoubleType) / col("tp").cast(DoubleType), 6)
            .as("cum_gain_r"))
        .orderBy(col("decile").desc)
    },
    Some("""
      WITH pos AS (
        SELECT o_custkey FROM orders
        GROUP BY 1 HAVING count(*) >= 12),
      s AS (
        SELECT CAST(c_acctbal AS DOUBLE) AS score,
               CASE WHEN p.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
        FROM customer c LEFT JOIN pos p ON c_custkey = o_custkey),
      cuts AS (
        SELECT quantile_cont(score,
          [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
        FROM s),
      b AS (
        SELECT y, CAST(1
          + CASE WHEN score > cs[1] THEN 1 ELSE 0 END
          + CASE WHEN score > cs[2] THEN 1 ELSE 0 END
          + CASE WHEN score > cs[3] THEN 1 ELSE 0 END
          + CASE WHEN score > cs[4] THEN 1 ELSE 0 END
          + CASE WHEN score > cs[5] THEN 1 ELSE 0 END
          + CASE WHEN score > cs[6] THEN 1 ELSE 0 END
          + CASE WHEN score > cs[7] THEN 1 ELSE 0 END
          + CASE WHEN score > cs[8] THEN 1 ELSE 0 END
          + CASE WHEN score > cs[9] THEN 1 ELSE 0 END AS BIGINT) AS decile
        FROM s CROSS JOIN cuts),
      census AS (
        SELECT decile, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos
        FROM b GROUP BY 1),
      m AS (
        SELECT decile, n, n_pos,
               sum(n) OVER () AS tn, sum(n_pos) OVER () AS tp,
               sum(n_pos) OVER (ORDER BY decile DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
        FROM census)
      SELECT decile, n, n_pos,
             round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate_r,
             round((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)), 6) AS lift_r,
             round(CAST(cp AS DOUBLE) / CAST(tp AS DOUBLE), 6) AS cum_gain_r
      FROM m ORDER BY decile DESC""")
  )

  /** Population stability index — the drift monitor every deployed
    * model/feature pipeline runs between a baseline window and a
    * serving window: bucket the serving distribution by the
    * BASELINE's decile cutoffs (the q_rfm broadcast-cutoff idiom) and
    * report each bucket's share shift and PSI term. Output is
    * PER-BUCKET (the drill-down surface, and each row is one fixed
    * IEEE expression — a 10-term double sum is the thing the oracle
    * compare can't trust); the conventional Σ and its 0.1/0.25 alarm
    * thresholds are one trivial consumer-side fold. Buckets empty in
    * the serving window yield NULL (ln(p/0) is the monitor's
    * "distribution collapsed" signal, not a number). Scale shape: one
    * percentile aggregate over the baseline, broadcast back; ONE scan
    * of both windows with map-side CASE bucketing; a 10-row census
    * whose totals are window sums over that census.
    */
  val psi = Q(
    "q_psi",
    (s, dir) => {
      val t0 = ts("1995-01-01"); val t1 = ts("1997-01-01"); val t2 = ts("1999-01-01")
      val base = t(s, dir, "orders")
        .filter(col("o_orderdate") >= t0 && col("o_orderdate") < t1)
        .select(col("o_totalprice").cast(DoubleType).as("x"))
      val cuts = base.groupBy().agg(
        expr("percentile(x, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
          .as("cs"))
      val both = t(s, dir, "orders")
        .filter(col("o_orderdate") >= t0 && col("o_orderdate") < t2)
        .select(col("o_totalprice").cast(DoubleType).as("x"),
          (col("o_orderdate") >= t1).cast(LongType).as("tgt"))
      val census = both.crossJoin(broadcast(cuts))
        .select(col("tgt"),
          (lit(1) + (1 to 9).map(i =>
            when(col("x") > element_at(col("cs"), i), 1).otherwise(0))
            .reduce(_ + _)).cast(LongType).as("bucket"))
        .groupBy(col("bucket"))
        .agg((count(lit(1)) - sum(col("tgt"))).as("n_base"),
          sum(col("tgt")).as("n_tgt"))
      val wAll = Window.partitionBy()
      census
        .withColumn("tb", sum(col("n_base")).over(wAll))
        .withColumn("tt", sum(col("n_tgt")).over(wAll))
        .select(col("bucket"), col("n_base"), col("n_tgt"),
          round(col("n_base").cast(DoubleType) / col("tb").cast(DoubleType), 6)
            .as("p_r"),
          round(col("n_tgt").cast(DoubleType) / col("tt").cast(DoubleType), 6)
            .as("q_r"),
          when(col("n_base") === 0 || col("n_tgt") === 0, lit(null))
            .otherwise(round(
              (col("n_base").cast(DoubleType) / col("tb").cast(DoubleType)
                - col("n_tgt").cast(DoubleType) / col("tt").cast(DoubleType))
              * log((col("n_base").cast(DoubleType) / col("tb").cast(DoubleType))
                / (col("n_tgt").cast(DoubleType) / col("tt").cast(DoubleType))), 6))
            .as("psi_r"))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH base AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'),
      cuts AS (
        SELECT quantile_cont(x,
          [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
        FROM base),
      b AS (
        SELECT CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                    THEN 1 ELSE 0 END AS tgt,
               CAST(1
          + CASE WHEN CAST(o_totalprice AS DOUBLE) > cs[1] THEN 1 ELSE 0 END
          + CASE WHEN CAST(o_totalprice AS DOUBLE) > cs[2] THEN 1 ELSE 0 END
          + CASE WHEN CAST(o_totalprice AS DOUBLE) > cs[3] THEN 1 ELSE 0 END
          + CASE WHEN CAST(o_totalprice AS DOUBLE) > cs[4] THEN 1 ELSE 0 END
          + CASE WHEN CAST(o_totalprice AS DOUBLE) > cs[5] THEN 1 ELSE 0 END
          + CASE WHEN CAST(o_totalprice AS DOUBLE) > cs[6] THEN 1 ELSE 0 END
          + CASE WHEN CAST(o_totalprice AS DOUBLE) > cs[7] THEN 1 ELSE 0 END
          + CASE WHEN CAST(o_totalprice AS DOUBLE) > cs[8] THEN 1 ELSE 0 END
          + CASE WHEN CAST(o_totalprice AS DOUBLE) > cs[9] THEN 1 ELSE 0 END
          AS BIGINT) AS bucket
        FROM orders CROSS JOIN cuts
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1999-01-01'),
      census AS (
        SELECT bucket, CAST(count(*) - sum(tgt) AS BIGINT) AS n_base,
               CAST(sum(tgt) AS BIGINT) AS n_tgt
        FROM b GROUP BY 1),
      m AS (
        SELECT bucket, n_base, n_tgt,
               sum(n_base) OVER () AS tb, sum(n_tgt) OVER () AS tt
        FROM census)
      SELECT bucket, n_base, n_tgt,
             round(CAST(n_base AS DOUBLE) / CAST(tb AS DOUBLE), 6) AS p_r,
             round(CAST(n_tgt AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS q_r,
             CASE WHEN n_base = 0 OR n_tgt = 0 THEN NULL
                  ELSE round((CAST(n_base AS DOUBLE) / CAST(tb AS DOUBLE)
                              - CAST(n_tgt AS DOUBLE) / CAST(tt AS DOUBLE))
                    * ln((CAST(n_base AS DOUBLE) / CAST(tb AS DOUBLE))
                       / (CAST(n_tgt AS DOUBLE) / CAST(tt AS DOUBLE))), 6)
             END AS psi_r
      FROM m ORDER BY bucket""")
  )

  /** Exact two-sample Kolmogorov–Smirnov statistic between the same
    * two order-price windows as q_psi — the nonparametric "did the
    * distribution shift" test, computed ENTIRELY in integers: rows
    * collapse to cent-valued score groups, running per-sample counts
    * give both empirical CDFs, and the sup is the argmax of
    * |cb·tt − ct·tb| — cross-multiplied so no fraction is ever
    * compared. The single division (and the only double) happens on
    * the one winning row. Product magnitudes reach ~1e20 at 100 TB
    * row counts, so the cross terms ride DECIMAL(38,0) (DuckDB
    * HUGEINT). Argmax ties break on the lowest score; TakeOrdered,
    * never a global sort.
    */
  val ks = Q(
    "q_ks",
    (s, dir) => {
      val t0 = ts("1995-01-01"); val t1 = ts("1997-01-01"); val t2 = ts("1999-01-01")
      val census = t(s, dir, "orders")
        .filter(col("o_orderdate") >= t0 && col("o_orderdate") < t2)
        .select(round(col("o_totalprice") * 100, 0).cast(LongType).as("score"),
          (col("o_orderdate") >= t1).cast(LongType).as("tgt"))
        .groupBy(col("score"))
        .agg((count(lit(1)) - sum(col("tgt"))).as("nb"), sum(col("tgt")).as("nt"))
      val w = Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      census
        .withColumn("cb", sum(col("nb")).over(w))
        .withColumn("ct", sum(col("nt")).over(w))
        .withColumn("tb", sum(col("nb")).over(wAll))
        .withColumn("tt", sum(col("nt")).over(wAll))
        .select(col("score"), col("tb"), col("tt"),
          abs(col("cb").cast(DecimalType(38, 0)) * col("tt")
            - col("ct").cast(DecimalType(38, 0)) * col("tb")).as("d_num"))
        .orderBy(col("d_num").desc, col("score"))
        .limit(1)
        .select(
          round(col("score").cast(DoubleType) / 100.0, 2).as("at_price"),
          col("tb").as("n_base"), col("tt").as("n_tgt"),
          round(col("d_num").cast(DoubleType)
            / (col("tb").cast(DecimalType(38, 0)) * col("tt")).cast(DoubleType), 6)
            .as("ks_r"))
    },
    Some("""
      WITH s AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS score,
               CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                    THEN 1 ELSE 0 END AS tgt
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1999-01-01'),
      g AS (
        SELECT score, CAST(count(*) - sum(tgt) AS BIGINT) AS nb,
               CAST(sum(tgt) AS BIGINT) AS nt
        FROM s GROUP BY 1),
      c AS (
        SELECT score,
               sum(nb) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
               sum(nt) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
               sum(nb) OVER () AS tb, sum(nt) OVER () AS tt
        FROM g),
      d AS (
        SELECT score, tb, tt,
               abs(CAST(cb AS HUGEINT) * tt - CAST(ct AS HUGEINT) * tb) AS d_num
        FROM c
        ORDER BY d_num DESC, score LIMIT 1)
      SELECT round(CAST(score AS DOUBLE) / 100.0, 2) AS at_price,
             CAST(tb AS BIGINT) AS n_base, CAST(tt AS BIGINT) AS n_tgt,
             round(CAST(d_num AS DOUBLE)
               / CAST(CAST(tb AS HUGEINT) * tt AS DOUBLE), 6) AS ks_r
      FROM d""")
  )

  /** Exact 1-D Wasserstein distance (earth mover's) between the q_ks
    * windows — the drift MAGNITUDE companion to q_ks's max deviation:
    * how many dollars would move, on average, to turn the baseline
    * price distribution into the serving one. In one dimension
    * EMD = ∫|CDF₁ − CDF₂|, which discretizes over cent score groups
    * as Σ |cb·tt − ct·tb| · gap — every term an exact integer
    * (cross-multiplied CDFs × the gap to the next score), summed in
    * DECIMAL(38,0), ONE division at the end. Unlike q_psi's
    * transcendental terms this statistic is bit-exact end to end.
    * Same scale shape as q_ks: census + bounded-series windows.
    */
  val emd = Q(
    "q_emd",
    (s, dir) => {
      val t0 = ts("1995-01-01"); val t1 = ts("1997-01-01"); val t2 = ts("1999-01-01")
      val census = t(s, dir, "orders")
        .filter(col("o_orderdate") >= t0 && col("o_orderdate") < t2)
        .select(round(col("o_totalprice") * 100, 0).cast(LongType).as("score"),
          (col("o_orderdate") >= t1).cast(LongType).as("tgt"))
        .groupBy(col("score"))
        .agg((count(lit(1)) - sum(col("tgt"))).as("nb"), sum(col("tgt")).as("nt"))
      val bySc = Window.orderBy(col("score"))
      val w = bySc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      census
        .withColumn("cb", sum(col("nb")).over(w))
        .withColumn("ct", sum(col("nt")).over(w))
        .withColumn("tb", sum(col("nb")).over(wAll))
        .withColumn("tt", sum(col("nt")).over(wAll))
        .withColumn("gap", lead(col("score"), 1).over(bySc) - col("score"))
        .filter(col("gap").isNotNull)
        .agg(
          max(col("tb")).as("n_base"), max(col("tt")).as("n_tgt"),
          sum(abs(col("cb").cast(DecimalType(38, 0)) * col("tt")
              - col("ct").cast(DecimalType(38, 0)) * col("tb")) * col("gap"))
            .as("mass"))
        .select(col("n_base"), col("n_tgt"),
          round(col("mass").cast(DoubleType)
            / (col("n_base").cast(DecimalType(38, 0)) * col("n_tgt"))
              .cast(DoubleType) / 100.0, 4).as("emd_dollars_r"))
    },
    Some("""
      WITH s AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS score,
               CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                    THEN 1 ELSE 0 END AS tgt
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1999-01-01'),
      g AS (
        SELECT score, CAST(count(*) - sum(tgt) AS BIGINT) AS nb,
               CAST(sum(tgt) AS BIGINT) AS nt
        FROM s GROUP BY 1),
      c AS (
        SELECT score,
               sum(nb) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
               sum(nt) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
               sum(nb) OVER () AS tb, sum(nt) OVER () AS tt,
               lead(score, 1) OVER (ORDER BY score) - score AS gap
        FROM g),
      m AS (
        SELECT CAST(max(tb) AS BIGINT) AS n_base,
               CAST(max(tt) AS BIGINT) AS n_tgt,
               sum(abs(CAST(cb AS HUGEINT) * tt - CAST(ct AS HUGEINT) * tb)
                   * gap) AS mass
        FROM c WHERE gap IS NOT NULL)
      SELECT n_base, n_tgt,
             round(CAST(mass AS DOUBLE)
               / CAST(CAST(n_base AS HUGEINT) * n_tgt AS DOUBLE) / 100.0, 4)
               AS emd_dollars_r
      FROM m""")
  )

  /** Kaplan–Meier survival curve for repeat purchase — "how long from
    * a customer's first order to their second", with customers who
    * never reorder CENSORED at the snapshot date instead of dropped
    * (the thing a naive average-gap query gets wrong, and the churn
    * curve a retention team actually reads). The KM product
    * ∏(1 − dᵢ/nᵢ) is sequential by definition; it distributes as
    * exp(Σ ln(1 − dᵢ/nᵢ)) with each ln term ROUNDED to 9 decimals
    * before the cumulative sum — the q_entropy determinism idiom, so
    * both engines add identical quantized terms in the same window
    * order. Risk counts are exact integers from one duration census
    * (n_at_risk via running sums — nobody sorts raw orders); the
    * curve is duration-domain-bounded. If the last at-risk customer
    * reorders, that point's survival is exactly 0 (ln guarded NULL,
    * handled as a terminal zero, not -inf).
    */
  val survival = Q(
    "q_survival",
    (s, dir) => {
      val snap = lit("1998-08-02").cast("date")
      // first + second order dates in one pass: per-customer rank,
      // keep ranks 1-2, re-aggregate — one o_custkey exchange
      val w2 = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"),
        col("o_orderkey"))
      val firstSecond = t(s, dir, "orders")
        .withColumn("rn", row_number().over(w2))
        .filter(col("rn") <= 2)
        .groupBy(col("o_custkey"))
        .agg(to_date(min(col("o_orderdate"))).as("t1"),
          to_date(max(when(col("rn") === 2, col("o_orderdate")))).as("t2"))
      val durations = firstSecond.select(
        when(col("t2").isNotNull, datediff(col("t2"), col("t1")))
          .otherwise(datediff(snap, col("t1"))).cast(LongType).as("d"),
        col("t2").isNotNull.cast(LongType).as("event"))
      val census = durations.groupBy(col("d"))
        .agg(count(lit(1)).as("n"), sum(col("event")).as("ev"))
      val byD = Window.orderBy(col("d"))
      val before = byD.rowsBetween(Window.unboundedPreceding, -1)
      val upTo = byD.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      census
        .withColumn("n_risk",
          sum(col("n")).over(wAll) - coalesce(sum(col("n")).over(before), lit(0L)))
        .filter(col("ev") > 0)
        .withColumn("lnterm",
          when(col("ev") === col("n_risk"), lit(null))
            .otherwise(round(log(lit(1.0)
              - col("ev").cast(DoubleType) / col("n_risk").cast(DoubleType)), 9)))
        .withColumn("surv_r",
          when(max(col("ev") === col("n_risk")).over(upTo), lit(0.0))
            .otherwise(round(exp(sum(col("lnterm")).over(upTo)), 6)))
        .select(col("d").as("duration_days"), col("n_risk"),
          col("ev").as("n_events"), col("surv_r"))
        .orderBy(col("duration_days"))
    },
    Some("""
      WITH ranked AS (
        SELECT o_custkey, o_orderdate,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders),
      fs AS (
        SELECT o_custkey,
               CAST(min(o_orderdate) AS DATE) AS t1,
               CAST(max(CASE WHEN rn = 2 THEN o_orderdate END) AS DATE) AS t2
        FROM ranked WHERE rn <= 2 GROUP BY 1),
      dur AS (
        SELECT CASE WHEN t2 IS NOT NULL
                    THEN date_diff('day', t1, t2)
                    ELSE date_diff('day', t1, DATE '1998-08-02') END AS d,
               CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END AS event
        FROM fs),
      census AS (
        SELECT CAST(d AS BIGINT) AS d, count(*) AS n,
               CAST(sum(event) AS BIGINT) AS ev
        FROM dur GROUP BY 1),
      risk AS (
        SELECT d, ev,
               sum(n) OVER () - COALESCE(sum(n) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n_risk
        FROM census),
      terms AS (
        SELECT d, n_risk, ev,
               CASE WHEN ev = n_risk THEN NULL
                    ELSE round(ln(1.0 - CAST(ev AS DOUBLE)
                                      / CAST(n_risk AS DOUBLE)), 9)
               END AS lnterm
        FROM risk WHERE ev > 0),
      curve AS (
        SELECT d, n_risk, ev,
               CASE WHEN max(CASE WHEN ev = n_risk THEN 1 ELSE 0 END)
                      OVER (ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                    THEN 0.0
                    ELSE round(exp(sum(lnterm) OVER (ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
               END AS surv_r
        FROM terms)
      SELECT d AS duration_days, CAST(n_risk AS BIGINT) AS n_risk,
             ev AS n_events, surv_r
      FROM curve ORDER BY duration_days""")
  )

  /** Cohort LTV triangle — cumulative revenue per acquisition cohort
    * by customer age: cohort = month of a customer's FIRST order, age
    * = months since, cell = exact cohort revenue at that age plus its
    * running cumulation. The revenue twin of q_retention (which counts
    * surviving users): this is the payback/LTV curve finance reads.
    * Age uses exact month arithmetic (year*12+month deltas on the
    * truncated dates), revenue stays DECIMAL through the cell
    * aggregate AND the cumulative window, so every cell is exact.
    * Scale shape: one per-customer first-order aggregate (co-keyed
    * with the fact join on o_custkey), one (cohort, age) cell
    * aggregate, and the cumulation window partitions on cohort with
    * cell-table-sized frames — months², never order-count.
    */
  val ltv = Q(
    "q_ltv",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_custkey"),
          to_date(date_trunc("month", col("o_orderdate"))).as("m"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("rev"))
      // cohort via an unordered per-customer window-min, NOT agg+join:
      // the facts shuffle once on o_custkey and stay put — no second
      // exchange pair to co-partition a cohort dim back in
      val cells = o
        .withColumn("cm",
          min(col("m")).over(Window.partitionBy(col("o_custkey"))))
        .groupBy(col("cm"),
          ((year(col("m")) - year(col("cm"))) * 12
            + (month(col("m")) - month(col("cm")))).cast(LongType).as("age"))
        .agg(sum(col("rev")).as("rev"), countDistinct(col("o_custkey")).as("n_buyers"))
      val w = Window.partitionBy(col("cm")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .select(date_format(col("cm"), "yyyy-MM-dd").as("cohort_month"),
          col("age"), col("n_buyers"),
          col("rev").cast(DoubleType).as("revenue"),
          sum(col("rev")).over(w).cast(DoubleType).as("cum_revenue"))
        .orderBy(col("cohort_month"), col("age"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               CAST(o_totalprice AS DECIMAL(18,2)) AS rev
        FROM orders),
      c AS (SELECT o_custkey, min(m) AS cm FROM o GROUP BY 1),
      cells AS (
        SELECT cm,
               CAST((EXTRACT(YEAR FROM m) - EXTRACT(YEAR FROM cm)) * 12
                    + (EXTRACT(MONTH FROM m) - EXTRACT(MONTH FROM cm))
                    AS BIGINT) AS age,
               sum(rev) AS rev, count(DISTINCT o.o_custkey) AS n_buyers
        FROM o JOIN c USING (o_custkey)
        GROUP BY 1, 2)
      SELECT strftime(cm, '%Y-%m-%d') AS cohort_month, age, n_buyers,
             CAST(rev AS DOUBLE) AS revenue,
             CAST(sum(rev) OVER (PARTITION BY cm ORDER BY age
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS cum_revenue
      FROM cells ORDER BY cohort_month, age""")
  )

  /** Sort-merge equi-join — fact⋈fact (lineitem⋈orders): both sides
    * grow with SF, so broadcast is impossible at scale; the merge hint
    * pins the plan Spark would choose there (shuffle both sides on the
    * key, sort, merge). Locally AQE would broadcast 15k orders — the
    * hint keeps the bench measuring the 100-TB-shaped plan.
    */
  val joinSmj = Q(
    "q_join_smj",
    (s, dir) => {
      val o = t(s, dir, "orders").hint("merge")
      t(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice"), 2).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n_lines,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )

  /** Left-semi join — existence check without fact duplication (the
    * relational form of the reference's id-membership test,
    * `__init__.py:532-533` kept-side). Semi joins ship only the join
    * key of the probe side — no payload shuffle.
    */
  val semiJoin = Q(
    "q_semi_join",
    (s, dir) => {
      val bigOrders = t(s, dir, "orders")
        .filter(col("o_totalprice") > 400000)
        .select(col("o_custkey"))
      t(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
      ORDER BY c_custkey""")
  )

  /** Range (theta) join — bucket assignment by value range. The bucket
    * table is tiny and broadcast, so the non-equi predicate is evaluated
    * as a broadcast nested-loop join — the correct plan when one side is
    * bounded; a band/binning column + equi-join is the rewrite when both
    * sides are large.
    */
  val rangeJoin = Q(
    "q_range_join",
    (s, dir) => {
      val buckets = t(s, dir, "region")
        .select(
          col("r_regionkey").as("bucket"),
          (col("r_regionkey") * 2000).cast(DoubleType).as("lo"),
          ((col("r_regionkey") + 1) * 2000).cast(DoubleType).as("hi"))
      t(s, dir, "customer")
        .join(
          broadcast(buckets),
          col("c_acctbal") >= col("lo") && col("c_acctbal") < col("hi"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal"), 2).as("sum_bal"))
        .orderBy(col("bucket"))
    },
    Some("""
      SELECT bucket, count(*) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer
      JOIN (SELECT r_regionkey AS bucket,
                   CAST(r_regionkey * 2000 AS DOUBLE) AS lo,
                   CAST((r_regionkey + 1) * 2000 AS DOUBLE) AS hi
            FROM region) b
        ON c_acctbal >= lo AND c_acctbal < hi
      GROUP BY bucket ORDER BY bucket""")
  )

  /** Interval-OVERLAP join between two LARGE interval sets — distinct
    * from [[rangeJoin]]'s point-in-broadcast-bucket shape: both sides
    * here are intervals and neither broadcasts at scale. The
    * distributed form is GRID BLOCKING: each interval explodes to the
    * coarse cells (months) it covers, candidates meet by cell
    * equi-join, the exact overlap predicate filters, and each pair
    * reports from exactly ONE cell — the month of its overlap start
    * (`cell == month(greatest(slo, lo))`) — the dedup-FREE form of
    * grid blocking: no pair-distinct shuffle, and right-side rows
    * that are genuine duplicates (this synthetic lineitem has no
    * unique key) count once per row, exactly like the oracle's
    * direct join. Σ per-cell work, never |L|×|R|. (The oracle runs the textbook quadratic
    * predicate join — two different algorithms, same counts.) Left
    * side: sampled order fulfilment windows (30 days); right side:
    * every lineitem's ship + 14-day delivery interval.
    */
  val intervalJoin = Q(
    "q_interval_join",
    (s, dir) => {
      val left = t(s, dir, "orders")
        .filter(col("o_orderkey") % 1000 === 0)
        .select(col("o_orderkey").as("lkey"),
          col("o_orderdate").cast("date").as("lo"),
          date_add(col("o_orderdate").cast("date"), 30).as("hi"))
      val right = t(s, dir, "lineitem")
        .select(
          col("l_shipdate").cast("date").as("slo"),
          date_add(col("l_shipdate").cast("date"), 14).as("shi"))
      def cells(lo: Column, hi: Column): Column =
        explode(sequence(
          date_trunc("month", lo), date_trunc("month", hi),
          expr("interval 1 month")))
      val lc = left.select(col("lkey"), col("lo"), col("hi"),
        cells(col("lo"), col("hi")).as("cell"))
      val rc = right.select(col("slo"), col("shi"),
        cells(col("slo"), col("shi")).as("cell"))
      lc.join(rc, Seq("cell"))
        .filter(col("slo") <= col("hi") && col("shi") >= col("lo"))
        .filter(col("cell") ===
          date_trunc("month", greatest(col("slo"), col("lo"))))
        .groupBy(col("lkey"))
        .agg(count(lit(1)).as("n_overlap"))
        .orderBy(col("lkey"))
    },
    Some("""
      WITH l AS (
        SELECT o_orderkey AS lkey,
               CAST(o_orderdate AS DATE) AS lo,
               CAST(o_orderdate AS DATE) + 30 AS hi
        FROM orders WHERE o_orderkey % 1000 = 0)
      SELECT lkey, count(*) AS n_overlap
      FROM l JOIN lineitem
        ON CAST(l_shipdate AS DATE) <= hi
       AND CAST(l_shipdate AS DATE) + 14 >= lo
      GROUP BY 1 ORDER BY 1""")
  )

  /** Exact percentiles (median + p90) per group — order statistics with
    * linear interpolation (Spark `percentile` ≡ DuckDB `quantile_cont`).
    * Deterministic: an order statistic of a fixed multiset doesn't
    * depend on aggregation order, and both engines interpolate the same
    * two neighbors. At 100 TB you'd swap in approx_percentile's
    * KLL/GK sketch (bounded memory) — same query shape. Both quantiles
    * come from ONE percentile(array(...)) aggregate: the exact
    * aggregate buffers every group value, so asking for p50 and p90
    * separately paid that buffer twice (the honest bench showed it as
    * the slowest query in the engine).
    */
  val percentile = Q(
    "q_percentile",
    (s, dir) => {
      // Two-pass RANK-WINDOW form (r13 verdict #3): the built-in exact
      // `percentile` aggregate funnels each group's full value multiset
      // (a value→count OpenHashMap) into ONE reducer task per group —
      // with 3 return flags that is 3 tasks each buffering and sorting
      // ~2M values at the sf1 tier (measured 10.6s, the engine's
      // slowest breadth query). This form replaces the per-group
      // buffer with a RANGE-PARTITIONED parallel sort (the
      // denseRankByKey idiom): range-partition by (flag, price), sort
      // within partitions, rank rows as monotonic row ids + broadcast
      // per-(partition, group) bases (fully parallel — no single-task
      // window, no second corpus exchange), then join the four
      // target order-statistic ranks per group (broadcast, derived
      // from the same bounded census) and interpolate exactly like
      // percentile/quantile_cont: pos = (n−1)·q, x_lo + (pos −
      // ⌊pos⌋)·(x_hi − x_lo) — same doubles, same IEEE ops, hash-equal
      // (selfcheck-verified at sf0.01). Measured 10.6s → 2.3s at the
      // sf1 tier (4.6×; BASELINE.md §r14); sf0.1 pays ~0.3s of fixed
      // multi-job overhead (1.56s vs the 1.23s min-ratchet budget,
      // inside the 2× gate). The plan's deepest stage is now a
      // partition-local sort of n/parts rows, so it scales with
      // executor count instead of group count. The localCheckpoint
      // pins the
      // sampled range boundaries: offsets and ranks must see the SAME
      // partitioning, or a recomputed lineage could re-sample
      // different splits between the two jobs.
      val parts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      // in-partition sort + monotonic row ids BEFORE the checkpoint:
      // within a partition `_mid` increases in (k, x) order, so the
      // per-(partition, group) rank is `_mid − min(_mid)` — no second
      // corpus-sized exchange for a rank window (RangePartitioning
      // does not satisfy a (_pid, k) window's distribution, so a
      // window here would re-shuffle all rows; measured +0.8s at sf1)
      val byRange = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("k"), col("l_extendedprice").as("x"))
        .repartitionByRange(parts, col("k"), col("x"))
        .sortWithinPartitions(col("k"), col("x"))
        .withColumn("_pid", spark_partition_id())
        .withColumn("_mid", monotonically_increasing_id())
        .localCheckpoint(true)
      // ONE bounded collect (≤ partitions × groups rows — 96 here,
      // still thousands at 1000 executors) feeds both broadcast sides:
      // per-(partition, group) rank bases and per-group target ranks —
      // driver arithmetic on a tiny census, not extra jobs
      import s.implicits._
      val cRows = byRange.groupBy(col("_pid"), col("k"))
        .agg(count(lit(1)).as("c"), min(col("_mid")).as("m"))
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      val byK = cRows.groupBy(_._2)
      // rank base per (pid, k): rows-before-this-partition − min(_mid)
      // + 1, so rn = _mid + base is the group's 1-based order statistic
      val bases = byK.toSeq.flatMap { case (kk, rs) =>
        var acc = 0L
        rs.sortBy(_._1).map { case (pid, _, c, m) =>
          val b = acc - m + 1; acc += c; (pid, kk, b)
        }
      }.toDF("_pid", "k", "_base")
      val targets = byK.toSeq.map { case (kk, rs) =>
        val n = rs.map(_._3).sum
        // pos = (n−1)·q, the same doubles `percentile`/quantile_cont
        // interpolate with (0-based; ranks below are 1-based)
        val pos50 = (n - 1) * 0.5; val pos90 = (n - 1) * 0.9
        (kk, n,
          math.floor(pos50).toLong + 1, math.ceil(pos50).toLong + 1,
          pos50 - math.floor(pos50),
          math.floor(pos90).toLong + 1, math.ceil(pos90).toLong + 1,
          pos90 - math.floor(pos90))
      }.toDF("k", "n", "lo50", "hi50", "f50", "lo90", "hi90", "f90")
      val ranked = byRange
        .join(broadcast(bases), Seq("_pid", "k"))
        .withColumn("rn", (col("_mid") + col("_base")).cast(LongType))
      ranked
        .join(broadcast(targets), Seq("k"))
        .filter(col("rn") === col("lo50") || col("rn") === col("hi50") ||
          col("rn") === col("lo90") || col("rn") === col("hi90"))
        .groupBy(col("k"))
        .agg(
          first(col("n")).as("n"),
          max(when(col("rn") === col("lo50"), col("x"))).as("x50lo"),
          max(when(col("rn") === col("hi50"), col("x"))).as("x50hi"),
          max(when(col("rn") === col("lo90"), col("x"))).as("x90lo"),
          max(when(col("rn") === col("hi90"), col("x"))).as("x90hi"),
          first(col("f50")).as("f50"),
          first(col("f90")).as("f90"))
        .select(
          col("k").as("l_returnflag"),
          (col("x50lo") + (col("x50hi") - col("x50lo")) * col("f50")).as("p50"),
          (col("x90lo") + (col("x90hi") - col("x90lo")) * col("f90")).as("p90"),
          col("n"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.5) AS p50,
             quantile_cont(l_extendedprice, 0.9) AS p90,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** Approximate percentiles — the declared 100 TB swap-in for
    * [[percentile]]: `approx_percentile`'s GK-style sketch keeps
    * BOUNDED memory per group (accuracy parameter 10000 → rank error
    * ≤ 1/10000) instead of buffering every group value the way the
    * exact order statistic must. Same query shape and output columns
    * as q_percentile, so swapping is a one-line change. Sketch
    * estimates are engine-specific (and quantile-sketch merges are
    * partial-order dependent, so estimates may wobble within the rank
    * bound across runs) — but the RANK-ERROR CONTRACT itself is
    * checkable on every run (r11 verdict #4): a GK-style sketch at
    * accuracy A returns an ELEMENT whose rank is within n/A of the
    * target — so the check is to COUNT the estimate's actual rank and
    * compare: count(x ≤ est) must reach ⌈(q − 1/A)·n⌉ − 1 and
    * count(x < est) must not exceed ⌊(q + 1/A)·n⌋ + 1 (the ±1 absorbs
    * the 0-vs-1-based / n-vs-n−1 target-rank convention, which
    * otherwise fails the check by exactly one rank at sf0.01 — the
    * sketch's own ε·n bound is what is being verified, not a rank
    * convention). That second pass is
    * a cheap conditional-count aggregation against the broadcast
    * estimates (NOT an exact order statistic, which would buffer every
    * group value and cost 5× — measured); the query emits the two rank
    * verdicts with the oracle pinning TRUE, upgrading the old
    * rows-only check to a verified error bound. The bound is the TEST,
    * the sketch is the operator.
    */
  val approxPercentile = Q(
    "q_approx_percentile",
    (s, dir) => {
      val est = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_extendedprice, array(0.5D, 0.9D), 10000)")
          .as("ps"))
        .select(col("l_returnflag"),
          element_at(col("ps"), 1).as("e50"),
          element_at(col("ps"), 2).as("e90"))
      val eps = 1.0 / 10000
      t(s, dir, "lineitem")
        .join(broadcast(est), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") <= col("e50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("l_extendedprice") < col("e50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("l_extendedprice") <= col("e90"), 1L).otherwise(0L)).as("le90"),
          sum(when(col("l_extendedprice") < col("e90"), 1L).otherwise(0L)).as("lt90"))
        .select(
          col("l_returnflag"),
          col("n"),
          (col("le50") >= ceil(col("n") * lit(0.5 - eps)) - 1 &&
            col("lt50") <= floor(col("n") * lit(0.5 + eps)) + 1)
            .as("p50_in_rank_bound"),
          (col("le90") >= ceil(col("n") * lit(0.9 - eps)) - 1 &&
            col("lt90") <= floor(col("n") * lit(0.9 + eps)) + 1)
            .as("p90_in_rank_bound"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             count(*) AS n,
             true AS p50_in_rank_bound,
             true AS p90_in_rank_bound
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** Offset + distribution window functions — lag/lead (the offset
    * family the window surface still lacked) plus percent_rank and
    * cume_dist over the same frame. One window spec → ONE exchange +
    * sort serves all four functions (pinned by the plan contract);
    * the partition key (order priority) is low-cardinality but each
    * partition is value-sorted once, which is the shape a time-series
    * delta query has at any scale. percent_rank/cume_dist are exact
    * rational divisions of the same integers on both engines, so no
    * rounding is needed; the unique orderkey sort key makes lag/lead
    * deterministic.
    */
  val windowStats = Q(
    "q_window_stats",
    (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_totalprice") > 300000)
        .select(
          col("o_orderkey"),
          col("o_orderpriority"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_orderpriority,
             lag(o_totalprice, 1) OVER w AS prev_price,
             lead(o_totalprice, 1) OVER w AS next_price,
             percent_rank() OVER w AS pr,
             cume_dist() OVER w AS cd
      FROM orders
      WHERE o_totalprice > 300000
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
      ORDER BY o_orderkey""")
  )

  /** Slowly-changing-dimension type 2 build — turn the event stream
    * into versioned dimension rows: consecutive repeats of the same
    * state collapse (lag change-detection), each surviving change
    * opens a version valid [ts, next change), and the last version per
    * user is current. THE warehouse temporal-modeling op (Kimball SCD2),
    * and the batch twin of the streaming state machine in
    * [[graft.streaming]].
    *
    * One window exchange serves both passes: the change-detection lag
    * and the valid_to lead use the SAME (user_id) partitioning and
    * (ts, event_id) sort, and the filter between them preserves both,
    * so Catalyst plans a single exchange + sort (plan-pinned: 2 with
    * the final orderBy). Validity bounds surface as epoch MICROS
    * (unix_micros / epoch_us) so the compare is integer-exact.
    */
  val scd2 = Q(
    "q_scd2",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("valid_to_ts", lead(col("ts"), 1).over(w))
        .select(
          col("user_id"),
          col("event_type"),
          col("event_id").as("version_id"),
          unix_micros(col("ts")).as("valid_from_us"),
          unix_micros(col("valid_to_ts")).as("valid_to_us"),
          col("valid_to_ts").isNull.as("is_current"))
        .orderBy(col("user_id"), col("valid_from_us"), col("version_id"))
    },
    Some("""
      WITH o AS (
        SELECT user_id, event_type, event_id, ts,
               lag(event_type) OVER w AS prev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      c AS (SELECT * FROM o WHERE prev IS NULL OR prev != event_type),
      v AS (
        SELECT user_id, event_type, event_id, ts,
               lead(ts) OVER w2 AS valid_to_ts
        FROM c
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, event_type, event_id AS version_id,
             epoch_us(ts) AS valid_from_us,
             epoch_us(valid_to_ts) AS valid_to_us,
             valid_to_ts IS NULL AS is_current
      FROM v ORDER BY user_id, valid_from_us, version_id""")
  )

  /** Shuffled-hash-join strategy control — the third physical join
    * beside broadcast ([[graft.transform.RefCoreQueries.lookupEnrich]])
    * and sort-merge ([[joinSmj]]): when the build side is too big to
    * broadcast but small enough to hash per partition, SHJ skips BOTH
    * the broadcast and the two sorts. The hint pins the strategy so a
    * planner drift can't silently reintroduce sorts; the plan contract
    * asserts ShuffledHashJoin is actually picked. Same shuffle count
    * as SMJ (both sides exchange on the key) — the win is sort
    * elimination, which at 100 TB is the difference between a hash
    * probe and spilling a terabyte-scale sort per side.
    */
  val joinShj = Q(
    "q_join_shj",
    (s, dir) =>
      t(s, dir, "orders")
        .join(
          t(s, dir, "customer").hint("SHUFFLE_HASH"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy(col("c_mktsegment")),
    Some("""
      SELECT c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  )

  /** Higher statistical moments — stddev, skewness, excess kurtosis per
    * group, EXACTLY: the four power sums Σx..Σx⁴ ride DECIMAL (order-
    * independent, overflow-checked by Spark's precision tracking), and
    * the moment formulas are evaluated over those exact sums with
    * TEXTUALLY IDENTICAL arithmetic on both engines, so the IEEE op
    * tree — and therefore every last bit before the 6dp round — agrees.
    * Built-in stddev/skewness/kurtosis aggregate doubles in partial
    * order and are NOT cross-engine deterministic; this is the same
    * dsum discipline every other float aggregate here follows, extended
    * to the 3rd and 4th moments. One hash aggregate + sort.
    */
  val moments = Q(
    "q_moments",
    (s, dir) => {
      val x = col("l_quantity").cast(DecimalType(18, 2))
      val mexpr = Seq(
        "round(s1/n, 6) AS mean_r",
        "round(sqrt(s2/n - (s1/n)*(s1/n)), 6) AS std_r",
        "round((s3/n - 3*(s1/n)*s2/n + 2*(s1/n)*(s1/n)*(s1/n)) / " +
          "(sqrt(s2/n - (s1/n)*(s1/n)) * sqrt(s2/n - (s1/n)*(s1/n)) * " +
          "sqrt(s2/n - (s1/n)*(s1/n))), 6) AS skew_r",
        "round((s4/n - 4*(s1/n)*s3/n + 6*(s1/n)*(s1/n)*s2/n - " +
          "3*(s1/n)*(s1/n)*(s1/n)*(s1/n)) / " +
          "((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) - 3, 6) AS kurt_r")
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).cast(DoubleType).as("n"),
          sum(x).cast(DoubleType).as("s1"),
          sum(x * x).cast(DoubleType).as("s2"),
          sum(x * x * x).cast(DoubleType).as("s3"),
          sum(x * x * x * x).cast(DoubleType).as("s4"))
        .selectExpr(
          Seq("l_returnflag", "CAST(n AS BIGINT) AS n") ++ mexpr: _*)
        .orderBy(col("l_returnflag"))
    }, {
      val sums = """
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS s1,
               CAST(sum(x*x) AS DOUBLE) AS s2,
               CAST(sum(x*x*x) AS DOUBLE) AS s3,
               CAST(sum(x*x*x*x) AS DOUBLE) AS s4
        FROM (SELECT l_returnflag, CAST(l_quantity AS DECIMAL(18,2)) AS x
              FROM lineitem)
        GROUP BY l_returnflag"""
      Some(s"""
      WITH a AS ($sums)
      SELECT l_returnflag, CAST(n AS BIGINT) AS n,
             round(s1/n, 6) AS mean_r,
             round(sqrt(s2/n - (s1/n)*(s1/n)), 6) AS std_r,
             round((s3/n - 3*(s1/n)*s2/n + 2*(s1/n)*(s1/n)*(s1/n)) / (sqrt(s2/n - (s1/n)*(s1/n)) * sqrt(s2/n - (s1/n)*(s1/n)) * sqrt(s2/n - (s1/n)*(s1/n))), 6) AS skew_r,
             round((s4/n - 4*(s1/n)*s3/n + 6*(s1/n)*(s1/n)*s2/n - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n)) / ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) - 3, 6) AS kurt_r
      FROM a ORDER BY l_returnflag""")
    }
  )

  /** Z-order (Morton) multi-dimensional clustering — the layout
    * primitive behind Delta/Iceberg `OPTIMIZE ZORDER BY (a, b)`: bit-
    * interleaving two keys gives a 1-D sort order in which BOTH
    * dimensions stay locally tight, so per-file min/max statistics
    * prune scans on EITHER predicate column — the thing a single-key
    * sort can only do for its leading column. The z-value is pure
    * integer bit arithmetic (8 bits per dimension here), identical on
    * both engines.
    *
    * The query emits what the optimizer actually consumes: per
    * coarse z-cell (top 8 bits — what would be one file after a
    * z-sorted write), the row count and min/max of BOTH dimensions.
    * Tight per-cell ranges on x AND y at once are the demonstrated
    * win. Map-side z computation + one aggregate + sort.
    */
  val zorder = Q(
    "q_zorder",
    (s, dir) => {
      val z = (0 until 8).map(i =>
        s"(shiftleft(shiftright(x, $i) & 1, ${2 * i}) + " +
          s"shiftleft(shiftright(y, $i) & 1, ${2 * i + 1}))").mkString(" + ")
      t(s, dir, "customer")
        .selectExpr(
          "CAST(c_custkey % 256 AS INT) AS x",
          "CAST(c_nationkey AS INT) AS y")
        .selectExpr("x", "y", s"CAST($z AS BIGINT) AS zval")
        .selectExpr("zval >> 8 AS zcell", "x", "y")
        .groupBy(col("zcell"))
        .agg(
          count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy(col("zcell"))
    }, {
      val z = (0 until 8).map(i =>
        s"((((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1}))")
        .mkString(" + ")
      Some(s"""
      WITH d AS (
        SELECT CAST(c_custkey % 256 AS INT) AS x, CAST(c_nationkey AS INT) AS y
        FROM customer),
      zd AS (SELECT x, y, CAST($z AS BIGINT) AS zval FROM d)
      SELECT zval >> 8 AS zcell, count(*) AS n,
             min(x) AS min_x, max(x) AS max_x,
             min(y) AS min_y, max(y) AS max_y
      FROM zd GROUP BY 1 ORDER BY zcell""")
    }
  )

  /** Ordered funnel analysis — how many users performed
    * view → click → purchase IN ORDER (each stage strictly after the
    * previous one's first occurrence): the product-analytics staple
    * that needs sequential, per-entity temporal logic rather than a
    * plain aggregate. Implemented as staged conditional minima — t1 =
    * first view, t2 = first click after t1, t3 = first purchase after
    * t2 — because every stage is an equi-join + aggregate on user_id:
    * three shuffles ON THE SAME KEY, so at scale the exchanges reuse
    * one partitioning (and AQE elides the re-shuffles). Timestamps
    * stay micros-integers internally; output is the stage census.
    */
  val funnel = Q(
    "q_funnel",
    (s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val t1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
      val t2 = e.filter(col("event_type") === "click")
        .join(t1, Seq("user_id"))
        .filter(col("us") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
      val t3 = e.filter(col("event_type") === "purchase")
        .join(t2, Seq("user_id"))
        .filter(col("us") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
      t1.agg(count(lit(1)).as("n_view"))
        .crossJoin(t2.agg(count(lit(1)).as("n_then_click")))
        .crossJoin(t3.agg(count(lit(1)).as("n_then_purchase")))
    },
    Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      t1 AS (SELECT user_id, min(us) AS t1 FROM e
             WHERE event_type = 'view' GROUP BY user_id),
      t2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN t1 USING (user_id)
             WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
      t3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN t2 USING (user_id)
             WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
      SELECT (SELECT count(*) FROM t1) AS n_view,
             (SELECT count(*) FROM t2) AS n_then_click,
             (SELECT count(*) FROM t3) AS n_then_purchase""")
  )

  /** Weekly cohort retention — the other product-analytics staple:
    * users bucketed by first-activity week (ISO Monday truncation,
    * identical in both engines), then distinct active users per
    * (cohort week, week offset). Two aggregates on user_id + one
    * distinct census; offsets are integer day-diffs / 7 between
    * truncated Mondays, so every output is exact. The cohort dim
    * (first week per user) is user-sized — at 100 TB it broadcast- or
    * shuffle-joins on user_id exactly like the funnel stages.
    */
  val retention = Q(
    "q_retention",
    (s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("w"))
      val cohort = e.groupBy(col("user_id")).agg(min(col("w")).as("cw"))
      e.join(cohort, Seq("user_id"))
        .select(col("user_id"), col("cw"),
          (datediff(col("w"), col("cw")) / 7).cast(LongType).as("week_offset"))
        .groupBy(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
          col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS w FROM events),
      c AS (SELECT user_id, min(w) AS cw FROM e GROUP BY user_id)
      SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
             CAST(date_diff('day', cw, w) / 7 AS BIGINT) AS week_offset,
             count(DISTINCT user_id) AS n_users
      FROM e JOIN c USING (user_id)
      GROUP BY 1, 2 ORDER BY cohort_week, week_offset""")
  )

  /** DAU / WAU / MAU stickiness — the engagement ratio product teams
    * track daily (how much of the monthly audience shows up today).
    * Exact distinct actives per trailing 1/7/28-day window, plus the
    * DAU/WAU and DAU/MAU ratios.
    *
    * Scale shape: the event stream collapses to distinct (user, day)
    * FIRST (one exchange — the only data-sized shuffle), then fans out
    * ≤28× against the broadcast day dimension (≤ a few thousand rows
    * at any scale) and re-aggregates per day with conditional distinct
    * counts — never a distinct-over-sliding-window per event. Exact
    * integer counts; the ratio divisions are doubles of exact ints,
    * deterministic on both engines.
    */
  val stickiness = Q(
    "q_stickiness",
    (s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val days = ud.select(col("day").as("d")).distinct()
      ud.join(broadcast(days),
          col("day") <= col("d") && col("day") >= date_sub(col("d"), 27))
        .groupBy(col("d"))
        .agg(
          countDistinct(when(col("day") === col("d"), col("user_id"))).as("dau"),
          countDistinct(when(col("day") >= date_sub(col("d"), 6), col("user_id"))).as("wau"),
          countDistinct(col("user_id")).as("mau"))
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("dau"), col("wau"), col("mau"),
          round(col("dau").cast(DoubleType) / col("wau"), 6).as("dau_wau_r"),
          round(col("dau").cast(DoubleType) / col("mau"), 6).as("dau_mau_r"))
        .orderBy(col("day"))
    },
    Some("""
      WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      days AS (SELECT DISTINCT day AS d FROM ud),
      g AS (
        SELECT d,
               count(DISTINCT CASE WHEN day = d THEN user_id END) AS dau,
               count(DISTINCT CASE WHEN day >= d - 6 THEN user_id END) AS wau,
               count(DISTINCT user_id) AS mau
        FROM ud JOIN days ON day <= d AND day >= d - 27
        GROUP BY d)
      SELECT strftime(d, '%Y-%m-%d') AS day, dau, wau, mau,
             round(CAST(dau AS DOUBLE) / wau, 6) AS dau_wau_r,
             round(CAST(dau AS DOUBLE) / mau, 6) AS dau_mau_r
      FROM g ORDER BY day""")
  )

  /** FULL OUTER join — the one join type the surface lacked. The
    * two sides are filtered differently (positive balance vs big
    * orders) so all three match classes genuinely occur; output is the
    * compact match-class census (both/left_only/right_only), which
    * exercises the null-fill semantics on both
    * sides without dumping the joined table. Spark plans full outer as
    * SortMergeJoin (broadcast can't do full outer on the build side) —
    * the correct shape at any scale.
    */
  val outerJoin = Q(
    "q_outer_join",
    (s, dir) => {
      val cust = t(s, dir, "customer")
        .filter(col("c_acctbal") > 0)
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_totalprice") > 250000)
        .select(col("o_custkey"), col("o_orderkey"))
      cust.join(ord, cust("c_custkey") === ord("o_custkey"), "full_outer")
        .select(
          when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, "both")
            .when(col("o_custkey").isNull, "left_only")
            .otherwise("right_only").as("side"))
        .groupBy(col("side")).agg(count(lit(1)).as("n"))
        .orderBy(col("side"))
    },
    Some("""
      SELECT CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 'both'
                  WHEN o_custkey IS NULL THEN 'left_only'
                  ELSE 'right_only' END AS side,
             count(*) AS n
      FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 0) c
      FULL OUTER JOIN (SELECT o_custkey, o_orderkey FROM orders
                       WHERE o_totalprice > 250000) o
        ON c_custkey = o_custkey
      GROUP BY 1 ORDER BY side""")
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

  /** NTILE — equi-depth quartiles of each nation's customers by
    * balance: the window primitive behind quantile-based splits (spend
    * tiers, train/val/test by score band). Partitioned on the bounded
    * nation key — an UNpartitioned ntile funnels the whole table
    * through one task (Exchange SinglePartition), which violates this
    * module's 100 TB window invariant; the global-split equivalent at
    * scale is approx-quantile boundary computation + a range filter.
    * Ordering carries the unique key tiebreak so tile boundaries are
    * deterministic; the per-(nation, tile) census with exact min/max
    * balance pins the boundary arithmetic on both engines.
    */
  val ntileQ = Q(
    "q_ntile",
    (s, dir) =>
      t(s, dir, "customer")
        .select(
          col("c_nationkey"),
          col("c_acctbal").cast(DecimalType(18, 2)).as("bal"),
          ntile(4).over(
            Window.partitionBy(col("c_nationkey"))
              .orderBy(col("c_acctbal").cast(DecimalType(18, 2)), col("c_custkey")))
            .cast(LongType).as("tile"))
        .groupBy(col("c_nationkey"), col("tile"))
        .agg(
          count(lit(1)).as("n"),
          min(col("bal")).cast(DoubleType).as("min_bal"),
          max(col("bal")).cast(DoubleType).as("max_bal"))
        .orderBy(col("c_nationkey"), col("tile")),
    Some("""
      WITH t AS (
        SELECT c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
               ntile(4) OVER (PARTITION BY c_nationkey
                              ORDER BY CAST(c_acctbal AS DECIMAL(18,2)), c_custkey) AS tile
        FROM customer)
      SELECT c_nationkey, tile, count(*) AS n,
             CAST(min(bal) AS DOUBLE) AS min_bal,
             CAST(max(bal) AS DOUBLE) AS max_bal
      FROM t GROUP BY c_nationkey, tile ORDER BY c_nationkey, tile""")
  )

  /** Pearson correlation + sample covariance per group — bivariate
    * statistics (price vs quantity) computed FROM DECIMAL-EXACT moment
    * sums (Σx, Σy, Σxy, Σx², n), not the built-in corr/covar_samp:
    * the built-ins accumulate double co-moments whose merge order
    * differs between Spark's partials and DuckDB, which is exactly the
    * nondeterminism the repo's dsum convention exists to exclude. The
    * moment sums are exact integers-in-decimal (order-independent at
    * any parallelism); the final corr/covar arithmetic is one
    * deterministic double expression over those exact inputs, so the
    * rounded outputs are bit-stable on every machine. Still one
    * partial+final aggregation pass.
    */
  val corrQ = Q(
    "q_corr",
    (s, dir) => {
      val x = col("l_extendedprice").cast(DecimalType(12, 2))
      val y = col("l_quantity").cast(DecimalType(12, 2))
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
        .select(
          col("l_returnflag"),
          round(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
                (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType)),
            6).as("corr_pq"),
          round(
            (col("sxy") - col("sx") * col("sy") / col("n")).cast(DoubleType) /
              (col("n") - 1),
            2).as("cov_pq"),
          col("n"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      WITH m AS (
        SELECT l_returnflag, count(*) AS n,
               sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sx,
               sum(CAST(l_quantity AS DECIMAL(12,2))) AS sy,
               sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * CAST(l_quantity AS DECIMAL(12,2))) AS sxy,
               sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxx,
               sum(CAST(l_quantity AS DECIMAL(12,2))
                   * CAST(l_quantity AS DECIMAL(12,2))) AS syy
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag,
             round(CAST(n * sxy - sx * sy AS DOUBLE)
                   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr_pq,
             round(CAST(sxy - sx * sy / n AS DOUBLE) / (n - 1), 2) AS cov_pq,
             n
      FROM m ORDER BY l_returnflag""")
  )

  /** Time-series RESAMPLE with gap-fill — the regularization step every
    * event stream needs before charting/forecasting: an hourly spine
    * (generated, not scanned — fixed literal range so planning is
    * data-independent) cross-joined with the tiny type dimension, LEFT
    * joined to hourly counts, absent buckets zero-filled. 47 of the
    * 3600 (hour, type) cells are genuinely empty in the corpus, so the
    * fill path is exercised for real. The spine is generated rows — at
    * any corpus scale its size depends only on the time range, and the
    * one shuffle is the hourly pre-aggregation of events.
    */
  val resample = Q(
    "q_resample",
    (s, dir) => {
      val ev = events(s, dir)
      val spine = s.range(1).select(explode(expr(
        """sequence(timestamp'2024-01-01 00:00:00',
                    timestamp'2024-01-30 23:00:00', interval 1 hour)""")).as("h"))
      val types = ev.select(col("event_type")).distinct()
      val counts = ev
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n0"))
      spine.crossJoin(broadcast(types))
        .join(counts, Seq("h", "event_type"), "left")
        .select(
          unix_millis(col("h")).as("h_ms"),
          col("event_type"),
          coalesce(col("n0"), lit(0L)).as("n"))
        .orderBy(col("h_ms"), col("event_type"))
    },
    Some("""
      WITH spine AS (
        SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                      TIMESTAMP '2024-01-30 23:00:00',
                                      INTERVAL 1 HOUR)) AS h),
      types AS (SELECT DISTINCT event_type FROM events),
      counts AS (
        SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n0
        FROM events GROUP BY 1, 2)
      SELECT CAST(epoch_ms(spine.h) AS BIGINT) AS h_ms,
             types.event_type AS event_type,
             coalesce(n0, 0) AS n
      FROM spine CROSS JOIN types
      LEFT JOIN counts ON counts.h = spine.h AND counts.event_type = types.event_type
      ORDER BY h_ms, types.event_type""")
  )

  /** MERGE/upsert — CDC application as a JOIN, not row-at-a-time: a
    * derived changes feed (delete / update / insert ops keyed like the
    * base) full-outer-joins the base table once; deletes drop, updates
    * take the new value, inserts survive from the right side, untouched
    * rows pass through. This is how a 100 TB corpus absorbs a day of
    * changes — one co-partitioned join (bucket both sides on the key
    * and even that shuffle disappears), never a per-record mutate. The
    * output is the post-merge census (count + exact balance sum per
    * action class), which pins every branch of the CASE.
    */
  val mergeUpsert = Q(
    "q_merge_upsert",
    (s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey").as("k"),
          col("c_acctbal").cast(DecimalType(18, 2)).as("bal"))
      // One scan derives the whole changes feed (a three-branch
      // filter+union would read the base table once per op class).
      val mod = pmod(col("k"), lit(7))
      val changes = base
        .withColumn("op",
          when(mod === 0, "delete").when(mod === 1, "update")
            .when(mod === 2, "insert"))
        .filter(col("op").isNotNull)
        .select(
          when(col("op") === "insert", col("k") + 1000000)
            .otherwise(col("k")).as("k"),
          col("op"),
          when(col("op") === "update", col("bal") + 1000)
            .when(col("op") === "insert", col("bal") * 2)
            .cast(DecimalType(18, 2)).as("new_bal"))
      base.join(changes, Seq("k"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "delete")
        .select(
          coalesce(col("op"), lit("keep")).as("action"),
          when(col("op").isin("update", "insert"), col("new_bal"))
            .otherwise(col("bal")).as("out_bal"))
        .groupBy(col("action"))
        .agg(count(lit(1)).as("n"), dsum(col("out_bal"), 2).as("sum_bal"))
        .orderBy(col("action"))
    },
    Some("""
      WITH base AS (
        SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer),
      changes AS (
        SELECT k, 'delete' AS op, CAST(NULL AS DECIMAL(18,2)) AS new_bal
        FROM base WHERE k % 7 = 0
        UNION ALL
        SELECT k, 'update', CAST(bal + 1000 AS DECIMAL(18,2)) FROM base WHERE k % 7 = 1
        UNION ALL
        SELECT k + 1000000, 'insert', CAST(bal * 2 AS DECIMAL(18,2))
        FROM base WHERE k % 7 = 2)
      SELECT coalesce(op, 'keep') AS action,
             count(*) AS n,
             CAST(sum(CASE WHEN op IN ('update', 'insert') THEN new_bal ELSE bal END)
                  AS DOUBLE) AS sum_bal
      FROM base FULL OUTER JOIN changes USING (k)
      WHERE op IS NULL OR op != 'delete'
      GROUP BY 1 ORDER BY action""")
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

  /** Salted skew-join, oracle-proven result-identical to the plain
    * join: the fact side's hot keys spread over 8 salt buckets
    * (`Scale.saltedJoin` — deterministic row-id salt, small side
    * exploded to every salt), and the DuckDB oracle runs the UNSALTED
    * join — so the rewrite's result equivalence is hash-checked, not
    * just asserted in a spec. This is the fallback when one key is so
    * hot that even AQE's skew split blows a partition; the aggregate on
    * top keeps the checked output small.
    */
  val saltedJoinQ = Q(
    "q_salted_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_partkey").as("k"), col("l_quantity"))
      val pt = t(s, dir, "part").filter(col("p_size") <= 5)
        .select(col("p_partkey").as("k"), col("p_brand"))
      graft.util.Scale.saltedJoin(li, pt, "k", salts = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("p_brand"))
    },
    Some("""
      SELECT p_brand, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size <= 5) p
        ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand""")
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

  /** Snapshot diff — the CDC census "what changed between T1 and T2"
    * computed in ONE scan: both snapshots are conditional aggregates
    * over the same pass (never two scans + a self-join), the T2 bound
    * pushes to the scan, and per-customer state classifies into
    * new / increased / unchanged. Spend stays DECIMAL-exact through
    * both conditional sums, so the status comparison has no float
    * boundary.
    */
  val diffSnapshot = Q(
    "q_diff_snapshot",
    (s, dir) => {
      val t1 = ts("1997-01-01")
      val t2 = ts("1999-01-01")
      t(s, dir, "orders")
        .filter(col("o_orderdate") < t2)
        .groupBy(col("o_custkey"))
        .agg(
          dsum(when(col("o_orderdate") < t1, col("o_totalprice"))
            .otherwise(lit(0.0)), 2).as("spend_t1"),
          dsum(col("o_totalprice"), 2).as("spend_t2"),
          sum(when(col("o_orderdate") < t1, 1L).otherwise(0L)).as("n1"))
        .withColumn("status",
          when(col("n1") === 0, "new")
            .when(col("spend_t2") > col("spend_t1"), "increased")
            .otherwise("unchanged"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("spend_t2") - col("spend_t1"), 2).as("delta_spend"))
        .orderBy(col("status"))
    },
    Some("""
      WITH st AS (
        SELECT o_custkey,
               CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                             THEN CAST(o_totalprice AS DECIMAL(18,2))
                             ELSE CAST(0.0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 AS spend_t1,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS spend_t2,
               CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n1
        FROM orders
        WHERE o_orderdate < TIMESTAMP '1999-01-01'
        GROUP BY 1),
      cl AS (
        SELECT CASE WHEN n1 = 0 THEN 'new'
                    WHEN spend_t2 > spend_t1 THEN 'increased'
                    ELSE 'unchanged' END AS status,
               spend_t2 - spend_t1 AS delta
        FROM st)
      SELECT status, count(*) AS n_customers,
             CAST(sum(CAST(delta AS DECIMAL(18,2))) AS DOUBLE) AS delta_spend
      FROM cl GROUP BY status ORDER BY status""")
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

  /** Time intelligence — monthly revenue with an exact running total
    * and year-over-year ratio, the dashboard triple the reference's
    * Power BI pane exists for. The stream reduces to the month series
    * FIRST (one keyed aggregate); cumulative sum runs in DECIMAL over
    * the bounded series (order-independent partials, exact at any
    * parallelism) and only the YoY ratio touches doubles. YoY is a
    * DATE-KEYED lookup (this month joined to mon − 12 months), not a
    * 12-row lag — a lag silently compares against the wrong month the
    * moment any month is absent from the series; the join degrades to
    * NULL instead. Months without a year-ago partner yield NULL,
    * preserved on both sides.
    */
  val timeIntel = Q(
    "q_timeintel",
    (s, dir) => {
      val monthly = t(s, dir, "orders")
        .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("mon"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
        // bounded month series, TWO consumers (current + year-ago side)
        .localCheckpoint(true)
      val w = Window.orderBy(col("mon"))
      val prior = monthly.select(
        add_months(col("mon"), 12).as("mon"), col("rev").as("rev_prior"))
      monthly
        .join(broadcast(prior), Seq("mon"), "left")
        .select(
          col("mon").cast("string").as("mon"),
          col("rev").cast(DoubleType).as("revenue"),
          sum(col("rev"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType).as("cum_revenue"),
          round(col("rev").cast(DoubleType)
            / col("rev_prior").cast(DoubleType), 6).as("yoy_r"))
        .orderBy(col("mon"))
    },
    Some("""
      WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1)
      SELECT CAST(m.mon AS VARCHAR) AS mon,
             CAST(m.rev AS DOUBLE) AS revenue,
             CAST(sum(m.rev) OVER (ORDER BY m.mon
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS cum_revenue,
             round(CAST(m.rev AS DOUBLE) / CAST(p.rev AS DOUBLE), 6)
               AS yoy_r
      FROM m LEFT JOIN m p ON m.mon = CAST(p.mon + INTERVAL 12 MONTH AS DATE)
      ORDER BY mon""")
  )

  /** 2-D skyline (Pareto frontier): parts no other part beats on BOTH
    * cheap price and large size. Never the quadratic dominance join —
    * the classic distributed shape: (1) per x-bucket LOCAL frontier
    * via a running lexicographic struct-min over the (x, y)-sorted
    * bucket (a preceding point dominates iff its (y, x) sorts
    * strictly lower — equal points survive, strictness is exactly lex
    * order), then (2) the same pass over the union of local frontiers
    * (skyline-of-skylines is the skyline; survivors are frontier-
    * sized, so the unpartitioned second window runs on a reduced
    * set). The ORACLE is the INDEPENDENT O(n²) NOT-EXISTS dominance
    * definition — two different algorithms must agree row-for-row,
    * the dedup-components style of verification.
    */
  val skyline = Q(
    "q_skyline",
    (s, dir) => {
      val pts = t(s, dir, "part")
        .select(col("p_partkey").as("k"), col("p_retailprice").as("x"),
          (-col("p_size")).cast(DoubleType).as("y"))
      def frontier(df: org.apache.spark.sql.DataFrame, w: org.apache.spark.sql.expressions.WindowSpec) =
        df.withColumn("m", min(struct(col("y"), col("x")))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)))
          .filter(col("m").isNull || !(col("m") < struct(col("y"), col("x"))))
          .drop("m")
      val local = frontier(
        pts.withColumn("b", floor(col("x") / lit(100.0))),
        Window.partitionBy(col("b")).orderBy(col("x"), col("y"), col("k")))
      frontier(local, Window.orderBy(col("x"), col("y"), col("k")))
        .select(col("k").as("p_partkey"), col("x").as("price"),
          (-col("y")).cast(LongType).as("p_size"))
        .orderBy(col("p_partkey"))
    },
    Some("""
      WITH pts AS (
        SELECT p_partkey AS k, p_retailprice AS x,
               -CAST(p_size AS DOUBLE) AS y
        FROM part)
      SELECT k AS p_partkey, x AS price, CAST(-y AS BIGINT) AS p_size
      FROM pts q
      WHERE NOT EXISTS (
        SELECT 1 FROM pts p
        WHERE p.x <= q.x AND p.y <= q.y AND (p.x < q.x OR p.y < q.y))
      ORDER BY p_partkey""")
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

  /** ORDER BY + LIMIT — global top-N. Spark plans this as TakeOrderedAndProject:
    * per-partition top-N then a single driver-side merge of N·P rows —
    * never a full global sort.
    */
  val sortLimit = Q(
    "q_sort_limit",
    (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100),
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")
  )

  /** As-of join (SURVEY §2.5 joins stretch goal) — each event picks up
    * the latest hourly checkpoint at-or-before its timestamp, per
    * event_type. Implemented with the union+ordered-window trick: tag
    * both streams, sort by (time, tag) inside each key, and carry the
    * last checkpoint forward with `last(_, ignoreNulls)` — one shuffle
    * on the key, no range join, no per-row probe. The oracle runs
    * DuckDB's native ASOF JOIN, so two independent algorithms must
    * agree row-for-row. At 100 TB the window key becomes (type, day)
    * with boundary carry-over to bound partition size.
    */
  val asofJoin = Q(
    "q_asof_join",
    (s, dir) => {
      val ev = events(s, dir)
      val cp = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("cutoff"))
        .agg(count(lit(1)).as("n_cp"))
      val tagged = cp
        .select(col("event_type"), col("cutoff").as("t"), lit(0).as("tag"),
          col("n_cp"), lit(null).cast(LongType).as("event_id"))
        .unionByName(ev.select(col("event_type"), col("ts").as("t"), lit(1).as("tag"),
          lit(null).cast(LongType).as("n_cp"), col("event_id")))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("t"), col("tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("cutoff_ms",
          last(when(col("tag") === 0, unix_millis(col("t"))), ignoreNulls = true).over(w))
        .withColumn("cp_n",
          last(when(col("tag") === 0, col("n_cp")), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(col("event_id"), col("event_type"), col("cutoff_ms"),
          col("cp_n").as("n_cp"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH cp AS (
        SELECT event_type, date_trunc('hour', ts) AS cutoff, count(*) AS n_cp
        FROM events GROUP BY 1, 2)
      SELECT e.event_id, e.event_type, epoch_ms(cp.cutoff) AS cutoff_ms, cp.n_cp
      FROM events e
      ASOF JOIN cp ON e.event_type = cp.event_type AND e.ts >= cp.cutoff
      ORDER BY e.event_id""")
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
    * declared-truncation contract as [[graft.similarity.SimilarityQueries.MaxShingleDf]]):
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
      val cuts = t(s, dir, "orders").groupBy().agg(
        expr("percentile(o_totalprice, array(0.1D,0.2D,0.3D,0.4D,0.5D," +
          "0.6D,0.7D,0.8D,0.9D))").as("qs"))
      t(s, dir, "orders")
        .crossJoin(broadcast(cuts))
        .select((lit(1) +
          (1 to 9).map(i =>
            when(col("o_totalprice") > element_at(col("qs"), i), 1).otherwise(0))
            .reduce(_ + _)).cast(LongType).as("bucket"))
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

  /** Bloom-pruned fact join — the pre-shuffle pruning pattern behind
    * every selective dim⋈fact at 100 TB (and behind Spark's own
    * runtime row-level filters, whose exact expressions this query
    * uses via the graft_bloom_agg/graft_bloom_contains injections):
    * the selective order-key set folds into ONE broadcast bloom
    * sketch; the fact scan drops non-matching rows MAP-SIDE, before
    * any exchange, so the join shuffles only plausible rows. False
    * positives die in the exact equi-join that follows — the output
    * is exactly the plain join's (which is what the oracle runs), the
    * bloom only moves work off the shuffle. Plan-pinned: the
    * might_contain filter sits under the fact side's exchange.
    */
  val bloomPrune = Q(
    "q_bloom_prune",
    (s, dir) => {
      // might_contain requires its sketch as a CONSTANT or scalar
      // subquery (never a join-produced column) — same contract as
      // Spark's injected runtime filters, so the SQL front door is
      // the honest surface for this one.
      sql(s, dir, """
        WITH sel AS (
          SELECT o_orderkey FROM orders WHERE o_totalprice > 450000),
        pruned AS (
          SELECT l_orderkey, l_extendedprice, l_discount
          FROM lineitem
          WHERE graft_bloom_contains(
            (SELECT graft_bloom_agg(o_orderkey, 10000L, 80000L) FROM sel),
            l_orderkey))
        SELECT o_orderkey,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * CAST(round((CAST(1 AS DOUBLE) - l_discount) * 100) AS BIGINT))
                    AS DOUBLE) / 1e4 AS revenue,
               count(*) AS n_items
        FROM sel JOIN pruned ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1""", "orders", "lineitem")
    },
    Some("""
      WITH sel AS (
        SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
      SELECT o_orderkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(round((CAST(1 AS DOUBLE) - l_discount) * 100) AS BIGINT))
                  AS DOUBLE) / 1e4 AS revenue,
             count(*) AS n_items
      FROM sel JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1""")
  )

  /** Distribution windows — cume_dist + percent_rank of suppliers
    * within nation by balance band: the "where does this row sit in
    * its group's distribution" primitive (percentile feeds, score
    * normalization) that the ranking windows above don't cover. The
    * banding (floor(bal/1000)) plants real ties, which is where the
    * two functions differ from rank: cume_dist counts the whole tie
    * group, percent_rank anchors at its first row. Both are exact
    * rationals k/n — the IEEE division of two small integers is
    * identical in any engine, so no rounding shim is needed. One
    * shuffle on the bounded partition key, same as q_window_rank.
    */
  val windowDist = Q(
    "q_window_dist",
    (s, dir) => {
      val balK = floor(col("s_acctbal") / 1000).cast(LongType)
      val w = Window.partitionBy(col("s_nationkey")).orderBy(balK)
      t(s, dir, "supplier")
        .select(
          col("s_suppkey"), col("s_nationkey"), balK.as("bal_k"),
          cume_dist().over(w).as("cd"),
          percent_rank().over(w).as("pr"))
        .orderBy(col("s_suppkey"))
    },
    Some("""
      SELECT s_suppkey, s_nationkey,
             CAST(floor(s_acctbal / 1000) AS BIGINT) AS bal_k,
             cume_dist() OVER (PARTITION BY s_nationkey
                 ORDER BY CAST(floor(s_acctbal / 1000) AS BIGINT)) AS cd,
             percent_rank() OVER (PARTITION BY s_nationkey
                 ORDER BY CAST(floor(s_acctbal / 1000) AS BIGINT)) AS pr
      FROM supplier ORDER BY s_suppkey""")
  )

  /** Benford first-digit census over order totals — the data-quality /
    * fraud screen run over any freshly-landed financial table: organic
    * amounts follow log-law digit frequencies, fabricated ones don't.
    * Digit extraction is INTEGER-SAFE by construction: floor to BIGINT
    * then staged integer division (never string-formatting the double,
    * never log10 of the value — both engine-dependent on ulps). The
    * observed share is scaled-integer ppm via integer division; the
    * expected Benford share is the only log10 call, on the 9 digit
    * CONSTANTS, where a last-ulp difference sits ~10³ away from the
    * floor boundary. Scale shape: one partial-agg shuffle down to ≤9
    * groups, total rides back as a broadcast scalar.
    */
  val benford = Q(
    "q_benford",
    (s, dir) => {
      val tl = col("tl")
      val digit =
        when(tl >= 1000000L, floor(tl / 1000000L))
          .when(tl >= 100000L, floor(tl / 100000L))
          .when(tl >= 10000L, floor(tl / 10000L))
          .when(tl >= 1000L, floor(tl / 1000L))
          .when(tl >= 100L, floor(tl / 100L))
          .when(tl >= 10L, floor(tl / 10L))
          .otherwise(tl)
          .cast(LongType)
      val counts = t(s, dir, "orders")
        .select(floor(col("o_totalprice")).cast(LongType).as("tl"))
        .select(digit.as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("total"))
      counts.crossJoin(broadcast(total))
        .select(
          col("digit"), col("n"),
          expr("(n * 1000000L) DIV total").as("obs_ppm"),
          floor(log10(lit(1.0) + lit(1.0) / col("digit").cast(DoubleType))
            * 1000000).cast(LongType).as("exp_ppm"))
        .orderBy(col("digit"))
    },
    Some("""
      WITH t AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS tl FROM orders),
      d AS (
        SELECT CASE WHEN tl >= 1000000 THEN tl // 1000000
                    WHEN tl >= 100000 THEN tl // 100000
                    WHEN tl >= 10000 THEN tl // 10000
                    WHEN tl >= 1000 THEN tl // 1000
                    WHEN tl >= 100 THEN tl // 100
                    WHEN tl >= 10 THEN tl // 10
                    ELSE tl END AS digit
        FROM t),
      c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
      tot AS (SELECT sum(n) AS total FROM c)
      SELECT digit, n,
             CAST((n * 1000000) // total AS BIGINT) AS obs_ppm,
             CAST(floor(log10(1 + CAST(1 AS DOUBLE) / digit) * 1000000)
                  AS BIGINT) AS exp_ppm
      FROM c CROSS JOIN tot ORDER BY digit""")
  )

  /** Gini concentration of customer spend per market segment — the
    * inequality/concentration metric behind "do 20% of customers carry
    * 80% of revenue" revenue-risk analyses. Exact-arithmetic form of
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over per-customer spend
    * sorted ascending: spend routes through DECIMAL cents once and is
    * then a BIGINT; the rank×spend products ride DECIMAL(38,0)
    * (HUGEINT in the oracle) because Σ i·x ≈ n²·avg_cents passes
    * int64 for large segments, so every Σ term stays EXACT on both
    * engines and the one double division at the end is IEEE-identical. The ranking window
    * is partitioned by segment (bounded cardinality), never global;
    * at 100 TB the per-customer pre-aggregate is the only big shuffle.
    */
  val gini = Q(
    "q_gini",
    (s, dir) => {
      val spend = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("c_custkey"))
        .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
          .cast(LongType).as("x"))
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("x"), col("c_custkey"))
      spend
        .select(col("c_mktsegment"),
          col("x"), row_number().over(w).cast(LongType).as("i"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_cust"),
          sum(col("x")).as("sx"),
          sum(col("i").cast(DecimalType(38, 0)) * col("x")).as("six"))
        .select(col("c_mktsegment").as("segment"), col("n_cust"),
          (col("sx") / 100).cast(DoubleType).as("total_spend"),
          round((lit(2L) * col("six")
              - (col("n_cust") + 1).cast(DecimalType(38, 0)) * col("sx"))
              .cast(DoubleType)
            / (col("n_cust").cast(DecimalType(38, 0)) * col("sx"))
              .cast(DoubleType), 6).as("gini_r"))
        .orderBy(col("segment"))
    },
    Some("""
      WITH spend AS (
        SELECT c_mktsegment, c_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
      r AS (
        SELECT c_mktsegment, x,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY x, c_custkey) AS i
        FROM spend),
      a AS (
        SELECT c_mktsegment, count(*) AS n_cust,
               CAST(sum(x) AS BIGINT) AS sx,
               sum(CAST(i AS HUGEINT) * x) AS six
        FROM r GROUP BY 1)
      SELECT c_mktsegment AS segment, n_cust,
             CAST(sx AS DOUBLE) / 100 AS total_spend,
             round(CAST(2 * six - CAST(n_cust + 1 AS HUGEINT) * sx AS DOUBLE)
                   / CAST(CAST(n_cust AS HUGEINT) * sx AS DOUBLE), 6) AS gini_r
      FROM a ORDER BY segment""")
  )

  /** The OLS slope/intercept/R² final formulas over the exact decimal
    * moments, as ONE shared SQL text — interpolated verbatim into both
    * the Spark selectExpr and the DuckDB oracle so the double
    * arithmetic (the only inexact stage) is textually identical and
    * therefore IEEE-identical. Inputs n/sd/sy/sdy/sdd/syy are the
    * exact integer moments.
    */
  private val LinregSlope =
    """((CAST(n AS DOUBLE) * CAST(sdy AS DOUBLE)
        - CAST(sd AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
        - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)))"""

  private val LinregExprs = Seq(
    s"round($LinregSlope, 6) AS slope_r",
    s"""round((CAST(sy AS DOUBLE) - $LinregSlope * CAST(sd AS DOUBLE))
            / CAST(n AS DOUBLE), 6) AS intercept_r""",
    """round(((CAST(n AS DOUBLE) * CAST(sdy AS DOUBLE)
              - CAST(sd AS DOUBLE) * CAST(sy AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(sdy AS DOUBLE)
              - CAST(sd AS DOUBLE) * CAST(sy AS DOUBLE)))
            / ((CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
              - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2_r""")

  /** OLS linear trend of daily order revenue — the regression
    * primitive behind forecasting and drift monitors: slope
    * (dollars/day), intercept and R² of revenue vs day index. The
    * classic distributed-regression shape: ONE mergeable moment
    * aggregate (n, Σd, Σy, Σdy, Σd², Σy²) — no second pass, no
    * residual join. Determinism: revenue routes through DECIMAL cents
    * to whole-dollar BIGINTs, day indexes anchor on a fixed literal
    * date, every moment is summed as DECIMAL(38,0) (exact at any
    * scale — Σy² overflows int64 around 10³ days × $10⁹/day), and the
    * final formulas run in doubles from one SHARED SQL text
    * ([[LinregExprs]]) so both engines execute the identical IEEE
    * expression tree.
    */
  val linreg = Q(
    "q_linreg",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
          .cast(LongType).as("cents"))
        .select(
          datediff(col("day"), lit("1992-01-01").cast("date"))
            .cast(DecimalType(18, 0)).as("d"),
          expr("cents DIV 100").cast(DecimalType(18, 0)).as("y"))
      daily
        .agg(
          count(lit(1)).as("n"),
          sum(col("d")).as("sd"), sum(col("y")).as("sy"),
          sum(col("d") * col("y")).as("sdy"),
          sum(col("d") * col("d")).as("sdd"),
          sum(col("y") * col("y")).as("syy"))
        .selectExpr("n" +: LinregExprs: _*)
    },
    Some(s"""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                 AS cents
        FROM orders GROUP BY 1),
      pts AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01', day) AS DECIMAL(18,0))
                 AS d,
               CAST(cents // 100 AS DECIMAL(18,0)) AS y
        FROM daily),
      m AS (
        SELECT count(*) AS n, sum(d) AS sd, sum(y) AS sy,
               sum(d * y) AS sdy, sum(d * d) AS sdd, sum(y * y) AS syy
        FROM pts)
      SELECT n, ${LinregExprs.mkString(",\n             ")} FROM m""")
  )

  /** Confusion matrix + threshold metrics — the other half of the
    * model-eval surface next to q_auc (which is threshold-free): score
    * customers by account balance, predict positive above a fixed
    * operating threshold, label positive = frequent orderer (the q_auc
    * label), and report TP/FP/FN/TN plus accuracy / precision /
    * recall / F1 / Cohen's kappa / MCC. All four cells are exact
    * integers from ONE global conditional aggregate; the metrics are
    * fixed-order IEEE divisions over those integers (identical
    * expression text on both engines — marginal products run in
    * DOUBLE, exact for any cell ≤ 2^53, and sqrt is IEEE
    * correctly-rounded on both). Every metric guards its denominator
    * with CASE WHEN ... = 0 THEN NULL (same text both engines): on a
    * degenerate corpus (no predicted positives, pe = 1) Spark's
    * non-ANSI division returns NULL while DuckDB's IEEE float ops
    * yield inf/nan — the guard makes both sides produce the same
    * NULLs instead of diverging exactly when a cell empties.
    * Scale shape: the label build is one orders aggregate whose ≥12
    * survivors are a small broadcast side; the scoring pass is a single
    * customer scan with map-side partial aggregation — two shuffles
    * total regardless of data size.
    */
  val confusion = Q(
    "q_confusion",
    (s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(posKeys(s, dir)), col("c_custkey") === col("o_custkey"), "left")
        .select(
          (col("c_acctbal") > 5000.0).cast(LongType).as("p"),
          coalesce(col("is_pos"), lit(0L)).as("y"))
        .agg(
          sum(col("p") * col("y")).as("tp"),
          sum(col("p") * (lit(1) - col("y"))).as("fp"),
          sum((lit(1) - col("p")) * col("y")).as("fn"),
          sum((lit(1) - col("p")) * (lit(1) - col("y"))).as("tn"))
        .selectExpr("tp", "fp", "fn", "tn",
          "CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE) AS po",
          """(CAST(tp + fp AS DOUBLE) * (tp + fn) + CAST(fn + tn AS DOUBLE) * (fp + tn))
             / (CAST(tp + fp + fn + tn AS DOUBLE) * (tp + fp + fn + tn)) AS pe""")
        .selectExpr("tp", "fp", "fn", "tn",
          "CASE WHEN tp + fp + fn + tn = 0 THEN NULL ELSE round(po, 6) END AS accuracy_r",
          "CASE WHEN tp + fp = 0 THEN NULL ELSE round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END AS precision_r",
          "CASE WHEN tp + fn = 0 THEN NULL ELSE round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) END AS recall_r",
          "CASE WHEN 2 * tp + fp + fn = 0 THEN NULL ELSE round(CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE), 6) END AS f1_r",
          "CASE WHEN tp + fp + fn + tn = 0 OR pe = 1e0 THEN NULL ELSE round((po - pe) / (1e0 - pe), 6) END AS kappa_r",
          """CASE WHEN CAST(tp + fp AS DOUBLE) * (tp + fn) * (tn + fp) * (tn + fn) = 0e0
             THEN NULL
             ELSE round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
               / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn) * (tn + fp) * (tn + fn)), 6)
             END AS mcc_r""")
    },
    Some("""
      WITH pos AS (
        SELECT o_custkey FROM orders
        GROUP BY 1 HAVING count(*) >= 12),
      s AS (
        SELECT CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END AS p,
               CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
        FROM customer c LEFT JOIN pos ON c_custkey = o_custkey),
      m AS (
        SELECT CAST(sum(p * y) AS BIGINT) AS tp,
               CAST(sum(p * (1 - y)) AS BIGINT) AS fp,
               CAST(sum((1 - p) * y) AS BIGINT) AS fn,
               CAST(sum((1 - p) * (1 - y)) AS BIGINT) AS tn
        FROM s),
      m2 AS (
        SELECT tp, fp, fn, tn,
               CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE) AS po,
               (CAST(tp + fp AS DOUBLE) * (tp + fn) + CAST(fn + tn AS DOUBLE) * (fp + tn))
                 / (CAST(tp + fp + fn + tn AS DOUBLE) * (tp + fp + fn + tn)) AS pe
        FROM m)
      SELECT tp, fp, fn, tn,
             CASE WHEN tp + fp + fn + tn = 0 THEN NULL ELSE round(po, 6) END AS accuracy_r,
             CASE WHEN tp + fp = 0 THEN NULL ELSE round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END AS precision_r,
             CASE WHEN tp + fn = 0 THEN NULL ELSE round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) END AS recall_r,
             CASE WHEN 2 * tp + fp + fn = 0 THEN NULL ELSE round(CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE), 6) END AS f1_r,
             CASE WHEN tp + fp + fn + tn = 0 OR pe = 1e0 THEN NULL ELSE round((po - pe) / (1e0 - pe), 6) END AS kappa_r,
             CASE WHEN CAST(tp + fp AS DOUBLE) * (tp + fn) * (tn + fp) * (tn + fn) = 0e0
             THEN NULL
             ELSE round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
               / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn) * (tn + fp) * (tn + fn)), 6)
             END AS mcc_r
      FROM m2""")
  )

  /** Mutual information between two categorical columns — the
    * feature-selection / dependency screen (does geography carry
    * information about market segment?). MI = (1/n)·Σ_cells
    * n_xy·ln(n·n_xy / (n_x·n_y)); every count is an exact BIGINT from
    * ONE cell census, marginals are window sums OVER THE CELL TABLE
    * (≤ |nations|×|segments| rows, never data-sized — the q_chisq
    * idiom), and each cell's contribution is rounded to 9 dp and
    * summed in DECIMAL so aggregation order cannot perturb the result
    * (the q_entropy idiom). Integer products stay within BIGINT up to
    * n ≈ 3·10⁹ rows (n·n_xy ≤ n²); beyond that the operands would move
    * to DECIMAL(38,0) like q_auc.
    */
  val mutualInfo = Q(
    "q_mutual_info",
    (s, dir) => {
      val cells = t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("nxy"))
      val wRow = Window.partitionBy(col("c_nationkey"))
      val wCol = Window.partitionBy(col("c_mktsegment"))
      val wAll = Window.partitionBy()
      cells
        .withColumn("nx", sum(col("nxy")).over(wRow))
        .withColumn("ny", sum(col("nxy")).over(wCol))
        .withColumn("n", sum(col("nxy")).over(wAll))
        .select(col("n"), col("nxy"),
          round(col("nxy") * log((col("n") * col("nxy")).cast(DoubleType)
            / (col("nx") * col("ny")).cast(DoubleType)), 9)
            .cast(DecimalType(28, 9)).as("term"))
        .groupBy()
        .agg(max(col("n")).as("n"), count(lit(1)).as("n_cells"),
          sum(col("term")).as("s"))
        .select(col("n"), col("n_cells"),
          round(col("s").cast(DoubleType) / col("n").cast(DoubleType), 6)
            .as("mi_r"))
    },
    Some("""
      WITH cells AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS nxy
        FROM customer GROUP BY 1, 2),
      m AS (
        SELECT nxy,
               sum(nxy) OVER (PARTITION BY c_nationkey) AS nx,
               sum(nxy) OVER (PARTITION BY c_mktsegment) AS ny,
               sum(nxy) OVER () AS n
        FROM cells),
      terms AS (
        SELECT n, nxy,
               CAST(round(nxy * ln(CAST(n * nxy AS DOUBLE)
                 / CAST(nx * ny AS DOUBLE)), 9) AS DECIMAL(28,9)) AS term
        FROM m)
      SELECT CAST(max(n) AS BIGINT) AS n, count(*) AS n_cells,
             round(CAST(sum(term) AS DOUBLE) / CAST(max(n) AS DOUBLE), 6) AS mi_r
      FROM terms""")
  )

  /** Smoothed target encoding — the leakage-safe categorical feature
    * transform (replace each category with a shrunk estimate of the
    * target rate): enc(seg) = (n_pos + m·prior) / (n + m) with
    * smoothing m = 20 and prior = the global positive rate, target =
    * the q_auc frequent-orderer label. Counts are exact BIGINTs from
    * ONE segment census; the global prior rides as window sums over
    * the 5-row segment table; the shrinkage formula is a fixed-order
    * IEEE expression per segment row. Scale shape: label aggregate +
    * broadcast join + one keyed census — the encoding table an
    * ML pipeline would broadcast back onto 100 TB of training rows.
    */
  val targetEnc = Q(
    "q_target_enc",
    (s, dir) => {
      val census = t(s, dir, "customer")
        .join(broadcast(posKeys(s, dir)), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("is_pos"), lit(0L))).as("n_pos"))
      val wAll = Window.partitionBy()
      census
        .withColumn("tn", sum(col("n")).over(wAll))
        .withColumn("tp", sum(col("n_pos")).over(wAll))
        .selectExpr("segment", "n", "n_pos",
          """round((CAST(n_pos AS DOUBLE)
               + 20.0 * (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)))
              / CAST(n + 20 AS DOUBLE), 6) AS enc_r""")
        .orderBy(col("segment"))
    },
    Some("""
      WITH pos AS (
        SELECT o_custkey FROM orders
        GROUP BY 1 HAVING count(*) >= 12),
      census AS (
        SELECT c_mktsegment AS segment, count(*) AS n,
               CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_pos
        FROM customer c LEFT JOIN pos ON c_custkey = o_custkey
        GROUP BY 1),
      m AS (
        SELECT segment, n, n_pos,
               sum(n) OVER () AS tn, sum(n_pos) OVER () AS tp
        FROM census)
      SELECT segment, n, n_pos,
             round((CAST(n_pos AS DOUBLE)
               + 20.0 * (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)))
              / CAST(n + 20 AS DOUBLE), 6) AS enc_r
      FROM m ORDER BY segment""")
  )

  /** Calibration / reliability table — is the score well-calibrated,
    * bin by bin? Normalize the score to [0,1] by the observed min/max
    * (broadcast 1-row extremes, the q_decile_lift broadcast-cutoff
    * idiom), bucket into 10 fixed-width bins, and per bin report count,
    * mean predicted probability and observed positive rate — the gap
    * column is the reliability-diagram vertical distance. Mean
    * prediction follows the q_entropy determinism idiom (9 dp-rounded
    * per-row terms summed in DECIMAL); counts are exact; the binning
    * expression is textually identical IEEE arithmetic on both
    * engines. ONE customer scan + a 10-row census.
    */
  val calibration = Q(
    "q_calibration",
    (s, dir) => {
      val scored = t(s, dir, "customer")
        .join(broadcast(posKeys(s, dir)), col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_acctbal").cast(DoubleType).as("score"),
          coalesce(col("is_pos"), lit(0L)).as("y"))
      val ext = scored.groupBy().agg(
        min(col("score")).as("lo"), max(col("score")).as("hi"))
      scored.crossJoin(broadcast(ext))
        .selectExpr(
          "least(CAST(floor((score - lo) / (hi - lo) * 10.0) AS BIGINT), 9) AS bin",
          "round((score - lo) / (hi - lo), 9) AS p", "y")
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
          sum(col("p").cast(DecimalType(28, 9))).as("sp"))
        .selectExpr("bin", "n", "n_pos",
          "round(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_pred_r",
          "round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_rate_r",
          """round(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)
             - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gap_r""")
        .orderBy(col("bin"))
    },
    Some("""
      WITH pos AS (
        SELECT o_custkey FROM orders
        GROUP BY 1 HAVING count(*) >= 12),
      s AS (
        SELECT CAST(c_acctbal AS DOUBLE) AS score,
               CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
        FROM customer c LEFT JOIN pos ON c_custkey = o_custkey),
      ext AS (SELECT min(score) AS lo, max(score) AS hi FROM s),
      b AS (
        SELECT least(CAST(floor((score - lo) / (hi - lo) * 10.0) AS BIGINT), 9)
                 AS bin,
               round((score - lo) / (hi - lo), 9) AS p, y
        FROM s CROSS JOIN ext),
      census AS (
        SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
               sum(CAST(p AS DECIMAL(28,9))) AS sp
        FROM b GROUP BY 1)
      SELECT bin, n, n_pos,
             round(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_pred_r,
             round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_rate_r,
             round(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)
               - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gap_r
      FROM census ORDER BY bin""")
  )

  /** l-diversity census — the attribute-disclosure audit k-anonymity
    * misses (q_kanon): a class can hold k=50 rows yet leak the
    * sensitive value if all 50 share it. Equivalence classes over the
    * released quasi-identifiers (nation × market segment); sensitive
    * attribute = the account-balance band; l = exact distinct
    * sensitive values per class, reported as a class census by
    * l-band (l=1 is a homogeneity breach). Scale shape: ONE keyed
    * aggregate with two-phase partial distinct (dedup before the
    * shuffle), then the band rollup over the ≤125-row class table.
    */
  val lDiversity = Q(
    "q_l_diversity",
    (s, dir) => {
      val classes = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("k"),
          countDistinct(
            floor(col("c_acctbal").cast(DoubleType) / 1000.0)).as("l"))
      classes
        .groupBy(
          when(col("l") === 1, "l=1")
            .when(col("l") < 5, "l=2-4")
            .otherwise("l>=5").as("l_band"))
        .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_rows"),
          min(col("l")).as("min_l"))
        .orderBy(col("l_band"))
    },
    Some("""
      WITH classes AS (
        SELECT n_name, c_mktsegment, count(*) AS k,
               CAST(count(DISTINCT floor(CAST(c_acctbal AS DOUBLE) / 1000.0))
                 AS BIGINT) AS l
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2)
      SELECT CASE WHEN l = 1 THEN 'l=1'
                  WHEN l < 5 THEN 'l=2-4'
                  ELSE 'l>=5' END AS l_band,
             count(*) AS n_classes,
             CAST(sum(k) AS BIGINT) AS n_rows,
             min(l) AS min_l
      FROM classes GROUP BY 1 ORDER BY l_band""")
  )

  /** One-way ANOVA — does mean account balance differ across market
    * segments? The numeric-target complement of q_chisq's categorical
    * dependence test: F = (SSB/(k−1)) / (SSW/(N−k)) plus η² (effect
    * size). Balances route through exact integer CENTS; per-group
    * count/sum/sum-of-squares ride DECIMAL(38,0) (the q_corr_matrix
    * idiom), and the only order-sensitive float — Σ s_g²/n_g — is
    * rounded to 9 dp per GROUP and summed in DECIMAL over the 5-row
    * group table (the q_entropy idiom), so partial-aggregation order
    * cannot perturb it. Scale shape: ONE segment-keyed aggregate with
    * map-side partials, then arithmetic on k rows.
    */
  val anova = Q(
    "q_anova",
    (s, dir) => {
      val cents = (col("c_acctbal") * 100).cast(DecimalType(38, 0))
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_g"),
          sum(cents).as("s_g"),
          sum(cents * cents).as("q_g"))
        .selectExpr("n_g", "s_g", "q_g",
          """CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g, 9)
             AS DECIMAL(38,9)) AS term""")
        .groupBy()
        .agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
          sum(col("s_g")).as("s"), sum(col("q_g")).as("q"),
          sum(col("term")).as("t"))
        .selectExpr("k", "n",
          "CAST(t AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssb",
          "CAST(q AS DOUBLE) - CAST(t AS DOUBLE) AS ssw")
        .selectExpr("k", "n",
          "round(ssb / (k - 1) / (ssw / (n - k)), 6) AS f_r",
          "round(ssb / (ssb + ssw), 6) AS eta2_r")
    },
    Some("""
      WITH c AS (
        SELECT c_mktsegment, CAST(c_acctbal * 100 AS HUGEINT) AS x
        FROM customer),
      g AS (
        SELECT c_mktsegment, count(*) AS n_g, sum(x) AS s_g,
               sum(x * x) AS q_g
        FROM c GROUP BY 1),
      g2 AS (
        SELECT n_g, s_g, q_g,
               CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g, 9)
                 AS DECIMAL(38,9)) AS term
        FROM g),
      tot AS (
        SELECT count(*) AS k, CAST(sum(n_g) AS BIGINT) AS n,
               sum(s_g) AS s, sum(q_g) AS q, sum(term) AS t
        FROM g2),
      e AS (
        SELECT k, n,
               CAST(t AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssb,
               CAST(q AS DOUBLE) - CAST(t AS DOUBLE) AS ssw
        FROM tot)
      SELECT k, n,
             round(ssb / (k - 1) / (ssw / (n - k)), 6) AS f_r,
             round(ssb / (ssb + ssw), 6) AS eta2_r
      FROM e""")
  )

  /** Deterministic masking / pseudonymization — the release transform
    * that pairs with the k-anonymity ([[kanon]]) and l-diversity
    * ([[lDiversity]]) audits: direct identifiers become keyed md5
    * tokens (same input → same token, so joins across released tables
    * still line up), the numeric quasi-identifier is generalized to a
    * $1000 band, and only the working segment column survives intact.
    * The 'k:'/'n:' prefixes are domain separators; production replaces
    * them with a secret salt from the key store — same plan.
    *
    * Scale shape: a pure map-side projection (md5 + floor per row) +
    * the final sort — one shuffle; nothing about the transform needs
    * to see two rows. Cross-engine: md5 hex and exact integer banding
    * are bit-identical on both engines (floor of the DOUBLE division
    * is exact for these 2-decimal inputs).
    */
  val masking = Q(
    "q_masking",
    (s, dir) => {
      t(s, dir, "customer")
        .selectExpr(
          "md5(concat('k:', CAST(c_custkey AS STRING))) AS key_token",
          "md5(concat('n:', c_name)) AS name_token",
          "CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0) * 1000 AS BIGINT) AS bal_band",
          "c_mktsegment")
        // sort barrier (r20 sort-hazard audit): 0.53 -> 0.45s at
        // sf0.1 — the md5 projection re-ran in the range sampler's
        // pass (the q_pii_scrub expensive-map/narrow-output shape)
        .repartition(col("key_token"))
        .orderBy(col("key_token"))
    },
    Some("""
      SELECT md5(concat('k:', CAST(c_custkey AS VARCHAR))) AS key_token,
             md5(concat('n:', c_name)) AS name_token,
             CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0) * 1000 AS BIGINT)
               AS bal_band,
             c_mktsegment
      FROM customer ORDER BY key_token""")
  )

  /** Differentially-private histogram release — the noisy census that
    * completes the governance quartet (k-anonymity audit, l-diversity
    * audit, masking transform, DP release): per-nation customer counts
    * + Laplace(b = 1/ε, ε = 1) noise via the inverse CDF,
    * X = −b·sgn(u−½)·ln(1−2|u−½|). Count queries have sensitivity 1,
    * so ε = 1 gives the textbook (1,0)-DP release.
    *
    * Determinism: u ∈ (0,1) comes from the same exact 31-bit Lehmer
    * hash as q_weighted_sample, seeded by the group's stable integer
    * key — every product stays under 2^62, u is never exactly 0, ½ or
    * 1, and the noise expression is ONE textually identical IEEE chain
    * on both engines (sgn as CASE; |u−½| < ½ keeps the ln argument
    * positive), rounded to 9 dp. Production swaps the keyed hash for a
    * salted 128-bit digest the curator keeps secret — the hash IS the
    * noise draw, so a per-release salt re-randomizes it; same plan.
    * Scale shape: ONE nation-keyed census (map-side partials, 25
    * groups) + a per-group scalar expression + the 25-row sort —
    * noise generation adds ZERO shuffles and no driver round-trip.
    * The true count rides along for the oracle compare and the spec's
    * noise-bound assert; a production release projects it away.
    */
  val dpRelease = Q(
    "q_dp_release",
    (s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("n_nationkey"))
        .agg(count(lit(1)).as("n"))
        .selectExpr("n_name", "n",
          "((n_nationkey % 2147483647) * 2654435761) % 2147483647 AS h")
        .selectExpr("n_name", "n", "(h + 1) / 2147483648e0 AS u")
        .selectExpr("n_name", "n",
          """round(n + (CASE WHEN u < 5e-1 THEN 1e0 ELSE -1e0 END)
             * ln(1e0 - 2e0 * abs(u - 5e-1)), 9) AS noisy_r""")
        .orderBy(col("n_name"))
    },
    Some("""
      WITH census AS (
        SELECT n_name, n_nationkey, count(*) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
      draw AS (
        SELECT n_name, n,
               (((n_nationkey % 2147483647) * 2654435761) % 2147483647 + 1)
                 / 2147483648e0 AS u
        FROM census)
      SELECT n_name, n,
             round(n + (CASE WHEN u < 5e-1 THEN 1e0 ELSE -1e0 END)
               * ln(1e0 - 2e0 * abs(u - 5e-1)), 9) AS noisy_r
      FROM draw ORDER BY n_name""")
  )

  override def all: Seq[Q] = Seq(
    distinctQ, countDistinctQ, hllDistinct, kmvQ, kmvOverlap,
    rollupQ, cubeQ, groupingSetsQ,
    mapFns, windowRank, windowFrame,
    topK, topKNative, sessionize, setOps, joinSmj, semiJoin, rangeJoin, sortLimit, asofJoin,
    percentile, approxPercentile, windowRange, saltedJoinQ, saltedAggQ,
    pivotQ, argmax,
    outerJoin, profile, mergeUpsert, resample, ntileQ, corrQ, windowStats,
    scd2, joinShj, moments, zorder, funnel, retention, histogram, rfm, basket,
    diffSnapshot, percentTotal, colProfile, timeIntel, skyline, groupConcat,
    modeQ, bloomPrune, histogramEqDepth, intervalJoin,
    windowDist, benford, gini, linreg, setOpsAll, dqRules, kanon, chisq, ltv,
    corrMatrix, auc, decileLift, psi, ks, emd, survival,
    confusion, mutualInfo, targetEnc, calibration, lDiversity, masking,
    stickiness, anova, cramersV, dpRelease)
}
