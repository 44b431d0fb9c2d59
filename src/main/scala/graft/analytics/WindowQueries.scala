package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.{Q, QueryModule}
import graft.util.Tables._

/** Windows, top-k and ordering: ranking and frames, per-group top-k,
  * sessions, funnels, retention, SCD2, resampling, time intelligence,
  * skyline, z-order and sort/limit. Windows partition on
  * bounded-cardinality keys. */
object WindowQueries extends QueryModule {

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
    topK.oracle
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

  /** Each user's first `eventType` event after their time `after` in
    * `prev`: (user_id, `as`), micros. The ordered-step rule q_funnel
    * and q_conv_time share. */
  private[analytics] def firstAfter(e: DataFrame, eventType: String,
      prev: DataFrame, after: String, as: String): DataFrame =
    e.filter(col("event_type") === eventType)
      .join(prev, Seq("user_id"))
      .filter(col("us") > col(after))
      .groupBy(col("user_id")).agg(min(col("us")).as(as))

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
      val t2 = firstAfter(e, "click", t1, "t1", "t2")
      val t3 = firstAfter(e, "purchase", t2, "t2", "t3")
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

  override def all: Seq[Q] = Seq(
    windowRank, windowFrame, topK, topKNative, sessionize, sortLimit,
    windowRange, resample, ntileQ, windowStats, scd2, zorder,
    funnel, retention, timeIntel, skyline, windowDist, ltv,
    stickiness)
}
