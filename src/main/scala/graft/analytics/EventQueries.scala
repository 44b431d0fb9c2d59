package graft.analytics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.{Q, QueryModule}
import graft.util.Tables._

/** Event-stream analytics: EWMA smoothing, time-grid gap fill (LOCF),
  * and z-score anomaly flags (funnel + cohort retention live in
  * WindowQueries).
  *
  * The reference delegates its analytics surface to a Power BI iframe
  * (reference `static/report.html:2`; SURVEY.md §2.5) — these are the
  * event-product analyses such a dashboard runs, re-expressed as
  * declarative Spark plans so Catalyst sees every filter and join.
  *
  * Scale notes (100 TB): every query aggregates per user / per
  * (user, hour) FIRST — one hash shuffle keyed on the natural
  * partition key — and only then works on the (much smaller)
  * aggregate. Nothing here sorts the raw event stream globally; the
  * only windows are partitioned per user (bounded key) or run on
  * already-aggregated rows.
  */
object EventQueries extends QueryModule {

  /** Exponentially weighted moving average (α = 1/2) of each user's
    * event values, bounded to the last 8 observations so the window is
    * a fixed-size frame, not unbounded recursion — the form that runs
    * on a per-user window exchange at any scale. Weights are exact
    * binary fractions and the numerator/denominator are summed in a
    * fixed textual order, so both engines do the identical IEEE
    * double arithmetic.
    */
  val ewma = Q(
    "q_ewma",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wts = (1 to 7).map(i => math.pow(0.5, i))
      val num = wts.zipWithIndex.foldLeft(col("value") * lit(1.0)) {
        case (acc, (wt, i)) =>
          acc + coalesce(lag(col("value"), i + 1).over(w) * lit(wt), lit(0.0))
      }
      val den = wts.zipWithIndex.foldLeft(lit(1.0)) {
        case (acc, (wt, i)) =>
          acc + when(lag(col("value"), i + 1).over(w).isNotNull, lit(wt))
            .otherwise(lit(0.0))
      }
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          round(num / den, 6).as("ewma_r"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id, value,
             round((value * 1.0
                    + coalesce(lag(value, 1) OVER w * 0.5, 0.0)
                    + coalesce(lag(value, 2) OVER w * 0.25, 0.0)
                    + coalesce(lag(value, 3) OVER w * 0.125, 0.0)
                    + coalesce(lag(value, 4) OVER w * 0.0625, 0.0)
                    + coalesce(lag(value, 5) OVER w * 0.03125, 0.0)
                    + coalesce(lag(value, 6) OVER w * 0.015625, 0.0)
                    + coalesce(lag(value, 7) OVER w * 0.0078125, 0.0))
                   /
                   (1.0
                    + CASE WHEN lag(value, 1) OVER w IS NOT NULL THEN 0.5 ELSE 0.0 END
                    + CASE WHEN lag(value, 2) OVER w IS NOT NULL THEN 0.25 ELSE 0.0 END
                    + CASE WHEN lag(value, 3) OVER w IS NOT NULL THEN 0.125 ELSE 0.0 END
                    + CASE WHEN lag(value, 4) OVER w IS NOT NULL THEN 0.0625 ELSE 0.0 END
                    + CASE WHEN lag(value, 5) OVER w IS NOT NULL THEN 0.03125 ELSE 0.0 END
                    + CASE WHEN lag(value, 6) OVER w IS NOT NULL THEN 0.015625 ELSE 0.0 END
                    + CASE WHEN lag(value, 7) OVER w IS NOT NULL THEN 0.0078125 ELSE 0.0 END),
                   6) AS ewma_r
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY event_id""")
  )

  /** Hourly time-grid gap fill with last-observation-carried-forward:
    * per user, build the dense hour spine between that user's first
    * and last active hour, left-join the per-hour latest value
    * (latest = max event_id in the hour — a unique, deterministic
    * tiebreak), and LOCF-fill the holes with an ignore-nulls running
    * last. The spine is generated FROM the per-user bounds aggregate
    * (`sequence` explode is map-side), so nothing scans or shuffles
    * the raw stream more than once.
    */
  val gapFill = Q(
    "q_gap_fill",
    (s, dir) => {
      val hourly = events(s, dir)
        .withColumn("h", date_trunc("hour", col("ts")))
        .groupBy(col("user_id"), col("h"))
        .agg(max_by(col("value"), col("event_id")).as("v"))
      val spine = hourly
        .groupBy(col("user_id"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("user_id", "h"), "left")
        .select(
          col("user_id"), unix_millis(col("h")).as("h_ms"),
          last(col("v"), ignoreNulls = true).over(w).as("v_fill"),
          when(col("v").isNull, lit(1L)).otherwise(lit(0L)).as("is_gap"))
        .orderBy(col("user_id"), col("h_ms"))
    },
    Some("""
      WITH hourly AS (
        SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
               arg_max(value, event_id) AS v
        FROM events GROUP BY 1, 2),
      bounds AS (
        SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
      spine AS (
        SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM bounds),
      j AS (
        SELECT s.user_id, s.h, hourly.v
        FROM spine s
        LEFT JOIN hourly ON hourly.user_id = s.user_id AND hourly.h = s.h)
      SELECT user_id, CAST(epoch_ms(h) AS BIGINT) AS h_ms,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill,
             CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
      FROM j ORDER BY user_id, h_ms""")
  )

  /** Z-score anomaly flags: per-event-type mean/σ from DECIMAL-exact
    * power sums (the q_moments idiom — order-independent partial
    * aggregation), broadcast back onto the stream, and keep |z| > 2.
    * The filter tests the ROUNDED z so the cut line is bit-identical
    * in both engines. Stats side is one tiny row per event type →
    * broadcast join, the stream never shuffles.
    */
  val anomaly = Q(
    "q_anomaly",
    (s, dir) => {
      val x = col("value").cast(DecimalType(18, 2))
      val stats = events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).cast(DoubleType).as("n"),
          sum(x).cast(DoubleType).as("s1"),
          sum(x * x).cast(DoubleType).as("s2"))
      events(s, dir)
        .join(broadcast(stats), Seq("event_type"))
        .selectExpr(
          "event_id", "event_type", "value",
          "round((value - s1/n) / sqrt(s2/n - (s1/n)*(s1/n)), 6) AS z_r")
        .filter(abs(col("z_r")) > lit(2.0))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH stats AS (
        SELECT event_type,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS s1,
               CAST(sum(x*x) AS DOUBLE) AS s2
        FROM (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS x FROM events)
        GROUP BY 1),
      z AS (
        SELECT event_id, e.event_type AS event_type, value,
               round((value - s1/n) / sqrt(s2/n - (s1/n)*(s1/n)), 6) AS z_r
        FROM events e JOIN stats ON e.event_type = stats.event_type)
      SELECT * FROM z WHERE abs(z_r) > 2.0 ORDER BY event_id""")
  )

  /** Last-touch attribution — every purchase credits the same user's
    * most recent view, if one happened within the 7-day lookback.
    * The "most recent preceding view" is a running conditional max
    * over ONE per-user window (timestamps increase along the frame,
    * so max(view ts so far) IS the last view) — no join at all, which
    * is the cheapest as-of shape when both sides live in the same
    * stream. Micros-integer timestamps keep the window arithmetic and
    * the 7-day cut in exact integers.
    */
  val attribution = Q(
    "q_attribution",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("view_us",
          max(when(col("event_type") === "view", col("us"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("us").as("purchase_us"), col("view_us"),
          when(col("view_us").isNotNull &&
            col("us") - col("view_us") <= lit(604800000000L), 1L)
            .otherwise(0L).as("attributed"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
      a AS (
        SELECT event_id, user_id, event_type, us,
               max(CASE WHEN event_type = 'view' THEN us END) OVER (
                 PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_us
        FROM e)
      SELECT event_id, user_id, us AS purchase_us, view_us,
             CAST(CASE WHEN view_us IS NOT NULL
                        AND us - view_us <= 604800000000
                       THEN 1 ELSE 0 END AS BIGINT) AS attributed
      FROM a WHERE event_type = 'purchase' ORDER BY event_id""")
  )

  /** Rolling median — the robust-statistics twin of q_ewma: an exact
    * percentile evaluated as a WINDOWED aggregate over the last 8
    * observations per user (the aggregate-in-frame combination the
    * rest of the window surface doesn't exercise). The frame is
    * fixed-size and the partition key bounded, so state per task is
    * 8 values regardless of stream length; interpolation parity with
    * DuckDB's quantile_cont is the same contract q_percentile pins.
    */
  val rollingMedian = Q(
    "q_rolling_median",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-7, Window.currentRow)
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          expr("percentile(value, 0.5D)").over(w).as("med"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id, value,
             quantile_cont(value, 0.5) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS med
      FROM events ORDER BY event_id""")
  )

  /** Event-type transition matrix (first-order Markov) — the "what do
    * users do next" path analysis behind journey diagrams: per-user
    * lag pairs (prev_type → type) from ONE window exchange, counted
    * corpus-wide, with the row-conditional probability derived from
    * integer counts only at projection time (fixed-order double
    * division + 6 dp round). Transition cardinality is event-types²
    * regardless of stream size, so the count aggregate is the only
    * real shuffle.
    */
  val transitions = Q(
    "q_transitions",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy(col("prev_type"))
        .agg(sum(col("n")).as("n_from"))
      pairs.join(totals, Seq("prev_type"))
        .select(col("prev_type"), col("event_type"), col("n"),
          round(col("n") * lit(1.0) / col("n_from"), 6).as("p_r"))
        .orderBy(col("prev_type"), col("event_type"))
    },
    Some("""
      WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type, 1) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events),
      pairs AS (
        SELECT prev_type, event_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      totals AS (
        SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from
        FROM pairs GROUP BY 1)
      SELECT pairs.prev_type AS prev_type, event_type, n,
             round(n * CAST(1 AS DOUBLE) / n_from, 6) AS p_r
      FROM pairs JOIN totals ON pairs.prev_type = totals.prev_type
      ORDER BY prev_type, event_type""")
  )

  /** MAD outliers — the robust twin of [[anomaly]]: deviation from the
    * per-type MEDIAN, scaled by the median absolute deviation, so a
    * few extreme values can't drag the cut line the way they drag a
    * mean/σ. The cut tests the ROUNDED score — same engine-parity
    * contracts as q_anomaly and q_percentile.
    *
    * Both medians run over the (event_type, value) CENSUS with the
    * frequency-weighted `percentile(col, p, c)` (r21): the raw form
    * funnelled each type's full value multiset into one reducer's
    * OpenHashMap TWICE (med, then mad over the re-derived dev rows)
    * and scanned events three times. The census is a codegen hash
    * aggregate whose output is bounded by the VALUE DOMAIN (2-dp
    * readings — ~18k distinct at sf0.1 and saturating, vs rows
    * growing without bound), so at 100 TB the percentile buffers hold
    * domain-sized, not corpus-sized, state. Weighted percentile over
    * the census is the same multiset, same interpolation — bit-equal
    * by construction. The lazy localCheckpoint materializes the
    * census once for both the med and mad passes; med+mad broadcast
    * back as ONE 5-row table, so the full corpus is scanned exactly
    * once more (score+filter pass). 3 scans + 2 corpus-sized
    * percentile buffers → 2 scans + 2 domain-bounded ones
    * (plans/r21/q_outlier_mad_{before,after}.txt).
    */
  val outlierMad = Q(
    "q_outlier_mad",
    (s, dir) => {
      val ev = events(s, dir)
      val byVal = ev.groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val med = byVal.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5D, c)").as("med"))
      val stats = byVal.join(broadcast(med), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          expr("percentile(abs(value - med), 0.5D, c)").as("mad"),
          max(col("med")).as("med"))
      ev.join(broadcast(stats), Seq("event_type"))
        .withColumn("score_r",
          round(abs(col("value") - col("med")) / col("mad"), 6))
        .filter(col("score_r") > lit(3.5))
        .select(col("event_id"), col("event_type"), col("value"), col("score_r"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY 1),
      dev AS (
        SELECT event_id, e.event_type AS event_type, value,
               abs(value - med) AS adev
        FROM events e JOIN med ON e.event_type = med.event_type),
      m2 AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY 1)
      SELECT event_id, dev.event_type AS event_type, value,
             round(adev / mad, 6) AS score_r
      FROM dev JOIN m2 ON dev.event_type = m2.event_type
      WHERE round(adev / mad, 6) > 3.5
      ORDER BY event_id""")
  )

  /** A/B readout — Welch z on the value metric: users hash-split into
    * variants (deterministic md5 bucket, the same primitive as the
    * samplers), then a two-sample z statistic on mean event value
    * from DECIMAL power sums (the q_moments idiom: order-independent
    * partials; the only doubles are the final fixed-order formula).
    * Chosen over a two-proportion test because a saturating
    * conversion metric (every heavy user converts) zeroes the pooled
    * variance — a continuous metric's Welch denominator can't
    * degenerate. Significance cuts on the ROUNDED z. One per-event
    * pass + a 2-row variant aggregate.
    */
  val abtest = Q(
    "q_abtest",
    (s, dir) => {
      val x = col("value").cast(DecimalType(18, 2))
      val agg = events(s, dir)
        .withColumn("variant",
          conv(substring(md5(concat(lit("ab:"), col("user_id").cast("string"))), 1, 6), 16, 10)
            .cast("int") % 2)
        .groupBy(col("variant"))
        .agg(
          count(lit(1)).as("n"),
          sum(x).cast(DoubleType).as("s1"),
          sum(x * x).cast(DoubleType).as("s2"))
      val a = agg.filter(col("variant") === 0)
        .select(col("n").as("n_a"), col("s1").as("s1_a"), col("s2").as("s2_a"))
      val b = agg.filter(col("variant") === 1)
        .select(col("n").as("n_b"), col("s1").as("s1_b"), col("s2").as("s2_b"))
      val zExpr = """round(
             (s1_a / n_a - s1_b / n_b)
             / sqrt((s2_a / n_a - (s1_a / n_a) * (s1_a / n_a)) / n_a
                  + (s2_b / n_b - (s1_b / n_b) * (s1_b / n_b)) / n_b), 6)"""
      a.crossJoin(b)
        .selectExpr(
          "n_a", "round(s1_a / n_a, 6) AS mean_a",
          "n_b", "round(s1_b / n_b, 6) AS mean_b",
          s"$zExpr AS z_r",
          s"CAST(CASE WHEN abs($zExpr) > 1.96 THEN 1 ELSE 0 END AS BIGINT) AS significant")
    },
    Some("""
      WITH e AS (
        SELECT CAST(value AS DECIMAL(18,2)) AS x,
               CAST('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 6)
                    AS INTEGER) % 2 AS variant
        FROM events),
      agg AS (
        SELECT variant, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS DOUBLE) AS s1,
               CAST(sum(x*x) AS DOUBLE) AS s2
        FROM e GROUP BY 1),
      a AS (SELECT n AS n_a, s1 AS s1_a, s2 AS s2_a FROM agg WHERE variant = 0),
      b AS (SELECT n AS n_b, s1 AS s1_b, s2 AS s2_b FROM agg WHERE variant = 1)
      SELECT n_a, round(s1_a / n_a, 6) AS mean_a,
             n_b, round(s1_b / n_b, 6) AS mean_b,
             round(
               (s1_a / n_a - s1_b / n_b)
               / sqrt((s2_a / n_a - (s1_a / n_a) * (s1_a / n_a)) / n_a
                    + (s2_b / n_b - (s1_b / n_b) * (s1_b / n_b)) / n_b), 6) AS z_r,
             CAST(CASE WHEN abs(round(
               (s1_a / n_a - s1_b / n_b)
               / sqrt((s2_a / n_a - (s1_a / n_a) * (s1_a / n_a)) / n_a
                    + (s2_b / n_b - (s1_b / n_b) * (s1_b / n_b)) / n_b), 6)) > 1.96
               THEN 1 ELSE 0 END AS BIGINT) AS significant
      FROM a CROSS JOIN b""")
  )

  /** Lag-1 autocorrelation of the hourly volume series — the
    * seasonality probe behind anomaly baselines and capacity models.
    * The raw stream reduces to the hourly census FIRST (one keyed
    * aggregate); the global lag window then runs on the SERIES, whose
    * length is bounded by the time range, not the data volume — the
    * one place an unpartitioned window is the right call at 100 TB.
    * Counts are integers, so every moment (n, Σx, Σy, Σxy, Σx², Σy²)
    * is exact BIGINT arithmetic and only the final Pearson formula
    * touches doubles (fixed order + 6 dp round, the q_corr contract).
    */
  val autocorr = Q(
    "q_autocorr",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
      val p = hourly
        .withColumn("prev", lag(col("c"), 1).over(Window.orderBy(col("h"))))
        .filter(col("prev").isNotNull)
      p.agg(
          count(lit(1)).as("n"),
          sum(col("c")).as("sx"), sum(col("prev")).as("sy"),
          sum(col("c") * col("prev")).as("sxy"),
          sum(col("c") * col("c")).as("sxx"),
          sum(col("prev") * col("prev")).as("syy"))
        .selectExpr("n",
          """round(CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr_r""")
    },
    Some("""
      WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, count(*) AS c
        FROM events GROUP BY 1),
      p AS (
        SELECT c, lag(c, 1) OVER (ORDER BY h) AS prev FROM hourly),
      m AS (
        SELECT count(*) AS n,
               CAST(sum(c) AS BIGINT) AS sx, CAST(sum(prev) AS BIGINT) AS sy,
               CAST(sum(c * prev) AS BIGINT) AS sxy,
               CAST(sum(c * c) AS BIGINT) AS sxx,
               CAST(sum(prev * prev) AS BIGINT) AS syy
        FROM p WHERE prev IS NOT NULL)
      SELECT n,
             round(CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr_r
      FROM m""")
  )

  /** CUSUM mean-shift changepoint over the hourly volume series — the
    * "when did behavior change" probe behind deploy regressions and
    * incident timelines: the hour k maximizing |Σ_{i≤k}(cᵢ − mean)|
    * is the classic single-changepoint estimate. INTEGER-EXACT by
    * construction: the mean is never materialized — multiplying the
    * CUSUM through by H (the hour count) gives H·Sₖ − k·total, all
    * BIGINT, so there is no running double sum to drift between
    * engines. Like q_autocorr, the raw stream reduces to the hourly
    * census FIRST; the one unpartitioned window then runs on the
    * SERIES (bounded by the time range, not data volume), and total/H
    * ride back as one broadcast scalar.
    */
  val changepoint = Q(
    "q_changepoint",
    (s, dir) => {
      val hourly = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("h"))
      val tot = hourly.agg(sum(col("n")).as("total"), count(lit(1)).as("hours"))
      hourly
        .select(col("h"),
          row_number().over(w).cast(LongType).as("k"),
          sum(col("n"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("s"))
        .crossJoin(broadcast(tot))
        .select(
          date_format(col("h"), "yyyy-MM-dd HH:00").as("hour"),
          col("k"),
          (col("hours") * col("s") - col("k") * col("total"))
            .as("cusum_scaled"))
        .orderBy(abs(col("cusum_scaled")).desc, col("hour"))
        .limit(1)
    },
    Some("""
      WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, count(*) AS n
        FROM events GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                     count(*) AS hours FROM hourly),
      c AS (
        SELECT h, CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS k,
               CAST(sum(n) OVER (ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS s
        FROM hourly)
      SELECT strftime(h, '%Y-%m-%d %H:00') AS hour, k,
             CAST(hours * s - k * total AS BIGINT) AS cusum_scaled
      FROM c CROSS JOIN tot
      ORDER BY abs(hours * s - k * total) DESC, hour LIMIT 1""")
  )

  /** Time-to-convert distribution — the latency companion to
    * q_funnel's reach counts: per user, seconds from FIRST view to the
    * first purchase after it, summarized as conversion count + median
    * + p90. Delays are exact integer seconds (epoch-micro difference,
    * integer floor-divide); only the percentile interpolation touches
    * doubles, computed from the same exact integers on both engines
    * (cast + 6 dp round, the q_percentile contract). Scale shape: two
    * keyed per-user aggregates then ONE mergeable percentile aggregate
    * over user-sized data — no window, no sort of the raw stream.
    */
  val convTime = Q(
    "q_conv_time",
    (s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val t1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
      val conv = WindowQueries.firstAfter(e, "purchase", t1, "t1", "t2")
        .join(t1, Seq("user_id"))
        .select(expr("(t2 - t1) DIV 1000000").as("delay_s"))
      conv.agg(
          count(lit(1)).as("n_conv"),
          expr("percentile(CAST(delay_s AS DOUBLE), array(0.5D, 0.9D))").as("p"))
        .select(col("n_conv"),
          round(element_at(col("p"), 1), 6).as("p50_s"),
          round(element_at(col("p"), 2), 6).as("p90_s"))
    },
    Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      t1 AS (SELECT user_id, min(us) AS t1 FROM e
             WHERE event_type = 'view' GROUP BY user_id),
      conv AS (
        SELECT (min(us) - t1) // 1000000 AS delay_s
        FROM e JOIN t1 USING (user_id)
        WHERE event_type = 'purchase' AND us > t1
        GROUP BY e.user_id, t1),
      q AS (SELECT count(*) AS n_conv,
                   quantile_cont(CAST(delay_s AS DOUBLE), [0.5, 0.9]) AS p
            FROM conv)
      SELECT n_conv, round(p[1], 6) AS p50_s, round(p[2], 6) AS p90_s
      FROM q""")
  )

  /** Forecast backtest — naive-seasonal (value 24 hours earlier)
    * predictions over the hourly series, scored as WAPE
    * (Σ|actual−forecast| / Σactual) and signed bias. The metric choice
    * is the determinism trick: per-row percentage errors would need a
    * double SUM whose order differs across engines, but WAPE's
    * numerator and denominator are each exact BIGINT sums, so the one
    * division at the end is IEEE-identical. Same scale shape as
    * q_autocorr: reduce the stream to the hourly census first, lag on
    * the bounded series, one exact aggregate.
    */
  val backtest = Q(
    "q_backtest",
    (s, dir) => {
      val hourly = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val p = hourly
        .withColumn("f", lag(col("n"), 24).over(Window.orderBy(col("h"))))
        .filter(col("f").isNotNull)
      p.agg(
          count(lit(1)).as("n_scored"),
          sum(abs(col("n") - col("f"))).as("sae"),
          sum(col("n") - col("f")).as("sbias"),
          sum(col("n")).as("sact"))
        .select(col("n_scored"),
          round(col("sae").cast(DoubleType) / col("sact").cast(DoubleType), 6)
            .as("wape_r"),
          round(col("sbias").cast(DoubleType) / col("sact").cast(DoubleType), 6)
            .as("bias_r"))
    },
    Some("""
      WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, count(*) AS n
        FROM events GROUP BY 1),
      p AS (
        SELECT n, lag(n, 24) OVER (ORDER BY h) AS f FROM hourly),
      m AS (
        SELECT count(*) AS n_scored,
               CAST(sum(abs(n - f)) AS BIGINT) AS sae,
               CAST(sum(n - f) AS BIGINT) AS sbias,
               CAST(sum(n) AS BIGINT) AS sact
        FROM p WHERE f IS NOT NULL)
      SELECT n_scored,
             round(CAST(sae AS DOUBLE) / CAST(sact AS DOUBLE), 6) AS wape_r,
             round(CAST(sbias AS DOUBLE) / CAST(sact AS DOUBLE), 6) AS bias_r
      FROM m""")
  )

  /** Sequential-pattern support — for every ordered event-type pair
    * (a, b), how many users performed SOME a strictly before SOME b.
    * This is the sequence-mining support census (the GSP/PrefixSpan
    * length-2 base case), and it differs from q_transitions' Markov
    * census: transitions counts ADJACENT steps (occurrences), this
    * counts USERS with the pattern anywhere in their history.
    * "∃ a before b" reduces exactly to min(ts of a) < max(ts of b),
    * so the whole history collapses to one (user, type) span row —
    * the stream is touched once, and the pattern join runs on the
    * span table (≤ |types| rows per user). Scale shape: one keyed
    * aggregate on (user, type); the span self-join co-partitions on
    * user_id (the SAME exchange feeds both sides via reuse) with
    * per-user fanout bounded by types²; the pair census is
    * types²-sized. Simultaneous a/b timestamps don't count (strict
    * <) — deterministic on both engines.
    */
  val seqPairs = Q(
    "q_seq_pairs",
    (s, dir) => {
      val spans = events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      val a = spans.select(col("user_id"), col("event_type").as("a"),
        col("t0").as("a_t0"))
      val b = spans.select(col("user_id"), col("event_type").as("b"),
        col("t1").as("b_t1"))
      a.join(b, Seq("user_id"))
        .filter(col("a") =!= col("b") && col("a_t0") < col("b_t1"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("a"), col("b"))
    },
    Some("""
      WITH spans AS (
        SELECT user_id, event_type, min(ts) AS t0, max(ts) AS t1
        FROM events GROUP BY 1, 2)
      SELECT a.event_type AS a, b.event_type AS b, count(*) AS n_users
      FROM spans a JOIN spans b ON a.user_id = b.user_id
      WHERE a.event_type <> b.event_type AND a.t0 < b.t1
      GROUP BY 1, 2 ORDER BY a, b""")
  )

  /** Interval-union coverage — total seconds each user was "active"
    * when every event opens a fixed 5-minute activity window and
    * overlapping/touching windows MERGE (the classic interval-union
    * problem: billing for concurrent sessions, uptime from heartbeats,
    * machine-utilization rollups). This is the missing third member of
    * the interval family: q_interval_join is pairwise overlap,
    * q_sessionize is gap-based grouping; union-length needs the
    * sweep-line construction — sort each user's intervals by start,
    * flag a new island when a start clears the running max of all
    * PRECEDING ends, then sum per-island (max end − min start).
    * Deterministic by construction: (user, ts) is made distinct first
    * (identical intervals collapse, so the start ordering within a
    * user is total), and all arithmetic is integer epoch seconds.
    * Touching intervals (start == running max end) merge — the
    * end-exclusive convention.
    *
    * Scale shape: ONE user-keyed window exchange serves the running
    * max, the island cumsum, and (via the same partitioning) the
    * island aggregate; per-user row counts bound every frame, and the
    * final census is user-count-sized.
    */
  val intervalUnion = Q(
    "q_interval_union",
    (s, dir) => {
      val iv = events(s, dir)
        .select(col("user_id"), col("ts").cast(LongType).as("t0"))
        .distinct()
        .withColumn("t1", col("t0") + 300L)
      val byStart = Window.partitionBy(col("user_id")).orderBy(col("t0"))
      val marked = iv
        .withColumn("prev_max",
          max(col("t1")).over(byStart.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_island",
          when(col("prev_max").isNull || col("t0") > col("prev_max"), 1L)
            .otherwise(0L))
        .withColumn("island",
          sum(col("new_island"))
            .over(byStart.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      marked
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("t0")).as("s"), max(col("t1")).as("e"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("e") - col("s")).as("covered_sec"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH iv AS (
        -- floor, not CAST-round: Spark's timestamp->long cast truncates,
        -- and the driver's timestamps carry sub-second parts
        SELECT DISTINCT user_id,
               CAST(floor(EXTRACT(EPOCH FROM ts)) AS BIGINT) AS t0,
               CAST(floor(EXTRACT(EPOCH FROM ts)) AS BIGINT) + 300 AS t1
        FROM events),
      marked AS (
        SELECT user_id, t0, t1,
               CASE WHEN max(t1) OVER (PARTITION BY user_id ORDER BY t0
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      IS NULL
                 OR t0 > max(t1) OVER (PARTITION BY user_id ORDER BY t0
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS new_island
        FROM iv),
      islands AS (
        SELECT user_id, t0, t1,
               sum(new_island) OVER (PARTITION BY user_id ORDER BY t0
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM marked),
      agg AS (
        SELECT user_id, island, min(t0) AS s, max(t1) AS e
        FROM islands GROUP BY 1, 2)
      SELECT user_id, count(*) AS n_islands,
             CAST(sum(e - s) AS BIGINT) AS covered_sec
      FROM agg GROUP BY 1 ORDER BY user_id""")
  )

  /** Top clickstream paths — each user's full event-type journey with
    * consecutive repeats collapsed (view>view>click reads view>click),
    * censused to the 20 most common paths. The product question
    * q_transitions (single steps) and q_seq_pairs (unordered-support
    * pairs) can't answer: which WHOLE journeys dominate. Determinism
    * is the whole design: user histories are totally ordered by
    * (ts, event_id) — event_id breaks timestamp ties identically on
    * both engines — the collapse is a lag-filter on that order, and
    * the path string is an ORDERED aggregation (Spark: array_sort
    * over (ts, event_id, type) structs, lexicographic; DuckDB:
    * string_agg ... ORDER BY ts, event_id). Top-20 ties break on the
    * path string itself.
    *
    * Scale shape: ONE user-keyed window exchange serves the collapse
    * lag AND (same partitioning) the per-user path build; the path
    * census aggregate is distinct-path-sized and the ordered limit is
    * a TakeOrdered, never a global sort. Path length is bounded by a
    * user's collapsed history — the per-user-state analogue of every
    * other window in this module.
    */
  val paths = Q(
    "q_paths",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .groupBy(col("user_id"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")), ">").as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
        .limit(20)
    },
    Some("""
      WITH ord AS (
        SELECT user_id, ts, event_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev
        FROM events),
      kept AS (
        SELECT * FROM ord WHERE prev IS NULL OR prev <> event_type),
      paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM kept GROUP BY 1)
      SELECT path, count(*) AS n_users
      FROM paths GROUP BY 1
      ORDER BY n_users DESC, path LIMIT 20""")
  )

  /** Full autocorrelation function — Pearson r at EVERY lag 1..24 over
    * the hourly volume series, the seasonality detector (a daily cycle
    * shows as an ACF peak at lag 24) that q_autocorr's single lag-1
    * coefficient cannot see. Same determinism scheme as q_autocorr:
    * per-lag moment sums are exact BIGINT, one IEEE division per
    * output row. Instead of 24 lag-window passes, the bounded hourly
    * census pairs with itself ONCE: broadcast the 24-row lag frame
    * (an intentional broadcast nested-loop — 24×, not all-pairs),
    * compute each row's lagged key arithmetically on the integer hour
    * bucket, and equi-join back to the census — so the raw stream is
    * read once and everything after the census is (hours × 24)-sized,
    * independent of data scale.
    */
  val acf = Q(
    "q_acf",
    (s, dir) => {
      val hourly = events(s, dir)
        .select(floor(col("ts").cast(LongType) / 3600.0).as("hb"))
        .groupBy(col("hb")).agg(count(lit(1)).as("c"))
      val lags = s.range(1, 25).select(col("id").as("lag"))
      val prev = hourly.select(col("hb").as("phb"), col("c").as("pc"))
      hourly.join(broadcast(lags))
        .withColumn("k", col("hb") - col("lag"))
        .join(prev, col("k") === col("phb"))
        .groupBy(col("lag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("c")).as("sx"), sum(col("pc")).as("sy"),
          sum(col("c") * col("pc")).as("sxy"),
          sum(col("c") * col("c")).as("sxx"),
          sum(col("pc") * col("pc")).as("syy"))
        .select(col("lag"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
            / sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)
                   * (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType)), 6)
            .as("acf_r"))
        .orderBy(col("lag"))
    },
    Some("""
      WITH hourly AS (
        SELECT CAST(floor(EXTRACT(EPOCH FROM ts) / 3600.0) AS BIGINT) AS hb,
               count(*) AS c
        FROM events GROUP BY 1),
      lags AS (SELECT CAST(unnest(generate_series(1, 24)) AS BIGINT) AS lag),
      pairs AS (
        SELECT l.lag, h.c AS c, p.c AS pc
        FROM hourly h CROSS JOIN lags l
        JOIN hourly p ON h.hb - l.lag = p.hb),
      m AS (
        SELECT lag, count(*) AS n,
               CAST(sum(c) AS BIGINT) AS sx, CAST(sum(pc) AS BIGINT) AS sy,
               CAST(sum(c * pc) AS BIGINT) AS sxy,
               CAST(sum(c * c) AS BIGINT) AS sxx,
               CAST(sum(pc * pc) AS BIGINT) AS syy
        FROM pairs GROUP BY lag)
      SELECT lag, n,
             round(CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS acf_r
      FROM m ORDER BY lag""")
  )

  /** Seasonal decomposition (STL-lite) — the hour-of-day seasonal
    * profile of event volume after removing the trend: a centered
    * 24-hour moving average (RANGE window on the integer hour bucket,
    * so a missing hour cannot misalign the frame the way a ROWS frame
    * would), detrended residuals, then the mean residual per
    * hour-of-day. This is the decomposition behind "is 3am really
    * quieter or is the whole week just ramping" — the q_acf table
    * detects that seasonality exists; this measures its shape.
    * Determinism: the trend is an exact integer sum over the frame
    * divided once (IEEE-identical); detrended values are QUANTIZED to
    * 6 decimals and summed in DECIMAL(18,6), so the per-hour mean has
    * no order-dependent double accumulation. Scale shape: everything
    * after the hourly census is bounded by the hour count; the final
    * censuses are 24-row.
    */
  val seasonal = Q(
    "q_seasonal",
    (s, dir) => {
      val hourly = events(s, dir)
        .select(floor(col("ts").cast(LongType) / 3600.0).cast(LongType).as("hb"))
        .groupBy(col("hb")).agg(count(lit(1)).as("c"))
      val wTrend = Window.orderBy(col("hb")).rangeBetween(-12, 11)
      hourly
        .withColumn("w_n", count(lit(1)).over(wTrend))
        .withColumn("w_sum", sum(col("c")).over(wTrend))
        .filter(col("w_n") === 24)
        .withColumn("detr",
          round(col("c").cast(DoubleType)
            - col("w_sum").cast(DoubleType) / 24.0, 6)
            .cast(DecimalType(18, 6)))
        .groupBy(pmod(col("hb"), lit(24L)).as("hod"))
        .agg(count(lit(1)).as("n_obs"),
          round((sum(col("detr")) / count(lit(1))).cast(DoubleType), 6)
            .as("seasonal_r"))
        .orderBy(col("hod"))
    },
    Some("""
      WITH hourly AS (
        SELECT CAST(floor(EXTRACT(EPOCH FROM ts) / 3600.0) AS BIGINT) AS hb,
               count(*) AS c
        FROM events GROUP BY 1),
      tr AS (
        SELECT hb, c,
               count(*) OVER (ORDER BY hb
                 RANGE BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS w_n,
               sum(c) OVER (ORDER BY hb
                 RANGE BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS w_sum
        FROM hourly),
      d AS (
        SELECT hb % 24 AS hod,
               CAST(round(CAST(c AS DOUBLE)
                          - CAST(w_sum AS DOUBLE) / 24.0, 6)
                    AS DECIMAL(18,6)) AS detr
        FROM tr WHERE w_n = 24)
      SELECT hod, count(*) AS n_obs,
             round(CAST(sum(detr) / count(*) AS DOUBLE), 6) AS seasonal_r
      FROM d GROUP BY 1 ORDER BY hod""")
  )

  override def all: Seq[Q] =
    Seq(ewma, gapFill, anomaly, attribution, rollingMedian, transitions,
      outlierMad, abtest, autocorr, changepoint, convTime, backtest, seqPairs,
      intervalUnion, paths, acf, seasonal)
}
