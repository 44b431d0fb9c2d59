package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.{Q, QueryModule}
import graft.util.Tables._

/** Statistics and distribution shift: moments, correlation, exact
  * percentiles, regression, ANOVA, chi-square, Cramér's V, mutual
  * information, Benford, Gini, survival, PSI, KS and EMD. */
object StatsQueries extends QueryModule {

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
  /** The nine exact percentiles 0.1..0.9 of column `x`: decile cuts. */
  private[analytics] def decileCuts(x: String): Column =
    expr(s"percentile($x, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")

  /** The decile (1..10) of `x` against [[decileCuts]] `cuts`: one plus
    * the number of cuts strictly below x. */
  private[analytics] def decileOf(x: Column, cuts: Column): Column =
    (lit(1) + (1 to 9).map(i => when(x > element_at(cuts, i), 1).otherwise(0))
      .reduce(_ + _)).cast(LongType)

  /** The (nation, segment) customer cell census q_chisq and
    * q_cramers_v test: (n_name, c_mktsegment, o). */
  private def segmentCells(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("o"))

  /** A cell census with its row total `rt`, column total `ct` and
    * grand total `n`, as windows over the cell table. */
  private def withMarginals(cells: DataFrame): DataFrame =
    cells
      .withColumn("rt", sum(col("o")).over(Window.partitionBy(col("n_name"))))
      .withColumn("ct", sum(col("o")).over(Window.partitionBy(col("c_mktsegment"))))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))

  val chisq = Q(
    "q_chisq",
    (s, dir) => {
      val obs = segmentCells(s, dir)
      withMarginals(obs)
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
      val obs = segmentCells(s, dir)
      val grid = obs.select(col("n_name")).distinct()
        .crossJoin(broadcast(obs.select(col("c_mktsegment")).distinct()))
      val full = grid.join(obs, Seq("n_name", "c_mktsegment"), "left")
        .select(col("n_name"), col("c_mktsegment"),
          coalesce(col("o"), lit(0L)).as("o"))
      withMarginals(full)
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
      val cuts = base.groupBy().agg(decileCuts("x").as("cs"))
      val both = t(s, dir, "orders")
        .filter(col("o_orderdate") >= t0 && col("o_orderdate") < t2)
        .select(col("o_totalprice").cast(DoubleType).as("x"),
          (col("o_orderdate") >= t1).cast(LongType).as("tgt"))
      val census = both.crossJoin(broadcast(cuts))
        .select(col("tgt"), decileOf(col("x"), col("cs")).as("bucket"))
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

  /** The price-shift census q_ks and q_emd share: q_psi's windows
    * (baseline 1995–96, target 1997–98) as cent-valued score groups with
    * counts nb / nt, plus unpartitioned windows (bounded by the cent
    * domain) for the running counts cb / ct and the totals tb / tt. */
  private def priceCdfs(s: SparkSession, dir: String): DataFrame = {
    val t0 = ts("1995-01-01"); val t1 = ts("1997-01-01"); val t2 = ts("1999-01-01")
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= t0 && col("o_orderdate") < t2)
      .select(round(col("o_totalprice") * 100, 0).cast(LongType).as("score"),
        (col("o_orderdate") >= t1).cast(LongType).as("tgt"))
      .groupBy(col("score"))
      .agg((count(lit(1)) - sum(col("tgt"))).as("nb"), sum(col("tgt")).as("nt"))
      .withColumn("cb", sum(col("nb")).over(w))
      .withColumn("ct", sum(col("nt")).over(w))
      .withColumn("tb", sum(col("nb")).over(wAll))
      .withColumn("tt", sum(col("nt")).over(wAll))
  }

  /** Oracle twin of [[priceCdfs]]: CTEs `s`, `g` and the open select
    * list of `c` (the caller may add columns, then closes it). */
  private val priceCdfsSql = """s AS (
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
               sum(nb) OVER () AS tb, sum(nt) OVER () AS tt"""

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
      priceCdfs(s, dir)
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
    Some(s"""
      WITH $priceCdfsSql
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
      priceCdfs(s, dir)
        .withColumn("gap",
          lead(col("score"), 1).over(Window.orderBy(col("score"))) - col("score"))
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
    Some(s"""
      WITH $priceCdfsSql,
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

  override def all: Seq[Q] = Seq(
    percentile, corrQ, moments, benford, gini, linreg,
    chisq, corrMatrix, psi, ks, emd, survival,
    mutualInfo, anova, cramersV)
}
