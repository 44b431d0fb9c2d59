package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.{Q, QueryModule}
import graft.util.Tables._
import graft.analytics.StatsQueries.{decileCuts, decileOf}

/** Model evaluation against the "placed 12+ orders" label: ROC-AUC,
  * decile lift, confusion matrix, calibration and target encoding. */
object ModelEvalQueries extends QueryModule {

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

  /** Oracle twin of [[posKeys]]: the `pos(o_custkey)` CTE. */
  private val posSql = """pos AS (
        SELECT o_custkey FROM orders
        GROUP BY 1 HAVING count(*) >= 12)"""

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
    Some(s"""
      WITH $posSql,
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
      val cuts = scored.groupBy().agg(decileCuts("score").as("cs"))
      val bucketed = scored.crossJoin(broadcast(cuts))
        .select(col("y"), decileOf(col("score"), col("cs")).as("decile"))
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
    Some(s"""
      WITH $posSql,
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
    Some(s"""
      WITH $posSql,
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
    Some(s"""
      WITH $posSql,
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
    Some(s"""
      WITH $posSql,
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

  override def all: Seq[Q] = Seq(
    auc, decileLift, confusion, targetEnc, calibration)
}
