package graft.analytics

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.{Q, QueryModule}
import graft.util.Tables._

/** Privacy and release: k-anonymity and l-diversity audits, masking,
  * and a differentially-private histogram. */
object PrivacyQueries extends QueryModule {

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
    kanon, lDiversity, masking, dpRelease)
}
