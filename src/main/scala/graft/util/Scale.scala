package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale utilities the 100 TB deployment leans on: salting for skewed
  * join keys and bucketing for shuffle-free co-located joins.
  *
  * AQE's skew-join split (spark.sql.adaptive.skewJoin) handles most
  * skew automatically; explicit salting remains the tool when one key
  * dominates so heavily that even split partitions blow memory, or for
  * skewed AGGREGATION (AQE doesn't split agg keys). Bucketing
  * pre-shuffles once at write time so every later equi-join/agg on the
  * bucket key runs exchange-free.
  */
object Scale {

  /** Salt expression in [0, salts): hash of the row's non-key columns
    * MIXED WITH `monotonically_increasing_id()` (partition id << 33 |
    * row offset). The row-id component is what makes the spread robust:
    * real skew is usually duplicate-heavy (the hot key's rows carry
    * identical payloads), and a payload-only hash would map ALL of them
    * to one salt — zero spread exactly when salting matters most. It
    * also covers the degenerate key-only schema (no non-key columns),
    * where a bare hash(...) would throw.
    *
    * Not rand(): the row id is a pure function of (partition, offset),
    * so a retry of the same task split recomputes the same salts —
    * deterministic for exactly-once sinks as long as the upstream
    * partitioning is (the same condition every deterministic Spark
    * job already assumes).
    */
  private[util] def saltExpr(df: DataFrame, key: String, salts: Int) = {
    val mix = df.columns.filter(_ != key).map(col).toSeq :+
      monotonically_increasing_id()
    pmod(hash(mix: _*), lit(salts))
  }

  /** Skew-safe equi-join: the skewed (large, hot-keyed) side gets a
    * deterministic salt in [0, salts) (see [[saltExpr]]); the small
    * side is exploded to every salt value. Join key becomes
    * (key, salt) → the hot key spreads over `salts` partitions. Result
    * rows identical to the plain join.
    */
  def saltedJoin(
      skewed: DataFrame,
      small: DataFrame,
      key: String,
      salts: Int): DataFrame = {
    val saltedBig = skewed.withColumn("_salt", saltExpr(skewed, key, salts))
    val explodedSmall = small.withColumn(
      "_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig
      .join(explodedSmall, Seq(key, "_salt"))
      .drop("_salt")
  }

  /** Skew-safe aggregation: two-phase (partial by (key, salt), final by
    * key). For commutative+associative aggregates this equals the
    * one-phase result; the hot key's partial states spread over
    * `salts` reducers. (Spark's own partial aggregation usually covers
    * this — explicit salting is for high-cardinality-accumulator aggs
    * like collect_list where map-side combine doesn't shrink state.)
    */
  def saltedCountSum(
      df: DataFrame,
      key: String,
      valueCol: String,
      salts: Int): DataFrame =
    df.withColumn("_salt",
        pmod(hash(col(valueCol), monotonically_increasing_id()), lit(salts)))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_n"), sum(col(valueCol)).as("_s"))
      .groupBy(col(key))
      .agg(sum(col("_n")).as("n"), sum(col("_s")).as("sum_value"))

  /** Write a table bucketed (and sorted) by a join key. Later equi-joins
    * or aggregations between tables bucketed the same way run with NO
    * shuffle exchange — the write paid the shuffle once. This is the
    * co-location strategy for repeated fact⋈fact joins at 100 TB.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** True if the FINAL executed plan of `df` contains a shuffle
    * exchange — the thing bucketing exists to eliminate (used by
    * ScaleSpec to prove co-location). Materializes the DataFrame so
    * AQE finishes re-planning; inspect after, not before.
    */
  def hasShuffle(df: DataFrame): Boolean = {
    df.collect()
    df.queryExecution
      .explainString(org.apache.spark.sql.execution.SimpleMode)
      .contains("Exchange")
  }
}
