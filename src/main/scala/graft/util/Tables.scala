package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructType}

/** Table access + determinism helpers shared by every query module. */
object Tables {

  /** Load one driver-provided parquet table (TESTDATA.md). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** Inferring a parquet schema runs a footer-reading Spark job, and
    * its result depends on the session's confs — so it is resolved once
    * per session and conf values, and again once the input's dataset
    * stamp changes. */
  private val schemaOf = ArtifactCache.sessionScoped[StructType]("parquet-schema")
  private val InferenceConfs = Seq("spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  /** Read a parquet file or dir with its cached schema. The files are
    * still listed on every read, so a rewrite's new files show. */
  def parquet(s: SparkSession, path: String): DataFrame = {
    val schema = schemaOf(s, path, InferenceConfs.map(s.conf.get): _*) {
      s.read.parquet(path).schema
    }
    s.read.schema(schema).parquet(path)
  }

  /** Run SQL text over `dir`'s tables: each named table is bound as a
    * temp view of the same name, then the text is planned by Catalyst
    * like any DataFrame program. The list must name every relation the
    * text reads (CTE names excluded).
    */
  def sql(spark: SparkSession, dir: String, text: String, tables: String*): DataFrame = {
    tables.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
    spark.sql(text)
  }

  /** `events` with a usable timestamp: the driver's files store
    * TIMESTAMP(NANOS), which the session reads as a nanos LONG
    * (GraftSession sets spark.sql.legacy.parquet.nanosAsLong) —
    * surface micros TimestampType. ScaleSmoke's corpora write a plain
    * micros TimestampType (Spark cannot emit NANOS parquet), which
    * DuckDB also reads natively — pass that through unchanged, so the
    * 40×/100× oracle sweep runs the same SQL as the driver corpora.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // Defense in depth for sessions built without GraftSession's
      // inferTimestampNTZ=false: NTZ micros under a UTC session carries
      // the same wall-clock instants as TimestampType — surface the
      // latter so unix_micros/BIGINT casts downstream stay legal.
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Order-independent exact sum of a double expression: route through
    * DECIMAL so partial-aggregation order (which differs between Spark
    * executors and the DuckDB oracle) cannot perturb the result, then
    * surface as DOUBLE so output schemas match the oracle.
    */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  /** Exact mean built from dsum/count — deterministic, unlike avg(double). */
  def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(lit(1))

  /** A timestamp literal pinned to UTC (session TZ is UTC on both sides). */
  def ts(s: String): Column = lit(s).cast("timestamp")

  /** size() returns INT in Spark but len() returns BIGINT in DuckDB —
    * normalize every count-ish output to LONG. */
  def lsize(c: Column): Column = size(c).cast(LongType)
}
