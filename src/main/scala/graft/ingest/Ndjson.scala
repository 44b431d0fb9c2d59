package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** NDJSON ingest/sink (reference S1/S2: byte-split on '\n' +
  * `json.loads` per line, `__init__.py:359`; `json.dumps` + join,
  * `:535`).
  *
  * The scan is text-source + `from_json` — the literal Spark
  * re-expression of the reference's "split lines, parse each": the
  * line split parallelizes over file splits (replacing the serial
  * per-file loop, `__init__.py:644-665`), and parsing is a codegen'd
  * JsonToStructs expression. Always schema'd (never inferred): at
  * 100 TB, inference is a full extra pass. Malformed lines land in a
  * `_corrupt_record` quarantine channel instead of failing the job
  * (querying that channel on a json file-scan is restricted by Spark;
  * the text+from_json shape has no such restriction).
  */
object Ndjson {

  val CorruptCol = "_corrupt_record"

  /** Schema'd NDJSON scan with corrupt-record channel and file lineage
    * (`input_file_name`), plus the reference's type-from-filename
    * projection (M1, `__init__.py:218`: `blob_name.split('-')[0]`).
    */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val withCorrupt =
      if (schema.fieldNames.contains(CorruptCol)) schema
      else schema.add(StructField(CorruptCol, StringType))
    spark.read.text(path)
      // Skip lines of JSON whitespace only (space, tab, CR): a tab-only
      // line parses to a null struct with a null corrupt column, i.e. a
      // bogus empty "good" record. ltrim, not trim: with a trim set,
      // the right-trim walks and indexes the whole line.
      .filter(ltrim(col("value"), " \t\r") =!= "")
      .select(
        from_json(
          col("value"), withCorrupt,
          Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)
        ).as("r"),
        input_file_name().as("_source_file"))
      .select(
        col("r.*"),
        col("_source_file"),
        split(element_at(split(col("_source_file"), "/"), -1), "-")(0)
          .as("_resource_type"))
  }

  /** Rows whose line failed to parse (quarantine side-channel). */
  def corrupt(df: DataFrame): DataFrame =
    df.filter(col(CorruptCol).isNotNull)

  /** Parsed rows only, lineage columns dropped. */
  def good(df: DataFrame): DataFrame =
    df.filter(col(CorruptCol).isNull)
      .drop(CorruptCol, "_source_file", "_resource_type")

  /** NDJSON sink — one JSON object per line (ref `__init__.py:535`).
    * Null fields are dropped from the output objects like the
    * reference's `json.dumps` of plain dicts.
    */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
}
