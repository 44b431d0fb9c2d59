package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming dedup against a PERSISTED signature index — the
  * continuous twin of `q_dedup_incremental`: documents arrive as an
  * NDJSON stream, each micro-batch computes its band signatures as a
  * PURE PROJECTION (DedupIndex.bandProjection — array HOFs, no
  * aggregation, hence no streaming state and no watermark needed) and
  * equi-joins the static bucketed index on (band, sig).
  *
  * INDEX CONTRACT: the index must be built with the SAME signature
  * construction as the stream side — i.e. bandProjection semantics
  * (uncapped shingle set; IncrementalIndexSpec pins projection ==
  * batch-aggregation signatures and append-only maintenance of the
  * bucketed table). Do NOT pair this stream with
  * `DedupIndex.signatureIndex`: that table is built with the
  * MaxShingleDf hot-shingle cap (the batch query's declared
  * per-batch-cap semantics), so a boilerplate-heavy duplicate —
  * whose hot shingles the cap dropped from the index side but not
  * from the stream side — could hash past its corpus twin and go
  * unflagged.
  *
  * Scale shape: the stream side shuffles only its own (tiny)
  * micro-batch on the band key; the index side is a bucketed scan
  * (no exchange); state is ZERO — the only long-lived artifact is
  * the index table, maintained by appending each signed batch. This
  * is how a 100 TB corpus deduplicates a live feed without ever
  * re-reading itself.
  */
object IndexDedupStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** NDJSON doc stream → band-collision matches against the index.
    * Output: (doc_id, corpus_id, band) — one row per colliding band;
    * a downstream consumer treats any match as "candidate duplicate
    * of corpus_id" (the exact-verify stage is the batch pipeline's
    * q_edit_dist shape).
    */
  def matches(spark: SparkSession, inputDir: String, index: DataFrame): DataFrame =
    graft.similarity.DedupIndex.bandProjection(
        spark.readStream.schema(docSchema).json(inputDir))
      .join(
        index.select(
          col("doc_id").as("corpus_id"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select(col("doc_id"), col("corpus_id"), col("band"))
}
