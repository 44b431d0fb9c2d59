package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.similarity.{BeamIndex, VectorQueries}

/** Streaming QUERY-side ANN — the serving shape that completes the
  * beam index's production matrix (r12 verdict #5): the maintenance
  * side already has batch create/append/delete plus a CDC stream feed
  * ([[AnnIndexStream]]); this job is the CONSUMER — a continuous
  * stream of probe vectors searched against the warm persisted index,
  * one micro-batch at a time.
  *
  * Shape: stream-static with ZERO streaming state. The static side
  * (corpus vectors, symmetrized edge frame) is resolved and
  * checkpointed ONCE at stream start — snapshot-pinned by the index's
  * versioned manifest, so a concurrent maintenance commit never tears
  * a batch's view — and each micro-batch runs the exact batch
  * [[BeamIndex.beamSearchProbes]] plan over its probes:
  * entry buckets from the probe's own vector at the frozen LSH width,
  * hub seeds, then the bounded beam walk. foreachBatch (not a
  * streaming join) because the walk is BeamHops checkpointed frames —
  * driver-side loop unrolling has no single-DataFrame streaming
  * equivalent, and needs none: per trigger this IS a batch query.
  *
  * Scale shape: per micro-batch only (q_id, cand) pairs flow — probe
  * count × (hubs + beam·degree·hops) rows — against index/corpus
  * frames that are read-only and shared across triggers; no state
  * store, no watermark, nothing grows with stream lifetime. Results
  * append batch-scoped (same idempotent rename protocol as the
  * maintenance streams), so a crash-replayed trigger overwrites its
  * own output files instead of duplicating serving rows. See
  * docs/STREAMING_SCALE.md.
  */
object AnnServeStream {

  /** Probe stream rows: an id (any id space — fresh ids are never
    * self-excluded) and the raw embedding. */
  val probeSchema: StructType = StructType(Seq(
    StructField("q_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  /** One micro-batch of serving: probe rows → top-5 rows
    * (q_id, vec_id, sim_r, rn). Factored out so the spec can compare
    * it directly against the batch search plan. `manifest`, when the
    * caller pinned one at stream start, keeps nodes/n/hub-stride on
    * the SAME snapshot as the pinned edges/vectors — re-resolving per
    * batch would tear the view across generations the moment a
    * maintenance commit lands. */
  private[streaming] def searchBatch(
      spark: SparkSession, probeBatch: DataFrame, corpusNe: DataFrame,
      indexRoot: String, edges: Option[DataFrame] = None,
      manifest: Option[BeamIndex.BeamManifest] = None): DataFrame =
    BeamIndex.beamSearchProbes(spark, indexRoot, corpusNe,
      VectorQueries.normEmbOf(probeBatch.withColumnRenamed("q_id", "vec_id")),
      edges, manifest)

  /** Start the serving stream over an NDJSON probe directory, writing
    * result rows to `outPath`. `corpusPath`/`indexRoot` are the
    * maintained artifacts ([[AnnIndexStream]]'s outputs); the static
    * side is warmed once here.
    *
    * VACUUM HAZARD (ADVICE r13): the snapshot pinned here lives only
    * as long as [[BeamIndex.beamIndexVacuum]]'s grace window
    * (keepGens newest manifests). A maintenance stream vacuuming every
    * batch beside a long-lived serving stream WILL reclaim this
    * stream's generation once `keepGens` newer commits land; each
    * trigger therefore re-probes the pinned manifest first and fails
    * fast with a "snapshot vacuumed — restart stream" error instead of
    * a bare executor FileNotFoundException mid-search. Operate per
    * docs/STREAMING_SCALE.md: vacuum cadence × keepGens must exceed
    * the serving stream's restart interval. */
  def start(
      spark: SparkSession,
      inputDir: String,
      corpusPath: String,
      indexRoot: String,
      outPath: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    // ONE snapshot for the stream's whole lifetime: manifest, corpus
    // vectors and edge frame all resolve here, so every trigger
    // searches a consistent generation — a maintenance commit becomes
    // visible at the next stream start, never mid-stream (and never
    // partially: nodes/n/stride re-resolved per batch against pinned
    // edges would match NEITHER generation)
    val m = BeamIndex.beamManifest(spark, indexRoot)
    // DISK_ONLY both: these pin corpus-scale frames for the stream's
    // LIFETIME (~260 MB of deserialized vectors at a 500k×64 corpus) —
    // the exact storage-pool class that OOM'd the docs tier at 8g
    // before the query path was fixed (r16); r17 closes the serving
    // helpers too.
    val ne = VectorQueries.normEmbOf(spark.read.parquet(corpusPath))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val edges = BeamIndex.beamEdgesFrame(spark, indexRoot, m)
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    spark.readStream
      .schema(probeSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // fail fast, with the operational fix in the message, the
          // moment the pinned generation leaves the vacuum grace window
          BeamIndex.requireBeamSnapshotLive(spark, indexRoot, m)
          ClusterMaintenanceStream.appendBatchScoped(spark,
            searchBatch(spark, batch, ne, indexRoot, Some(edges), Some(m)),
            outPath, batchId,
            staleMs = ClusterMaintenanceStream.StreamStaleMs)
        }
      }
      .start()
  }
}
