package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.similarity.{BeamIndex, VectorQueries}

/** Streaming BEAM-INDEX maintenance — the ANN twin of
  * [[ClusterMaintenanceStream]], completing the index-maintenance
  * matrix (r11 verdict #3's last cell): the dedup side has
  * build/append/compact in batch plus streaming label maintenance;
  * the ANN side gained batch append in r12
  * ([[BeamIndex.beamIndexAppend]]) and this job drives it
  * from a stream clock. Vectors arrive as an NDJSON stream; each
  * micro-batch
  *
  *   1. APPENDS its vectors to the persisted corpus vector table —
  *      idempotent per batch id (batch-scoped file names via a hidden
  *      staging dir + rename, the [[ClusterMaintenanceStream]]
  *      machinery), because foreachBatch replays after a crash
  *      between the append and the checkpoint commit;
  *   2. appends them to the beam index: bucket assignment at the
  *      index's FROZEN LSH width, in-bucket kNN recomputed for ONLY
  *      the affected bucket leaves (dynamic partition overwrite),
  *      nodes re-ranked, fingers regenerated — work proportional to
  *      the touched buckets plus rank arithmetic, never a corpus
  *      re-sign. beamIndexAppend's new-vector anti-join doubles as
  *      the replay guard: a replayed batch finds its ids already in
  *      `nodes` and no-ops.
  *
  * The feed is CDC-SHAPED (r12): rows may carry op = "delete", which
  * removes the vector from both the corpus table (crash-safe rewrite,
  * watermark carried across) and the beam index (affected-bucket
  * recompute via beamIndexDelete) before the batch's adds apply — so
  * a same-batch delete+re-add is an upsert, and the stream maintains
  * the full create/append/delete lifecycle, not just growth.
  *
  * AnnIndexStreamSpec proves the invariant that makes this safe to
  * run forever: after N micro-batches — including deletes and
  * upserts — beam search over the maintained index EQUALS search
  * over a one-shot index built from the surviving corpus (the
  * append/delete ≡ rebuild contracts, now under a stream clock),
  * including replayed batches.
  *
  * Scale shape: per micro-batch only batch-sized frames shuffle for
  * bucket assignment; the corpus-sized artifacts (vector table, kn
  * leaves) are read through pruned scans and written as new
  * generation dirs committed by one manifest rename (r13 — readers
  * get snapshot isolation, and the monotone fast path appends
  * batch-sized node/finger DELTA dirs, so a streaming append never
  * rewrites corpus-sized data). Deletes and backfills re-rank via the
  * range-partitioned full path.
  */
object AnnIndexStream {

  /** CDC-shaped stream rows: `op` is "add" (default when absent/null)
    * or "delete" (embedding ignored). A feed of pure adds is the plain
    * append stream; interleaved deletes make this the upsert shape a
    * production vector index ingests. */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType)),
    StructField("op", StringType)))

  /** One micro-batch of maintenance — factored out so the spec can
    * drive it directly. `batchId` < 0 skips replay bookkeeping.
    *
    * CDC handling: rows with op = "delete" first — the corpus table
    * rewrites without them (crash-safe promote; a tombstone overlay
    * would be cheaper per batch but the beam index needs the affected
    * buckets' kNN RECOMPUTED anyway, see [[BeamIndex
    * .beamIndexDelete]]'s scaladoc, so the batch-sized rewrite buys an
    * always-clean corpus) and the index drops them bucket-partially.
    * Then adds append as before. Delete-before-add makes a same-batch
    * delete+re-add an UPSERT (the re-added vector survives). Replay
    * safety: the whole batch re-runs after a crash — the delete of an
    * already-deleted id is a no-op, the corpus add is batch-scoped,
    * and the index append anti-joins — so every path converges. */
  private[streaming] def maintainBatch(
      spark: SparkSession,
      batch: DataFrame,
      corpusPath: String,
      indexRoot: String,
      batchId: Long = -1L): Unit = {
    if (batchId >= 0 &&
        ClusterMaintenanceStream.lastAppliedBatch(spark, corpusPath).exists(_ >= batchId))
      return
    val b = batch.localCheckpoint(true)
    // frames without an `op` column (the plain append feed) are all adds
    val isDelete =
      if (b.columns.contains("op")) coalesce(col("op"), lit("add")) === "delete"
      else lit(false)
    val dels = b.filter(isDelete).select(col("vec_id")).distinct()
    if (!dels.isEmpty) {
      // DISK_ONLY: corpus-scale rows must not park in the storage
      // pool the session's queries compete with (the r16 rule the
      // query path already follows; r17 closes the streaming helpers)
      val survivors = spark.read.parquet(corpusPath)
        .join(broadcast(dels), Seq("vec_id"), "left_anti")
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
      // the rewrite replaces the whole corpus dir — carry the replay
      // watermark across it (the Compaction sidecar lesson)
      val wm = ClusterMaintenanceStream.lastAppliedBatch(spark, corpusPath)
      graft.pipeline.BulkPipeline.writeAndPromote(survivors, corpusPath)
      wm.foreach(w => ClusterMaintenanceStream.writeLastBatch(spark, corpusPath, w))
      BeamIndex.beamIndexDelete(spark, VectorQueries.normEmbOf(survivors), dels, indexRoot)
    }
    val adds = b.filter(!isDelete)
    if (!adds.isEmpty) {
      // 1. corpus vector table append (idempotent per batch id)
      ClusterMaintenanceStream.appendBatchScoped(
        spark, adds.select(col("vec_id"), col("embedding")), corpusPath, batchId,
        staleMs = ClusterMaintenanceStream.StreamStaleMs)
      // 2. index append: the anti-join inside finds exactly the new ids
      BeamIndex.beamIndexAppend(
        spark, VectorQueries.normEmbOf(spark.read.parquet(corpusPath)), indexRoot)
    }
    if (batchId >= 0)
      ClusterMaintenanceStream.writeLastBatch(spark, corpusPath, batchId)
  }

  /** Beam search over the maintained index + corpus (queries =
    * vec_id < 5, the family's fixed probe set) — what a serving layer
    * reads between appends. */
  def search(spark: SparkSession, corpusPath: String, indexRoot: String): DataFrame =
    BeamIndex.beamSearchPlan(
      spark, indexRoot, VectorQueries.normEmbOf(spark.read.parquet(corpusPath))
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY))

  /** Start the maintenance stream over an NDJSON vector directory.
    * `corpusPath` and `indexRoot` must be seeded with the prior
    * corpus's vectors and its beam index
    * ([[BeamIndex.beamIndexCreate]]).
    *
    * `vacuumEveryBatches` (0 = off) runs the index's generation GC
    * from the stream clock every N applied batches — the housekeeping
    * a forever-running maintainer needs, or `_gen/` and the delta dirs
    * grow without bound. The default grace window (keepGens = 2)
    * survives serving streams pinned at the previous snapshot; vacuum
    * is idempotent and crash-safe (it only deletes what no retained
    * manifest references, and a replayed batch's vacuum re-runs
    * harmlessly). CAUTION: vacuum cadence is a reader-lifetime
    * contract — vacuum_interval × (keepGens − 1) must exceed the
    * longest pinned reader's lifetime, or that reader dies with a
    * "snapshot vacuumed" error (docs/STREAMING_SCALE.md §4).
    *
    * `compactEveryBatches` (0 = off) merges the per-batch node/finger
    * DELTA dirs into one consolidated generation every N applied
    * batches ([[BeamIndex.beamIndexCompact]]) — vacuum's
    * twin: vacuum bounds GENERATION count, compaction bounds the
    * DIRS-PER-SNAPSHOT count that monotone appends grow by one per
    * batch. Compaction before vacuum on a shared cadence tick, so
    * the superseded delta generations it strands are reclaimed in
    * the same tick (modulo the grace window). */
  def start(
      spark: SparkSession,
      inputDir: String,
      corpusPath: String,
      indexRoot: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1,
      vacuumEveryBatches: Int = 0,
      compactEveryBatches: Int = 0): StreamingQuery =
    spark.readStream
      .schema(vecSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          maintainBatch(spark, batch, corpusPath, indexRoot, batchId)
          if (compactEveryBatches > 0 &&
              batchId % compactEveryBatches == (compactEveryBatches - 1))
            BeamIndex.beamIndexCompact(spark, indexRoot)
          if (vacuumEveryBatches > 0 &&
              batchId % vacuumEveryBatches == (vacuumEveryBatches - 1))
            BeamIndex.beamIndexVacuum(spark, indexRoot)
        }
      }
      .start()
}
