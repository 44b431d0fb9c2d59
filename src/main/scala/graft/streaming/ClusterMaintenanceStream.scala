package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.BulkPipeline
import graft.similarity.{DedupIndex, NearDupQueries}

/** Streaming CLUSTER-LABEL maintenance — the missing write-side of
  * [[IndexDedupStream]] (r10 verdict #6): that stream FLAGS arriving
  * duplicates against the persisted signature index but never updates
  * the persisted label table, so "which cluster does this doc belong
  * to" goes stale the moment a batch lands. This job closes the loop:
  * every micro-batch
  *
  *   1. signs itself once (`bandProjection` — the pure-HOF projection
  *      the index contract requires),
  *   2. derives its candidate pairs: corpus-vs-batch against the
  *      persisted index (bucket join, index never re-read wholesale)
  *      plus batch-vs-batch (the micro-batch self-join — tiny),
  *   3. re-converges labels on the CONTRACTED graph
  *      ([[NearDupQueries.incrementalLabels]] — O(new pairs) work,
  *      the q_cluster_incremental dataflow: prior components lift to
  *      their labels, only the relabel map is broadcast back),
  *   4. PROMOTES the updated label table (crash-safe aside-swap,
  *      [[BulkPipeline.writeAndPromote]] — a reader never sees a
  *      half-written table) and APPENDS the batch signatures to the
  *      index (the append-only maintenance IncrementalIndexSpec pins).
  *
  * `foreachBatch` batches are sequential by Structured Streaming's
  * contract, so label state never races. The label promote is
  * idempotent per content (a replayed batch re-derives the same
  * labels — doc ids are required to be NEW ids, the append-only-corpus
  * contract the incremental family already declares); the signature
  * APPEND is made idempotent per BATCH ID (r11 advice): a crash after
  * the append but before the streaming checkpoint commits replays the
  * batch, and a plain `mode("append")` would accrete the same doc
  * signatures a second time — labels stay correct, but the index
  * grows unboundedly across restarts and inflates every future bucket
  * join. Instead each batch's signature files land under batch-scoped
  * names (`b<id>-…`) via a hidden staging dir + rename, a replay first
  * sweeps any partial `b<id>-*` files from the crashed attempt, and a
  * `_last_batch` watermark short-circuits fully-applied replays.
  *
  * Scale shape: per micro-batch, only batch-sized frames shuffle; the
  * corpus-sized artifacts (index, label table) are read through
  * bucket/broadcast-semi paths and written append/promote — the same
  * economics as the batch incremental queries, just driven by a
  * stream clock. ClusterMaintenanceSpec proves the invariant that
  * makes this safe to run forever: after N micro-batches the label
  * table equals a ONE-SHOT batch relabel of the union corpus,
  * including batches that MERGE previously-separate components.
  */
object ClusterMaintenanceStream {

  /** Writer-fence staleness window for STREAMING maintainers (r14
    * advice). The fenced transaction in [[appendBatchScoped]] is a
    * batch-sized staging write plus a handful of renames — seconds,
    * not minutes — so two minutes is still ≫ any live holder, while
    * capping the worst case after a hard-killed stream (lease left
    * behind, restart replays the same batch id and must wait out the
    * window before the stale steal unblocks it) at 2 min instead of
    * [[graft.util.WriterFence.DefaultStaleMs]]'s 15. */
  val StreamStaleMs: Long = 2 * 60 * 1000L

  private def hadoopFs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Highest fully-applied batch id, from the `_last_batch` watermark
    * sidecar (`_`-prefixed → invisible to parquet readers). A torn or
    * unparseable read degrades to None — safe, because the append path
    * is idempotent per batch id anyway. */
  private[streaming] def lastAppliedBatch(
      spark: SparkSession, indexPath: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(indexPath, "_last_batch")
    val fs = hadoopFs(spark, indexPath)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      scala.util.Try(s.toLong).toOption
    }
  }

  private[streaming] def writeLastBatch(
      spark: SparkSession, indexPath: String, batchId: Long): Unit = {
    val fs = hadoopFs(spark, indexPath)
    val out = fs.create(new org.apache.hadoop.fs.Path(indexPath, "_last_batch"), true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Idempotent batch-scoped parquet append (shared with
    * [[AnnIndexStream]]'s corpus-vector append): the batch's files are
    * written to a hidden staging dir and renamed into the table under
    * batch-scoped names (`b<id>-part-….parquet`), after sweeping any
    * `b<id>-*` leftovers from a crashed prior attempt — so a replayed
    * batch lands exactly the same file set, never a second copy. With
    * batchId < 0 (direct non-stream invocation) this degrades to a
    * plain append.
    *
    * `staleMs` is the fence's crashed-writer recovery window. The
    * corpus-sized staging write runs INSIDE the lease, so a batch
    * slower than `staleMs` risks having its lease presumed stale and
    * stolen — which is why the lease is re-[[graft.util.WriterFence.Lease.check]]ed
    * after the staging write and again immediately before the
    * destructive `b<id>-*` sweep/renames (r14 advice): a stolen lease
    * aborts LOUDLY before this writer can interleave its sweep with
    * the thief's renames. Streaming call sites size `staleMs` to
    * their restart economics (see [[maintainBatch]]). */
  private[streaming] def appendBatchScoped(
      spark: SparkSession, out: DataFrame,
      dir: String, batchId: Long,
      staleMs: Long = graft.util.WriterFence.DefaultStaleMs): Unit = {
    if (batchId < 0) { out.write.mode("append").parquet(dir); return }
    val fs = hadoopFs(spark, dir)
    // Single-writer fence (r13 verdict #1, same lease as the beam
    // index's manifest commits): two concurrent maintainers replaying
    // the SAME batch id would interleave the sweep-then-rename below —
    // one's freshly renamed b<id>-* files are the other's "crashed
    // leftovers" to sweep. The loser now fails at acquire instead.
    graft.util.WriterFence.withLease(
        fs, dir, "batch-scoped append table", staleMs) { lease =>
      val idx = new org.apache.hadoop.fs.Path(dir)
      val staging = new org.apache.hadoop.fs.Path(
        idx.getParent, s".${idx.getName}.__batchappend_$batchId")
      fs.delete(staging, true)
      out.write.mode("overwrite").parquet(staging.toString)
      // commit-point fence: the staging write above is the only long
      // operation in this transaction — if it outlived the staleness
      // window and the lease was stolen, abort before the sweep
      lease.check()
      if (fs.exists(idx))
        fs.listStatus(idx)
          .filter(_.getPath.getName.startsWith(s"b$batchId-"))
          .foreach(s => fs.delete(s.getPath, false))
      else fs.mkdirs(idx)
      lease.check() // last gate before the irreversible renames
      fs.listStatus(staging)
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-") &&
          s.getPath.getName.endsWith(".parquet"))
        .foreach { s =>
          val dst = new org.apache.hadoop.fs.Path(idx, s"b$batchId-${s.getPath.getName}")
          require(fs.rename(s.getPath, dst), s"batch-scoped append rename failed: $dst")
        }
      fs.delete(staging, true)
    }
  }

  /** One micro-batch of maintenance — factored out of the stream so
    * the spec can also drive it directly. `batch` must carry
    * (doc_id, text) with doc_ids not present in the prior corpus;
    * `batchId` is the streaming epoch (−1 for direct calls → no
    * replay bookkeeping). */
  private[streaming] def maintainBatch(
      spark: SparkSession,
      batch: DataFrame,
      indexPath: String,
      labelPath: String,
      batchId: Long = -1L): Unit = {
    if (batchId >= 0 && lastAppliedBatch(spark, indexPath).exists(_ >= batchId))
      return // fully-applied replay after a post-commit crash
    NearDupQueries.requireFamily(spark, indexPath)
    val sigs = DedupIndex
      .bandProjection(batch.select(col("doc_id"), col("text")))
      .localCheckpoint(true) // feeds index join + self-join + append
    val idx = spark.read.parquet(indexPath)
    val corpusVsBatch = DedupIndex.incrementalCandidates(idx, sigs)
      .select(col("id1"), col("id2"))
    val inBatch = sigs.as("a")
      .join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    val prior = spark.read.parquet(labelPath)
    val newNodes = batch.select(col("doc_id")).distinct()
    val updated = NearDupQueries.incrementalLabels(
      prior, newNodes, corpusVsBatch.union(inBatch))
    // promote BEFORE appending signatures: a crash between the two
    // leaves the index missing this batch's signatures (the batch
    // replays and re-appends idempotently) rather than an index that
    // references docs the label table has never seen
    BulkPipeline.writeAndPromote(updated, labelPath)
    appendBatchScoped(spark,
      sigs.select(col("doc_id"), col("band"), col("sig")), indexPath, batchId,
      staleMs = StreamStaleMs)
    if (batchId >= 0) writeLastBatch(spark, indexPath, batchId)
  }

  /** Start the maintenance stream over an NDJSON doc directory.
    * `indexPath` and `labelPath` must be seeded with the prior
    * corpus's signatures and converged labels (empty frames with the
    * right schema for a from-scratch corpus), and the seed writer must
    * stamp the index with `NearDupQueries.stampFamily` — an
    * unstamped or family-mismatched index fails fast on the first
    * micro-batch rather than silently missing collisions. */
  def start(
      spark: SparkSession,
      inputDir: String,
      indexPath: String,
      labelPath: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1): StreamingQuery =
    spark.readStream
      .schema(IndexDedupStream.docSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          maintainBatch(spark, batch, indexPath, labelPath, batchId)
      }
      .start()
}
