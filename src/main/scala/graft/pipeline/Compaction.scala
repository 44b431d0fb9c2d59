package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession


/** Target-size small-file compaction for ANY partitioned parquet
  * dataset — the generalization of the signature index's generational
  * compaction (DedupIndex.compactIndex) into the housekeeping
  * operator every long-lived table needs (r10 verdict #7): streaming
  * sinks, micro-batch appends and incremental promotes all accrete
  * files far below the scan-efficient size, and at 100 TB the file
  * COUNT (driver listing time, task-per-file scheduling, open/seek
  * overhead) becomes the bottleneck before the bytes do.
  *
  * Shape: one pass over the dataset's LEAF directories (hive-style
  * `k=v` partition dirs, or the root for an unpartitioned table).
  * A leaf is compacted only when its file count exceeds
  * ceil(bytes / targetBytes) — already-compact leaves are untouched
  * (no rewrite amplification on repeated runs; the second run is a
  * no-op, pinned in WriteHygieneSpec). Each compacted leaf is
  * rewritten to exactly that many files in a staging dir and swapped
  * in with [[BulkPipeline.promoteDir]]'s crash-safe aside-rename, so a
  * reader never sees a half-compacted leaf and a crash loses nothing
  * (the aside copy is restored on the next promote).
  *
  * Leaf-at-a-time isolation is deliberate: partition VALUES live in
  * the directory names, so rewriting a leaf's files standalone
  * preserves the table layout exactly (leaf files never contain
  * partition columns), and the blast radius of any failure is one
  * partition. Row content is identical by construction — the rewrite
  * is read-coalesce-write with no expression in between; only file
  * boundaries (and row order across files, which parquet scans never
  * promise) change.
  *
  * Scale notes: the per-leaf rewrites are embarrassingly parallel
  * driver-side jobs and run on a bounded thread pool (disjoint
  * directory trees, one Spark job each — concurrent submission hides
  * the per-job scheduling/commit latency that dominates many-leaf
  * tables); `coalesce(n)` avoids a shuffle entirely — each output
  * file concatenates whole input files, so compaction I/O is one
  * read + one write of the leaf.
  */
object Compaction {

  final case class LeafReport(path: String, filesBefore: Int,
                              filesAfter: Int, bytes: Long)
  final case class Report(leaves: Seq[LeafReport]) {
    def compacted: Seq[LeafReport] = leaves.filter(l => l.filesAfter < l.filesBefore)
    def filesBefore: Int = leaves.map(_.filesBefore).sum
    def filesAfter: Int = leaves.map(_.filesAfter).sum
  }

  private def isDataFile(p: Path): Boolean = {
    val n = p.getName
    n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
  }

  /** Staging/aside copies from an interrupted promote — hidden
    * (`.`-prefixed) since r12, but the pre-r12 naming was a bare
    * `X.__old__` suffix, so BOTH spellings must be excluded from
    * data-leaf listing (a legacy aside compacted as a live partition
    * would resurrect superseded rows) and both are recoverable. */
  private def isAsideOrStaging(name: String): Boolean =
    BulkPipeline.isAside(name) || name.endsWith(".__staging__")

  private def isHidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  /** All leaf directories holding data files (root itself for an
    * unpartitioned table). Hidden (`.`/`_`-prefixed) dirs and
    * legacy-named aside/staging dirs are skipped — Spark readers
    * ignore the former by convention and the latter hold superseded
    * copies, never live data. */
  private def leafDirs(fs: FileSystem, root: Path): Seq[Path] = {
    val st = fs.listStatus(root)
    val dirs = st.filter(s => s.isDirectory &&
      !isHidden(s.getPath.getName) && !isAsideOrStaging(s.getPath.getName))
    val hasData = st.exists(s => s.isFile && isDataFile(s.getPath))
    val below = dirs.toSeq.flatMap(d => leafDirs(fs, d.getPath))
    if (hasData) root +: below else below
  }

  /** Crash-recovery sweep: a crash between swapIn's two renames leaves
    * a leaf stranded in its `.X.__old__` aside (or a pre-r12
    * `X.__old__`) with no live `X` — and since leafDirs skips asides
    * and promoteDir only runs on leaves that need compacting, the
    * generic "restored on next promote" path would never fire for it.
    * Restore any such orphan before listing leaves so the partition is
    * visible again. */
  private def recoverOrphanedAsides(fs: FileSystem, root: Path): Unit = {
    val st = fs.listStatus(root)
    st.filter(_.isDirectory).foreach { s =>
      val n = s.getPath.getName
      if (BulkPipeline.isAside(n)) BulkPipeline.restoreAside(fs, s.getPath): Unit
      else if (!isHidden(n) && !isAsideOrStaging(n))
        recoverOrphanedAsides(fs, s.getPath)
    }
  }

  /** Compact every leaf of the parquet dataset at `root` toward
    * `targetBytes` per file. Returns a per-leaf report (also for
    * leaves left untouched, with filesAfter == filesBefore).
    *
    * Leaf rewrites run on a bounded thread pool (`parallelism`,
    * default 4): each rewrite is an independent Spark job over one
    * leaf, so concurrent submission overlaps the per-job scheduling +
    * commit latency that dominates many-small-leaf tables. The jobs run
    * in the caller's job group, and a failed leaf is rethrown only
    * after every sibling rewrite and promote has ended
    * ([[BulkPipeline.runJobs]]). Correctness
    * is unaffected — leaves are disjoint directory trees and promoteDir
    * touches only the leaf's own hidden siblings. The read-split conf
    * lives on a cloned session so the caller's session conf is never
    * mutated (and the clone is shared safely: it is set once before
    * the pool starts and only read concurrently).
    *
    * CONCURRENCY CONTRACT: compact() expects the table to be quiescent
    * (no concurrent appender — pause the maintenance stream, or run
    * compaction from the same single-writer context). It does not
    * require trust, though: each leaf's data-file + sidecar fingerprint
    * is re-checked immediately before the promote, and a leaf that
    * changed under the rewrite is SKIPPED (staging discarded, writer's
    * files and watermark intact) rather than swapped — the next run
    * compacts it. The residual window between the re-check and the
    * rename is filesystem-rename-scale, not rewrite-scale.
    */
  def compact(spark: SparkSession, root: String,
              targetBytes: Long = 128L * 1024 * 1024,
              parallelism: Int = 4): Report =
    compact(spark, root, targetBytes, parallelism, _ => ())

  /** As [[compact]], with a test seam: `beforePromote(leafPath)` runs
    * after the staging rewrite but before the change-detection re-check
    * and swap — the deterministic interleave point for the
    * concurrent-writer guard spec. */
  private[graft] def compact(spark: SparkSession, root: String,
              targetBytes: Long, parallelism: Int,
              beforePromote: String => Unit): Report = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(parallelism > 0, "parallelism must be positive")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed promote of the ROOT leaf itself (unpartitioned table)
    // strands the aside BESIDE the root — outside the child sweep's
    // scan — with no live root at all; restore it first
    val rootAside = BulkPipeline.asidePath(rootPath)
    if (fs.exists(rootAside)) BulkPipeline.restoreAside(fs, rootAside): Unit
    recoverOrphanedAsides(fs, rootPath)
    // Size the READ splits to the target too: small files pack into
    // maxPartitionBytes-sized splits, so with the default 128 MB a
    // sub-128MB leaf reads as ONE split and coalesce could never reach
    // `want` output files. Splits ≈ want keeps the rewrite
    // zero-shuffle AND target-sized.
    val session = spark.newSession()
    session.conf.set("spark.sql.files.maxPartitionBytes", targetBytes.toString)
    Report(BulkPipeline.runJobs(session, parallelism, leafDirs(fs, rootPath)) { leaf =>
      // Fingerprint of everything the rewrite consumes or carries
      // over: data files AND metadata sidecars (name, length, mtime).
      // Re-checked just before the promote — a writer that lands a
      // batch between the read and the swap (new b<id>- files, or a
      // _last_batch watermark advance) would otherwise have its rows
      // renamed away and its watermark rolled back, letting a later
      // replay re-append duplicates. Compaction is designed for a
      // quiescent table; this guard makes a concurrent writer a
      // SKIPPED leaf (retried next run) instead of silent data loss.
      def snapshot(): Seq[(String, Long, Long)] =
        fs.listStatus(leaf)
          .filter(s => s.isFile &&
            (isDataFile(s.getPath) || s.getPath.getName.startsWith("_")))
          .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
          .sortBy(_._1).toSeq
      val snap0 = snapshot()
      val files = fs.listStatus(leaf).filter(s => s.isFile && isDataFile(s.getPath))
      val bytes = files.map(_.getLen).sum
      val want = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      if (files.length <= want)
        LeafReport(leaf.toString, files.length, files.length, bytes)
      else {
        val staging = BulkPipeline.stagingPath(leaf)
        fs.delete(staging, true)
        session.read.parquet(leaf.toString)
          .coalesce(want)
          .write.mode("overwrite").parquet(staging.toString)
        // Metadata sidecars (`_`-prefixed: replay watermarks like
        // _last_batch, family stamps like _hash_family) must SURVIVE
        // the swap — the rewrite replaces the whole directory, and a
        // lost watermark would let a replayed streaming batch
        // re-append its rows after compaction.
        fs.listStatus(leaf)
          .filter(s => s.isFile && s.getPath.getName.startsWith("_") &&
            s.getPath.getName != "_SUCCESS")
          .foreach { s =>
            org.apache.hadoop.fs.FileUtil.copy(
              fs, s.getPath, fs, new Path(staging, s.getPath.getName),
              false, spark.sparkContext.hadoopConfiguration): Unit
          }
        beforePromote(leaf.toString)
        if (snapshot() != snap0) {
          // concurrent writer detected — abandon the rewrite, leave
          // the leaf (including the writer's new files) untouched
          fs.delete(staging, true)
          LeafReport(leaf.toString, files.length, files.length, bytes)
        } else {
          BulkPipeline.promoteDir(session, staging.toString, leaf.toString)
          val after = fs.listStatus(leaf).count(s => s.isFile && isDataFile(s.getPath))
          LeafReport(leaf.toString, files.length, after, bytes)
        }
      }
    })
  }
}
