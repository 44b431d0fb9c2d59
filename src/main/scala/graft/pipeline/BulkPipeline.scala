package graft.pipeline

import java.util.concurrent.{ExecutionException, Executors}
import scala.util.{Failure, Try}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{classic, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, count_if}
import org.apache.spark.sql.types.StructType
import graft.ingest.Ndjson

/** The reference's orchestration shape (O1–O3, SURVEY §2.4) as local
  * control flow around Spark jobs: staged directories with atomic-ish
  * promotion, a bounded-retry poller, and a `_since` cursor.
  *
  * The auth chain (O4–O7) lives in [[Auth]] — discovery, RS384 JWT
  * signing, token exchange and the cached scoped provider, all
  * offline-testable behind `HttpTransport`/`JwtSigner` seams; a
  * networked deployment composes `Auth.authorize` + `Auth.kickoffExport`
  * in front of [[pollUntilComplete]] and `runLocalFlow`. The poller
  * takes an abstract probe so the control flow is testable without a
  * network.
  */
object BulkPipeline {

  /** Stage layout mirroring the reference's blob containers
    * (export landing → processed → promoted; ref `__init__.py:338-349,
    * 663-680`). */
  final case class Stages(root: String) {
    val landing   = s"$root/landing"
    val processed = s"$root/processed"
    val promoted  = s"$root/promoted"
  }

  /** Poll an async job with REAL exponential backoff and a hard
    * iteration bound. The reference's loop is `while status != 200 or
    * cnt < 100` (`__init__.py:291`) — the `or` makes the cap dead and
    * the loop unbounded on perpetual 202; and its "exp_backoff" sleeps
    * `2*n` (linear, `:301`). Both bugs fixed here, per SURVEY §2
    * hazard 1.
    *
    * @param probe   returns Left(retryAfter hint ignored) while pending,
    *                Right(result) when complete
    * @param maxTries hard bound on probe calls
    * @param sleep   injected for tests (default Thread.sleep)
    * @return Some(result) if completed within the bound, None otherwise
    */
  def pollUntilComplete[A](
      probe: () => Either[Unit, A],
      maxTries: Int = 100,
      baseDelayMs: Long = 1000,
      maxDelayMs: Long = 60000,
      sleep: Long => Unit = Thread.sleep): Option[A] = {
    var tries = 0
    while (tries < maxTries) {
      probe() match {
        case Right(a) => return Some(a)
        case Left(_) =>
          tries += 1
          if (tries < maxTries)
            sleep(math.min(baseDelayMs << math.min(tries - 1, 20), maxDelayMs))
      }
    }
    None
  }

  /** Promote a completed stage: write to a temp dir next to the target,
    * then swap it in by rename — the job-commit idiom that replaces the
    * reference's per-blob copy+delete loop (`copy_blobs`,
    * `__init__.py:338-349`). On HDFS/ABFS the rename is atomic at the
    * directory level; on S3 a committer handles it.
    */
  def writeAndPromote(df: DataFrame, target: String): Unit = {
    val spark = df.sparkSession
    val tmp = stagingPath(new Path(target)).toString
    df.write.mode("overwrite").parquet(tmp)
    swapIn(spark, tmp, target)
  }

  /** Staging/aside siblings are DOT-prefixed so Spark's file listing
    * and partition discovery skip them: a hive-style leaf `p=1` must
    * never gain a sibling like `p=1.__old__` — its `=` would parse as
    * a bogus partition value and double-count rows mid-compaction or
    * after a crash. Hidden (`.`/`_`) names are invisible to readers by
    * Spark convention, so the swap machinery can leave them around
    * across a crash without corrupting any scan of the parent dir.
    */
  private[pipeline] def stagingPath(dst: Path): Path =
    new Path(dst.getParent, "." + dst.getName + ".__staging__")
  private[pipeline] def asidePath(dst: Path): Path =
    new Path(dst.getParent, "." + dst.getName + AsideSuffix)
  private val AsideSuffix = ".__old__"

  /** An aside's name: `.X.__old__`, or the pre-r12 bare `X.__old__`. */
  private[pipeline] def isAside(name: String): Boolean = name.endsWith(AsideSuffix)

  /** The aside-restore rule, for an EXISTING aside `aside`: its target
    * `X` is missing only when a promotion crashed BETWEEN swapIn's
    * aside-rename and its swap, so the aside is the only live data and
    * renames back into place — deleting it would re-open the loss
    * window the aside rename exists to close. Returns whether the
    * aside is still there, i.e. stale beside a live target. */
  private[pipeline] def restoreAside(fs: FileSystem, aside: Path): Boolean = {
    val dst = new Path(aside.getParent,
      aside.getName.stripPrefix(".").stripSuffix(AsideSuffix))
    fs.exists(dst) || {
      require(fs.rename(aside, dst), s"crash recovery failed: $aside -> $dst")
      false
    }
  }

  /** Crash-safe directory swap: the previous target is renamed ASIDE
    * (not deleted) before the staging dir renames into place, and only
    * then removed. A crash between the two renames leaves the old data
    * recoverable at `<target>.__old__` instead of gone — the
    * delete-then-rename version had a window where a failure lost the
    * last promoted copy AND left readers with nothing.
    */
  private def swapIn(spark: SparkSession, src: String, target: String): Unit = {
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(target)
    val old = asidePath(dst)
    // a prior promotion that crashed mid-swap is restored first; one
    // that succeeded left a stale aside
    if (fs.exists(old) && restoreAside(fs, old)) fs.delete(old, true)
    fs.mkdirs(dst.getParent)
    if (fs.exists(dst))
      require(fs.rename(dst, old), s"promotion aside-rename failed: $target -> $old")
    if (!fs.rename(new Path(src), dst)) {
      // Roll back so readers keep seeing the previous promoted data.
      if (fs.exists(old)) fs.rename(old, dst)
      throw new IllegalStateException(s"promotion rename failed: $src -> $target")
    }
    if (fs.exists(old)) fs.delete(old, true)
  }

  /** The reference's whole `bulkimport` flow (trace: SURVEY §3.1),
    * minus the network legs: landing NDJSON per resource type →
    * schema'd scan with corrupt-line quarantine → (source, type)
    * dispatch transform → processed NDJSON → stage promotion → FHIR
    * `$import`-shaped manifest over the promoted files (ref
    * `build_fhir_import_parameters`, `__init__.py:205-242`).
    *
    * The reference runs one file after another (`:644-665`). Here each
    * landed type is one Spark job, the write, and the types' jobs run at
    * the same time, on as many threads as there are landed types, at
    * most `defaultParallelism`; each job runs under the caller's session
    * and job group. The quarantine count is returned instead of crashing
    * the run: it is an `Observation` on the write's own scan, exact
    * (retried tasks too) because no transform plans an exchange.
    *
    * Failure rule: a failed type does not stop the others. Every type
    * runs to its promotion or its own failure, then the first failure in
    * type order is rethrown (later ones attached as suppressed) and no
    * manifest is built; types that succeeded stay promoted, so a rerun
    * converges.
    *
    * @return (manifest JSON string, corrupt-line count per resource)
    */
  def runLocalFlow(
      spark: SparkSession,
      stages: Stages,
      serverUrl: String,
      resources: Seq[(String, StructType)],
      rxnorm: DataFrame): (String, Map[String, Long]) = {
    val fs = new Path(stages.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A Bulk Data export leaves out types with no resources: such a
    // type counts 0 corrupt lines and writes nothing (promoting an
    // empty frame would still list one empty part- file).
    val (landed, absent) = resources.partition { case (name, _) =>
      Option(fs.globStatus(new Path(s"${stages.landing}/$name-*.json"))).exists(_.nonEmpty)
    }
    def flowType(name: String, schema: StructType): Long = {
      val bad = Observation()
      // The observation also keeps the plan at one parse per line: its
      // `CollectMetrics` node stops Catalyst from pushing the good-row
      // and transform filters below `from_json`, where each would inline
      // its own parse (without it, each Epic write plan holds 3
      // `JsonToStructs` and the BCDA one 17).
      val raw = Ndjson.read(spark, s"${stages.landing}/$name-*.json", schema)
        .observe(bad, count_if(col(Ndjson.CorruptCol).isNotNull).as("n"))
      val transformed = graft.transform.FhirTransforms
        .dispatch(serverUrl, name, rxnorm)(Ndjson.good(raw))
      Ndjson.write(transformed, s"${stages.processed}/$name")
      promoteDir(spark, s"${stages.processed}/$name", s"${stages.promoted}/$name")
      // After the write: a failed write has thrown, so `get` never waits.
      bad.get("n").asInstanceOf[Long]
    }
    // A type's job is a few tasks, and most of its time is fixed driver
    // and job-launch cost: types run one after another leave cores idle.
    // No sibling is cut off between write and promotion by a failure.
    val corrupt = runJobs(spark, spark.sparkContext.defaultParallelism, landed) {
      case (name, schema) => name -> flowType(name, schema)
    }.toMap ++ absent.map(_._1 -> 0L)

    // Manifest: one input entry per promoted part-file in (type, url)
    // order (the reference's blob listing + Parameters build,
    // `:199-242`), over this run's types only — never an older run's
    // promoted dir. A type whose every line was quarantined or removed
    // still promotes one empty part-file; `$import` gets no input for it.
    val entries = landed.flatMap { case (name, _) =>
      fs.listStatus(new Path(s"${stages.promoted}/$name"))
        .filter(s => s.getPath.getName.startsWith("part-") && s.getLen > 0)
        .map(s => (name, s.getPath.toString))
    }
    val mapper = new ObjectMapper()
    val manifest = mapper.createObjectNode().put("inputFormat", "application/fhir+ndjson")
    val input = manifest.putArray("input")
    entries.sorted.foreach { case (t, url) => input.addObject().put("type", t).put("url", url) }
    (mapper.writeValueAsString(manifest), corrupt)
  }

  /** Run `job` over `items` as concurrent Spark jobs on at most
    * `threads` threads, each under `spark` as the active session and the
    * calling thread's job group and local properties. Returns only after
    * every job has ended, so none outlives the call: the results in item
    * order, or the first failure in item order rethrown with the later
    * ones attached as suppressed. */
  private[pipeline] def runJobs[A, B](spark: SparkSession, threads: Int, items: Seq[A])(
      job: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(threads, items.size)))
    val jobs =
      try items.map { item =>
        SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], pool) {
          job(item)
        }
      } finally pool.shutdown()
    val outcomes = jobs.map(j => Try(j.get()).recoverWith {
      case e: ExecutionException => Failure(e.getCause)
    })
    outcomes.collect { case Failure(e) => e } match {
      case first +: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case _ => outcomes.map(_.get)
    }
  }

  /** Directory-level stage promotion by FS rename (replaces the
    * reference's per-blob copy+delete, `__init__.py:338-349`); same
    * crash-safe aside-rename swap as [[writeAndPromote]]. */
  def promoteDir(spark: SparkSession, src: String, dst: String): Unit =
    swapIn(spark, src, dst)

  /** `_since` cursor persistence (ref `__init__.py:609-613`): the next
    * incremental extract reads only rows with ts > cursor. Stored as a
    * one-line file beside the stage root.
    */
  def readCursor(spark: SparkSession, root: String): Option[String] = {
    val p = new Path(s"$root/_since")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim).filter(_.nonEmpty)
      finally in.close()
    }
  }

  def writeCursor(spark: SparkSession, root: String, since: String): Unit = {
    val p = new Path(s"$root/_since")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(since.getBytes("UTF-8"))
    finally out.close()
  }
}
