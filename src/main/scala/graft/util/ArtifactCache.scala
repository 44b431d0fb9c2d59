package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** THE per-dataset derived-artifact cache (r12 verdict #7): trained
  * centroids, persisted index dirs, checkpointed edge frames and warm
  * search plans all share one lifecycle — "pure function of (dataset
  * file, semantic version), rebuilt when either changes, re-validated
  * on every hit, swept when the owning session dies". Call sites
  * declare an artifact through the object's shapes
  * ([[ArtifactCache.sessionScoped]], [[ArtifactCache.datasetScoped]],
  * [[ArtifactCache.persistedRoot]] and the two persisted shapes built
  * on it), which own the invariants:
  *
  *  - KEY MATERIAL is a 128-bit hex digest ([[stamp]]) of
  *    [[datasetStamp]] (path + mtime + LENGTH — a same-second rewrite
  *    still changes the digest; a 32-bit hashCode collision once
  *    served the wrong persisted index, ADVICE r08) plus every
  *    semantic knob baked into the artifact (cutoffs, hash-family
  *    versions, algorithm tags).
  *  - SESSION-OWNED values are served only to the session that built
  *    them and only while its context lives — a recycled
  *    identityHashCode after GC must rebuild, never serve RDDs of a
  *    dead context — and stopped sessions' entries are swept, so
  *    long-lived JVMs (bench loops, notebooks) never pin dead
  *    sessions' blocks.
  */
final class ArtifactCache[V](val name: String) {
  private val m = scala.collection.concurrent.TrieMap.empty[String, V]
  // Per-key build lock: builds are NOT all side-effect-free (the
  // signature-index and label-table builds deleteRecursively + DROP
  // TABLE + saveAsTable), so a check-then-act race between two callers
  // on one session can interleave destructive filesystem/catalog work
  // (ADVICE r13). One builder per key at a time; the lock object is
  // interned per key and never removed (bounded by distinct key count,
  // which is bounded by distinct artifacts).
  private val locks = scala.collection.concurrent.TrieMap.empty[String, AnyRef]

  /** Cached value for `key` if still `valid`, else `build` and
    * remember. At most one builder runs for a given key at a time;
    * losers of the race re-check the cache under the lock and get the
    * winner's value. Distinct keys build concurrently. */
  def getOrBuild(key: String, valid: V => Boolean)(build: => V): V =
    m.get(key).filter(valid).getOrElse {
      val lock = locks.getOrElseUpdate(key, new AnyRef)
      lock.synchronized {
        // Re-check under the lock: a concurrent builder may have
        // finished while this caller was waiting.
        m.get(key).filter(valid).getOrElse {
          val v = build
          m.put(key, v)
          v
        }
      }
    }

  /** Drop entries whose value went dead (stopped session, deleted
    * artifact) — call before building a replacement so stale entries
    * can't pin resources for the JVM's lifetime. */
  def sweep(dead: V => Boolean): Unit =
    m.filterInPlace((_, v) => !dead(v))

  private[graft] def size: Int = m.size
}

object ArtifactCache {

  /** Plan a checkpointed artifact frame with AQE disabled so the
    * LogicalRDD keeps the child's outputPartitioning/outputOrdering.
    * Under AQE, `Dataset.localCheckpoint` records UnknownPartitioning
    * (runtime coalescing may change the layout before the plan is
    * final), which silently re-adds an Exchange under every keyed
    * consumer of the artifact — measured empirically on Spark 4.1
    * (GraphQueriesSpec pins the preserved case). Only the artifact's
    * own build plan runs non-adaptively; the flag is restored in a
    * finally, and consumers plan normally. */
  def planWithStablePartitioning[A](s: SparkSession)(f: => A): A = {
    val prev = s.conf.getOption("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try f
    finally prev match {
      case Some(v) => s.conf.set("spark.sql.adaptive.enabled", v)
      case None    => s.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  /** 128-bit hex digest of an artifact descriptor. */
  def stamp(descriptor: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(descriptor.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Dataset-file component of a descriptor: path, mtime AND length
    * (mtime alone misses a same-second rewrite). A missing file
    * stamps as mtime 0 / length 0 — callers that require existence
    * should `require` it loudly first, or the failure caches. */
  def datasetStamp(path: String): String = {
    val f = new java.io.File(path)
    s"$path@${f.lastModified()}@${f.length()}"
  }

  /** Full [[stamp]] of `datasetStamp(input)@knob1@knob2...` — the
    * dataset tag telemetry lines carry; cache keys are its first 16
    * hex digits. */
  def datasetTag(input: String, knobs: String*): String =
    stamp(datasetStamp(input) + knobs.map("@" + _).mkString)

  /** Session identity component for session-owned values: the identity
    * hash as exactly 8 hex digits, so every session-table name has the
    * same shape (plan diffs mask the suffix by its fixed width). */
  private def sessionKey(s: SparkSession): String = hex8(System.identityHashCode(s))
  private[util] def hex8(h: Int): String = f"$h%08x"

  /** All persisted per-dataset artifact dirs and catalog-table paths
    * live under ONE tmp root, deterministic per (JVM pid) so rebuilds
    * overwrite in place instead of accumulating copies, and the whole
    * root is swept on JVM exit — artifacts are CACHES of pure
    * functions of a dataset, never durable state this sandbox must
    * keep. PER-JVM (r13): a shared root's exit sweep once deleted a
    * sibling JVM's live index files mid-query; each JVM owns
    * `graft_sig_idx_<pid>` and sweeps only that. Roots left by DEAD
    * pids (a crashed JVM never runs its hook) are reaped
    * opportunistically at first use. Moved here from the similarity module
    * (r17) so every module's artifact writers — the shingle/embedding
    * tables, the signature/label indexes, the text module's gram
    * inventory — share one lifecycle. */
  lazy val artifactRoot: java.io.File = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val pid = ProcessHandle.current().pid()
    Option(tmp.listFiles()).foreach(_.foreach { f =>
      val n = f.getName
      if (f.isDirectory && n.startsWith("graft_sig_idx_")) {
        val owner = n.stripPrefix("graft_sig_idx_").toLongOption
        if (owner.exists(p => p != pid && !ProcessHandle.of(p).isPresent))
          deleteRecursively(f)
      }
    })
    val root = new java.io.File(tmp, s"graft_sig_idx_$pid")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      deleteRecursively(root)))
    root
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  // ---- per-dataset artifacts ---------------------------------------
  //
  // An artifact is a pure function of ONE input file and a few
  // semantic knobs, built once and rebuilt when either changes. Each
  // artifact is one definition in one of these shapes:
  //
  //  - [[sessionScoped]]: an in-memory value holding a session's frames.
  //    A hit is served only to the session that built it (`eq`) and
  //    only while its context is alive; a build first sweeps the
  //    entries of stopped sessions.
  //  - [[datasetScoped]]: in-memory driver-side data, shared by every
  //    session.
  //  - [[persistedRoot]]: a directory under [[artifactRoot]] named
  //    `graft_<name>_<key>`, written by the caller's build and served
  //    while the caller's validity check holds.
  //  - [[persistedDir]]: a persisted root holding one plain parquet dir
  //    shared by every session, written through the fenced staged
  //    commit ([[stagedArtifactWrite]]); a hit is valid while its
  //    `_SUCCESS` marker exists, so a crashed write rebuilds.
  //  - [[sessionTable]]: a catalog table named
  //    `graft_<name>_<key>_<session>` (so each session builds its
  //    own), rebuilt in place; a hit is valid while the table exists.
  //
  // <key> is the first 16 hex digits of [[datasetTag]]. The artifact
  // name is part of the cache key (its own store, or the dir/table
  // name), so two artifacts with identical knobs never collide. A
  // missing input fails loudly before anything is keyed: its mtime-0
  // stamp would otherwise cache. Builds may nest (one artifact's build
  // may read another); the build lock is per key.

  /** How a [[sessionTable]] lays out its files. */
  sealed trait Layout
  case object Plain extends Layout
  /** `n` file buckets on `cols`, optionally sorted on them. Rows are
    * repartitioned on the bucket hash before the write — repartition
    * and bucketing share Spark's murmur3 HashPartitioning — so every
    * bucket lands as exactly ONE file and bucketed reads plan with
    * zero exchange (and zero sort when `sorted`). */
  final case class Bucketed(n: Int, cols: Seq[String], sorted: Boolean) extends Layout

  private def artifactKey(name: String, input: String, knobs: Seq[String]): String = {
    val f = new java.io.File(input)
    require(f.exists(), s"$name artifact: input $f does not exist")
    datasetTag(f.getPath, knobs: _*).take(16)
  }

  /** A session's in-memory artifact `name`: see [[sessionScoped]]. */
  final class SessionScoped[V] private[ArtifactCache] (name: String) {
    private val cache = new ArtifactCache[(SparkSession, V)](name)

    def apply(s: SparkSession, input: String, knobs: String*)(build: => V): V =
      cache.getOrBuild(s"${artifactKey(name, input, knobs)}@${sessionKey(s)}",
          e => (e._1 eq s) && !s.sparkContext.isStopped) {
        cache.sweep(_._1.sparkContext.isStopped)
        (s, build)
      }._2
  }

  /** A dataset's in-memory artifact `name`: see [[datasetScoped]]. */
  final class DatasetScoped[V] private[ArtifactCache] (name: String) {
    private val cache = new ArtifactCache[V](name)

    def apply(input: String, knobs: String*)(build: => V): V =
      cache.getOrBuild(artifactKey(name, input, knobs), _ => true)(build)
  }

  def sessionScoped[V](name: String): SessionScoped[V] = new SessionScoped(name)
  def datasetScoped[V](name: String): DatasetScoped[V] = new DatasetScoped(name)

  /** (artifact dir or table name) → dir path or table name. */
  private val persisted = new ArtifactCache[String]("persisted-artifacts")

  /** Path of the persisted root `name` derived from `input`; `build`
    * writes it first if no copy passes `valid`. */
  def persistedRoot(name: String, input: String, knobs: String*)(
      valid: java.io.File => Boolean)(build: java.io.File => Unit): String = {
    val root = new java.io.File(artifactRoot,
      s"graft_${name}_${artifactKey(name, input, knobs)}")
    persisted.getOrBuild(root.getName, r => valid(new java.io.File(r))) {
      build(root)
      root.getPath
    }
  }

  /** Path of the persisted parquet dir `name` derived from `input`,
    * writing `build` first if no valid copy exists. */
  def persistedDir(s: SparkSession, name: String, input: String, knobs: String*)(
      build: => DataFrame): String =
    persistedRoot(name, input, knobs: _*)(new java.io.File(_, "_SUCCESS").exists) { root =>
      stagedArtifactWrite(s, root, s"$name artifact") { staging =>
        build.write.mode("overwrite").parquet(staging)
      }
    }

  /** The session's catalog table `name` derived from `input`, saving
    * `build` with `layout` first if the table is missing. */
  def sessionTable(s: SparkSession, name: String, input: String, layout: Layout,
      knobs: String*)(build: => DataFrame): DataFrame = {
    val table =
      s"graft_${name}_${artifactKey(name, input, knobs)}_${sessionKey(s)}"
    s.table(persisted.getOrBuild(table, t => s.catalog.tableExists(t)) {
      val path = new java.io.File(artifactRoot, table)
      deleteRecursively(path) // rebuilds overwrite in place, never accumulate
      saveTable(s, table, path.getPath, layout)(build)
      table
    })
  }

  /** (Re)create catalog table `table` at `path` from `rows`. */
  private[graft] def saveTable(s: SparkSession, table: String, path: String,
      layout: Layout)(rows: => DataFrame): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val w = layout match {
      case Plain => rows.write
      case Bucketed(n, cols, sorted) =>
        val b = rows.repartition(n, cols.map(col): _*).write
          .bucketBy(n, cols.head, cols.tail: _*)
        if (sorted) b.sortBy(cols.head, cols.tail: _*) else b
    }
    w.mode("overwrite").option("path", path).saveAsTable(table)
  }

  /** Fenced, STAGED commit of a per-dataset parquet artifact dir (r16,
    * closing the r15 advice on the cell-assignment artifact): the
    * corpus-sized write lands in a PER-ATTEMPT `_staging_<lease-token>`
    * sibling INSIDE the lease, ownership re-validates at the commit
    * point, and only then does the staging dir rename into place — the
    * beam-manifest commit discipline applied to directory artifacts. A
    * direct write to the final path (the old cellAssign shape) meant a
    * write outliving the staleness window could interleave two
    * writers' part files under one _SUCCESS; with per-attempt staging,
    * a stale writer's work never reaches the served path: its
    * committer can only write into its OWN (already-swept) staging
    * dir, and its commit aborts at the commit-point
    * [[WriterFence.Lease.check]].
    * The check→rename gap itself is closed by the same ordering
    * argument as the beam manifest commit: a steal AFTER the
    * post-rename check must re-validate the artifact under ITS lease
    * (getOrBuild re-checks validity inside the build lock), and a steal
    * BEFORE it aborts loudly here, deleting the possibly-interleaved
    * result so a torn artifact is never served (spec:
    * ShingleArtifactSpec).
    */
  private[graft] def stagedArtifactWrite(
      s: SparkSession, root: java.io.File, what: String)(
      write: String => Unit): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root.getPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    WriterFence.withLease(fs, s"${root.getPath}_lock", what) { lease =>
      // Staging dir UNIQUE per attempt (ADVICE r16): a fixed shared
      // `_staging` path let a presumed-stale writer outliving the
      // staleness window have its output committer rename late part
      // files into a STEALER's freshly rebuilt staging dir (after the
      // stealer's delete, before its rename) — the stealer would then
      // commit an interleaved artifact under a valid lease, and the
      // post-rename fence only detects steals of the stealer's OWN
      // lease. Suffixing with the lease token means a stale writer's
      // committer can only ever touch ITS OWN staging dir, which the
      // claim-time sweep below has deleted — its files land in a
      // garbage dir nothing renames, and its commit still aborts at
      // the lease check. The sweep also reaps those garbage dirs.
      Option(root.getParentFile.listFiles()).foreach(_.foreach { f =>
        if (f.getName.startsWith(s"${root.getName}_staging"))
          deleteRecursively(f)
      })
      val staging =
        new java.io.File(s"${root.getPath}_staging_${lease.token.take(8)}")
      write(staging.getPath) // the corpus pass — the long part
      lease.check() // fence BEFORE touching the served path
      stagedCommitTestSeam()
      deleteRecursively(root)
      require(staging.renameTo(root),
        s"$what: staged commit rename failed ($staging -> $root)")
      try lease.check()
      catch {
        case e: WriterFence.ConcurrentWriterException =>
          deleteRecursively(root) // never serve a possibly-torn artifact
          throw new WriterFence.ConcurrentWriterException(
            s"$what at $root was renamed in, but the writer lease was " +
              "stolen during the commit window — the artifact was deleted " +
              s"rather than risk serving interleaved state: ${e.getMessage}")
      }
    }
  }

  /** Test seam (ShingleArtifactSpec): runs between the commit-point
    * ownership check and the staging rename — the residual window the
    * post-rename fence exists to flag. */
  private[graft] var stagedCommitTestSeam: () => Unit = () => ()
}
