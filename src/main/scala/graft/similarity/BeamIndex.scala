package graft.similarity

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Q, QueryModule}
import graft.util.{ArtifactCache, WriterFence}
import graft.similarity.VectorQueries.{bucketKnnEdges, embAutoWidth, embBucketTable, knnEdgesAuto, knnSqlCtes, normEmbArtifact, signBuckets}

/** The beam-search ANN index: its on-disk format (manifest
  * generations over nodes, kn leaves and fingers), its lifecycle
  * (create, append, delete, compact, vacuum) and q_ann_beam's search. */
object BeamIndex extends QueryModule {

  /** Beam-search budget: hops (frontier expansions) and beam width
    * (nodes expanded per hop). Candidate budget ≈ √n hubs +
    * H·B·(2k + log₂n) scored vectors per query — comparable to the
    * multiprobe-LSH candidate count at the demo corpus, tunable like
    * HNSW's ef. Both are mirrored as literals in the generated oracle
    * CTE chain, so changing them is a one-constant edit. */
  private val BeamHops = 4
  private val BeamWidth = 8

  /** Hub stride for [[annBeamPlan]]'s entry layer: every `stride`-th
    * vec_id is a hub, stride = 2^round(log2(√n)) (≥4), so the hub
    * count tracks √n — the classic coarse-layer sizing (cf. IVF's
    * √n-cells rule). Power-of-two strides keep the modulo exact and
    * cheap on both engines; the oracle derives the SAME stride in SQL
    * from count(embeddings), with the documented log2-ulp caveat of
    * [[VectorQueries.knnBucketSql]] (corpus sizes sit well off .5 boundaries). */
  private[graft] def annBeamHubStride(n: Long): Long =
    1L << math.max(2L,
      math.round(math.log(math.sqrt(n.toDouble)) / math.log(2.0))).toInt

  // ──────────────── beam-graph index lifecycle (r11 #2/#3/#5) ───────
  //
  // The navigable graph IS the beam search's index, and it now has the
  // same lifecycle as every sibling ANN artifact (sig index, IVF
  // centroids, PQ codebooks): built once, persisted, mtime-keyed, and
  // APPENDABLE without a full rebuild. The index stores TOPOLOGY ONLY
  // — vectors stay in the embeddings table — under one root:
  //
  //   root/nodes    (vec_id, bucket, rk)   sign-LSH cell + dense rank
  //   root/kn       (vec_id, nbr_id, bucket) one-directional in-bucket
  //                 top-3 edges, hive-PARTITIONED BY the src bucket —
  //                 the append unit: only buckets that receive new
  //                 vectors are rewritten (dynamic partition overwrite)
  //   root/fingers  (src, dst)             rank-space Chord links
  //   root/_meta    planes + n             the LSH width is FROZEN at
  //                 creation (bucket identity must never reshuffle
  //                 under appends); n feeds the hub stride
  //
  // Ranks are dense row_numbers over vec_id — the id-ranking pass the
  // r11 scaladoc promised: finger/hub navigation now works on SPARSE
  // vec_id corpora too, and on dense corpora rk == vec_id so results
  // are identical to the pre-index plan. The rank assignment is
  // RANGE-PARTITIONED ([[denseRankByKey]], r12 verdict #1): no stage
  // of the build or append funnels the node table through a single
  // task — paid once per build/append, never per search.
  //
  // Append = assign the new vectors to their (frozen-width) buckets,
  // recompute the in-bucket kNN for ONLY the affected buckets (old
  // vectors' bucket membership never changes, so unaffected buckets'
  // edges are untouched — the within-bucket top-3 is exact, hence
  // append ≡ rebuild, proven in BeamIndexSpec), then re-rank nodes and
  // regenerate fingers (pure arithmetic over the rank table — no
  // scoring). Cost ∝ affected-bucket population² + n·log n arithmetic,
  // independent of corpus size beyond the re-rank.

  /** Dense rank `base..base+n-1` by `key` WITHOUT a single-task global
    * window (r12 verdict #1 — `row_number().over(Window.orderBy(...))`
    * funnels the whole frame through one task; at corpus scale that
    * stage is the build's straggler). The distributed shape: range-
    * partition on the key, rank WITHIN each partition, and add
    * per-partition offsets computed from the tiny (one row per
    * partition) count frame. The range-partitioned frame is eagerly
    * checkpointed so the offset pass and the final join see the SAME
    * materialization — repartitionByRange samples its boundaries, so
    * two independent evaluations could split rows differently and
    * desync pid-keyed offsets. The offset cumsum's unpartitioned
    * window is bounded by the partition COUNT (32 here, thousands on a
    * cluster), never the row count. `key` must be unique (vec_ids
    * are); ties would make the rank nondeterministic. */
  private[graft] def denseRankByKey(
      df: DataFrame, key: String, rkName: String, base: Long): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val byRange = df.repartitionByRange(parts, col(key))
      .withColumn("_pid", spark_partition_id())
      // DISK_ONLY: the ranked frame is input-sized (corpus-scale for
      // q_percentile) and is read twice (census + join) — disk re-read
      // beats locking it in the storage pool (r15 checkpoint rule)
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val offsets = byRange.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
      .withColumn("_off",
        coalesce(sum(col("_cnt")).over(
          Window.orderBy(col("_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_off"))
    byRange.join(broadcast(offsets), Seq("_pid"))
      .withColumn(rkName,
        (lit(base) + col("_off") +
          row_number().over(Window.partitionBy(col("_pid")).orderBy(col(key))) - 1)
          .cast(LongType))
      .drop("_pid", "_off")
  }

  // ── versioned beam-index commits (snapshot isolation, r12 #2) ──
  //
  // A beam index root is a VERSIONED table: data files live in
  // per-generation dirs `root/g<N>/{nodes,fingers,kn}` that are
  // written before — and never mutated after — their generation
  // commits, and a commit is one immutable numbered manifest file
  // under `root/_gen/` listing the exact dirs of that snapshot. A
  // reader resolves the highest committed manifest once and pins that
  // file set for the whole query: a concurrent append/delete only
  // ADDS g<N+1> dirs and a new manifest, so any read observes either
  // the old or the new index, NEVER a mix (the pre-r13
  // fingers→meta→nodes promote ordering guaranteed crash-replay
  // convergence but not reader isolation — BeamIndexSpec pins both
  // now). The manifest rename is the single commit point: a crash
  // anywhere earlier leaves the previous manifest current, and the
  // replay recomputes the SAME deterministic generation number
  // (parent + 1) and overwrites the same g<N+1> dirs, so orphaned
  // attempt files self-heal. Unreferenced generations are reclaimed
  // by [[beamIndexVacuum]]. Single writer (a batch job or the stream
  // clock) is the write-side contract — ENFORCED since r14 by a
  // [[WriterFence]] lease (`root/_writer.lock`): every mutator
  // (create/append/delete/vacuum) claims it create-exclusively, so a
  // concurrent second writer fails at acquire instead of silently
  // clobbering the first's manifest rename, and a writer whose lease
  // was stolen after a stall aborts at the commit-point check.

  /** Finger-geometry format stamp: clipped non-wraparound links,
    * symmetrized at read (r12 v2). Persisted in every manifest and
    * REQUIRED on every read — a pre-v2 (mod-n) index mixed with
    * clipped delta appends would be neither geometry and silently
    * violate the append ≡ rebuild contract, so mismatched indexes
    * fail fast with the rebuild instruction instead. */
  private[graft] val BeamFingerGeometry = "clip-v2"

  /** One committed snapshot of a beam index: generation number, the
    * frozen LSH width, vector count, and the root-relative data dirs —
    * nodes/fingers as ordered dir lists (base + monotone-append
    * deltas), kn as bucket → leaf dir (only EMITTED buckets appear;
    * a single-member bucket has no in-bucket edges). */
  private[graft] final case class BeamManifest(
      gen: Long, planes: Int, n: Long,
      nodesDirs: Seq[String], fingerDirs: Seq[String],
      knDirs: Map[Int, String])

  private def beamGenPath(root: String) =
    new org.apache.hadoop.fs.Path(root, "_gen")

  private def beamFs(s: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Resolve the CURRENT committed manifest (highest numbered file in
    * `_gen/`). Everything a search or maintenance pass reads derives
    * from one manifest resolution — that is the snapshot-isolation
    * contract. */
  private[graft] def beamManifest(s: SparkSession, root: String): BeamManifest = {
    val fs = beamFs(s, root)
    val dir = beamGenPath(root)
    val gens =
      if (fs.exists(dir))
        fs.listStatus(dir).flatMap(st => st.getPath.getName.toLongOption).toSeq
      else Seq.empty
    require(gens.nonEmpty,
      s"no committed generation under $root/_gen — not a beam index " +
        "(or a pre-manifest layout); rebuild the index with beamIndexCreate")
    val gen = gens.max
    val (m, geom) = readManifest(fs, new org.apache.hadoop.fs.Path(dir, gen.toString), gen)
    require(geom == BeamFingerGeometry,
      s"beam index at $root has finger geometry '$geom' but this build " +
        s"expects '$BeamFingerGeometry' — appending clipped deltas to a " +
        "wraparound graph would corrupt it; rebuild the index")
    m
  }

  /** Parse generation `gen`'s manifest file `p` (the format
    * [[commitBeamManifest]] writes): `key=value` lines, dir lists
    * comma-separated, kn as `bucket:dir` entries separated by `;`.
    * Returns the manifest and its finger geometry. */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, gen: Long): (BeamManifest, String) = {
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val kv = text.split("\n").map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap
    def dirs(k: String) = kv.getOrElse(k, "").split(",").toSeq.filter(_.nonEmpty)
    (BeamManifest(gen, kv("planes").toInt, kv("n").toLong,
      dirs("nodesdirs"), dirs("fingerdirs"),
      kv.getOrElse("kn", "").split(";").toSeq.filter(_.nonEmpty).map { e =>
        val Array(b, d) = e.split(":", 2); b.toInt -> d
      }.toMap), kv.getOrElse("geometry", "mod-v1"))
  }

  /** Commit a generation: write the manifest to a hidden temp name and
    * rename it in — the atomic commit point. The data dirs it lists
    * must already be fully written. `lease` is the writer fence
    * (r13 verdict #1): ownership re-validates HERE, immediately before
    * the rename, so a writer whose lease was presumed stale and stolen
    * mid-transaction aborts loudly instead of clobbering the thief's
    * commit. */
  private def commitBeamManifest(
      s: SparkSession, root: String, m: BeamManifest,
      lease: Option[WriterFence.Lease]): Unit = {
    val fs = beamFs(s, root)
    val dir = beamGenPath(root)
    fs.mkdirs(dir)
    val body = s"planes=${m.planes}\nn=${m.n}\ngeometry=$BeamFingerGeometry\n" +
      s"nodesdirs=${m.nodesDirs.mkString(",")}\n" +
      s"fingerdirs=${m.fingerDirs.mkString(",")}\n" +
      s"kn=${m.knDirs.toSeq.sortBy(_._1).map { case (b, d) => s"$b:$d" }.mkString(";")}\n"
    val tmp = new org.apache.hadoop.fs.Path(dir, s".${m.gen}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    // the commit-point fence: with the lease held and re-validated, at
    // most one writer can reach the rename for any generation — a
    // concurrent appender failed at ACQUIRE, and a stale-steal victim
    // fails right here, before touching committed state
    lease.foreach(_.check())
    beamCommitTestSeam()
    // a replay of an attempt that crashed after this commit is cut off
    // upstream (the new-vector/deleted-id guards no-op), so a live
    // target here is a leftover of THIS commit's own crash-replay —
    // replace it (single-writer, now fence-enforced)
    fs.delete(new org.apache.hadoop.fs.Path(dir, m.gen.toString), false)
    require(fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, m.gen.toString)),
      s"beam manifest commit failed: $root gen ${m.gen}")
    // POST-rename fence (r14 verdict #6) — closes the check→rename
    // window by an ORDERING argument rather than an FS-atomicity one
    // (POSIX rename replaces an existing file, so rename-if-absent
    // cannot be assumed on local filesystems):
    //  - a steal that happens BEFORE this check aborts loudly here
    //    (over-conservative but safe; the state is flagged for
    //    inspection, never silently wrong);
    //  - a steal AFTER this check necessarily precedes the thief's
    //    parent-manifest resolve (every mutator resolves its parent
    //    INSIDE its lease), which therefore sees THIS rename and
    //    builds on top of it — no clobber is possible.
    // For a thief to do harm undetected it would have to steal the
    // lease AND complete its entire data-write + commit inside this
    // writer's check→rename microsecond gap — its staging writes alone
    // take longer than that by orders of magnitude. The wall-clock
    // staleness assumption itself is documented on [[WriterFence]].
    try lease.foreach(_.check())
    catch {
      case e: WriterFence.ConcurrentWriterException =>
        throw new WriterFence.ConcurrentWriterException(
          s"beam manifest g${m.gen} at $root was renamed in, but the writer " +
            "lease was stolen during the commit window — the committed state " +
            "may interleave with another writer's and needs inspection: " +
            e.getMessage)
    }
  }

  /** Test seam (BeamIndexSpec): runs between the commit-point
    * ownership check and the manifest rename — the residual window the
    * post-rename fence exists to flag. */
  private[similarity] var beamCommitTestSeam: () => Unit = () => ()

  /** Write kn edge rows as generation `gen`'s bucket-partitioned
    * leaves and return the manifest's emitted-bucket map: bucket →
    * root-relative leaf dir. Tolerates a missing/empty dir (a delete
    * batch can leave zero surviving edges). */
  private def writeLeaves(
      s: SparkSession, root: String, gen: Long, kn: DataFrame): Map[Int, String] = {
    kn.write.partitionBy("bucket").mode("overwrite").parquet(s"$root/g$gen/kn")
    val fs = beamFs(s, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/g$gen/kn")
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).filter(_.isDirectory).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("bucket="))
        Some(n.stripPrefix("bucket=").toInt -> s"g$gen/kn/$n")
      else None
    }.toMap
  }

  /** (frozen plane width, vector count) of a persisted beam index. */
  private[graft] def beamMeta(s: SparkSession, root: String): (Int, Long) = {
    val m = beamManifest(s, root)
    (m.planes, m.n)
  }

  /** The snapshot's node table (vec_id, bucket, rk). */
  private[graft] def beamNodesFrame(s: SparkSession, root: String): DataFrame =
    beamNodesOf(s, root, beamManifest(s, root))

  private def beamNodesOf(s: SparkSession, root: String, m: BeamManifest): DataFrame =
    s.read.parquet(m.nodesDirs.map(d => s"$root/$d"): _*)

  /** Fail LOUDLY if a pinned snapshot's manifest no longer exists —
    * i.e. [[beamIndexVacuum]]'s grace window moved past it. A pinned
    * reader (the serving stream resolves its manifest once at start
    * and re-reads that generation's node/kn files every trigger) would
    * otherwise surface a bare executor FileNotFoundException mid-query
    * once its files are reclaimed; this converts it to an actionable
    * error at the START of the trigger (ADVICE r13 / verdict #4). The
    * check is one metadata existence probe — cheap enough per trigger. */
  private[graft] def requireBeamSnapshotLive(
      s: SparkSession, root: String, m: BeamManifest): Unit =
    if (!beamFs(s, root).exists(
        new org.apache.hadoop.fs.Path(beamGenPath(root), m.gen.toString)))
      throw new IllegalStateException(
        s"beam-index snapshot generation ${m.gen} at $root was vacuumed — " +
          "this reader outlived beamIndexVacuum's grace window " +
          "(keepGens newest manifests survive); restart the stream/query " +
          "to pin the current snapshot, or raise keepGens / slow the " +
          "vacuum cadence past the longest reader lifetime " +
          "(docs/STREAMING_SCALE.md)")

  /** Resolve a SPECIFIC committed generation's manifest (used by the
    * vacuum's grace window to learn what older snapshots reference). */
  private def beamManifestAt(
      s: SparkSession, root: String, gen: Long): Option[BeamManifest] = {
    val fs = beamFs(s, root)
    val p = new org.apache.hadoop.fs.Path(beamGenPath(root), gen.toString)
    if (!fs.exists(p)) None else Some(readManifest(fs, p, gen)._1)
  }

  /** Reclaim generations no RETAINED manifest references — the
    * maintenance job a long-lived index runs beside compaction.
    * `keepGens` is the GRACE WINDOW: the newest `keepGens` manifests
    * (and every generation dir any of them references) survive, so
    * readers pinned to a recent snapshot — a serving stream resolves
    * its manifest once at start and reads that generation's node
    * files per trigger — keep working as long as they restart within
    * the window. keepGens = 1 is the aggressive form (current
    * snapshot only; requires reader quiescence, like any
    * table-format vacuum). Dir-level GC: a generation dir survives
    * while ANY retained manifest references any of its dirs (e.g.
    * untouched kn leaves). */
  private[graft] def beamIndexVacuum(
      s: SparkSession, root: String, keepGens: Int = 2,
      beforeSweep: () => Unit = () => ()): Unit =
   WriterFence.withLease(beamFs(s, root), root, "beam index") { lease =>
    require(keepGens >= 1, "keepGens must be at least 1")
    val m = beamManifest(s, root)
    val fs = beamFs(s, root)
    val gens = fs.listStatus(beamGenPath(root))
      .flatMap(_.getPath.getName.toLongOption).sorted.toSeq
    val retained = gens.takeRight(keepGens)
    val referenced = retained
      .flatMap(g => beamManifestAt(s, root, g))
      .flatMap(mm => mm.nodesDirs ++ mm.fingerDirs ++ mm.knDirs.values)
      .map(_.takeWhile(_ != '/')).toSet
    beforeSweep() // test seam: simulate a stall/steal inside the lease
    // commit-point fence (r14 advice): the retained/referenced sets
    // above come from a listing taken under THIS lease — if the vacuum
    // stalled past the staleness window and the lease was stolen, a
    // thief may have committed a fresh generation this listing never
    // saw; abort before deleting anything computed from a pre-steal view
    lease.check()
    fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n.length > 1 && n.head == 'g' && n.tail.forall(_.isDigit) &&
        !referenced.contains(n))
      .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(root, n), true): Unit)
    gens.filterNot(retained.contains).foreach(g =>
      fs.delete(new org.apache.hadoop.fs.Path(beamGenPath(root), g.toString),
        false): Unit)
    require(fs.exists(new org.apache.hadoop.fs.Path(
        beamGenPath(root), m.gen.toString)),
      "vacuum must never drop the current manifest")
   }

  /** Merge the accumulated node/finger DELTA dirs into one base dir in
    * a fresh generation — the compaction pass a forever-appending
    * stream needs beside [[beamIndexVacuum]] (r13 verdict #7): the
    * monotone fast path appends one batch-sized node dir and one
    * finger dir per streaming batch, so after N batches every search
    * plans an N-dir multi-path scan (listing cost, tiny files, N×
    * the parquet footers). Compaction rewrites the UNION of those
    * dirs into `g<N+1>/{nodes,fingers}` and commits a manifest that
    * references just the two consolidated dirs — logically the
    * identity (same rows, same ranks: ranks were assigned at append
    * time and are stored, not recomputed), so search results are
    * bit-identical. kn leaves are untouched: each bucket has exactly
    * ONE leaf at any generation (appends overwrite affected buckets
    * wholesale), so they never accumulate deltas.
    *
    * Same protocol as every other mutator: new dirs written first,
    * one manifest rename as the commit point (readers see old XOR
    * new), writer-fenced, idempotent under replay (a re-run finds
    * nothing to compact or rewrites the same consolidated dirs).
    * Superseded generations linger for pinned readers until vacuum.
    * Cost is O(nodes + fingers) — corpus-proportional but
    * SHUFFLE-FREE (coalesce-style rewrite, no keyed exchange), the
    * classic small-files compaction economics; run it from the
    * stream clock every ~dozens of batches, not per batch. */
  private[graft] def beamIndexCompact(
      s: SparkSession, root: String, minDirs: Int = 2): Unit =
   WriterFence.withLease(beamFs(s, root), root, "beam index") { lease =>
    val m = beamManifest(s, root)
    if (m.nodesDirs.size < minDirs && m.fingerDirs.size < minDirs) return
    val gen = m.gen + 1
    // plain re-write of the union frames: no shuffle (the write
    // repartitions nothing), ranks/edges are stored values
    beamNodesOf(s, root, m)
      .write.mode("overwrite").parquet(s"$root/g$gen/nodes")
    s.read.parquet(m.fingerDirs.map(d => s"$root/$d"): _*)
      .write.mode("overwrite").parquet(s"$root/g$gen/fingers")
    commitBeamManifest(s, root, BeamManifest(gen, m.planes, m.n,
      Seq(s"g$gen/nodes"), Seq(s"g$gen/fingers"), m.knDirs), Some(lease))
   }

  /** In-bucket top-3 kNN rows (vec_id, nbr_id, bucket) for a bucketed
    * normEmb frame — the [[VectorQueries.knnGraphPlan]] dataflow, keeping the src
    * bucket as the partition column of the persisted edge table. */
  private def knRowsOf(b: DataFrame): DataFrame =
    // same grouped per-bucket kNN as [[VectorQueries.knnGraphPlan]] (r15) — one
    // exchange, pair scoring inside graft_bucket_knn, edge rows out,
    // dense buckets routed to the join fallback (r16)
    bucketKnnEdges(b, 3)
      .select(col("e.vec_id").as("vec_id"), col("e.nbr_id").as("nbr_id"),
        col("bucket"))

  /** Finger rows (src, dst) for the given source nodes against a
    * target rank table — CLIP semantics (r12 v2): src_rk + 2^j links
    * only if that rank EXISTS; no wraparound. Clip is what makes
    * appends-at-the-end topology-INCREMENTAL (mod-n fingers re-aim
    * every edge whenever n changes; clipped edges never change once
    * both endpoints exist — the delta of growing n_old → n_new is
    * exactly the edges with a new endpoint, O(batch·log n) rows).
    * Navigability is preserved by symmetrizing finger edges in the
    * search frame (kn edges always were): backward long jumps come
    * from the reversed direction instead of the wrap. */
  private def fingerRows(
      srcNodes: DataFrame, targets: DataFrame, nVecs: Long): DataFrame = {
    val pows = (0 until 62).map(1L << _).filter(_ < nVecs)
    if (pows.isEmpty)
      srcNodes.select(col("vec_id").as("src"), col("vec_id").as("dst")).limit(0)
    else
      srcNodes.select(col("vec_id").as("src"),
          explode(array(pows.map(p => col("rk") + lit(p)): _*)).as("dst_rk"))
        .join(targets.select(col("vec_id").as("dst"), col("rk").as("dst_rk")),
          Seq("dst_rk"))
        .select(col("src"), col("dst"))
  }

  /** Rewrite the index topology from a (vec_id, bucket) frame into
    * generation `gen`: rank ([[denseRankByKey]] — no single-task
    * stage), then clipped Chord links in RANK space mapped back to
    * vec_ids, then the manifest commit. `beforeCommit` is the spec's
    * deterministic interleave point (a reader between the data writes
    * and the commit must see the PREVIOUS snapshot). */
  private def writeTopology(
      s: SparkSession, assigned: DataFrame, planeCount: Int, root: String,
      gen: Long, knDirs: Map[Int, String],
      beforeCommit: () => Unit = () => (),
      lease: Option[WriterFence.Lease]): Unit = {
    val nodes = denseRankByKey(
        assigned.select(col("vec_id"), col("bucket")), "vec_id", "rk", base = 0L)
      .localCheckpoint(true)
    val nVecs = nodes.count()
    fingerRows(nodes, nodes, nVecs)
      .write.mode("overwrite").parquet(s"$root/g$gen/fingers")
    nodes.write.mode("overwrite").parquet(s"$root/g$gen/nodes")
    beforeCommit()
    commitBeamManifest(s, root, BeamManifest(gen, planeCount, nVecs,
      Seq(s"g$gen/nodes"), Seq(s"g$gen/fingers"), knDirs), lease)
  }

  /** Affected-bucket members (vec_id, bucket) joined to their vectors
    * for a kn leaf recompute. Contract guard: `ne` must be the FULL
    * surviving corpus, not just a batch — the inner join would
    * silently DROP a missing member and degrade recall with no error,
    * so one bounded count per mutation buys a loud failure naming `op`. */
  private def withVectors(op: String, members: DataFrame, ne: DataFrame): DataFrame = {
    val missing = members.join(ne, Seq("vec_id"), "left_anti").count()
    require(missing == 0,
      s"$op: ne lacks $missing affected corpus vectors — " +
        "pass the full surviving corpus frame, not just the batch")
    members.join(ne, Seq("vec_id")).select(col("vec_id"), col("bucket"), col("v"), col("nrm"))
  }

  /** Build a beam index at `root` over a [[VectorQueries.normEmb]]-shaped frame
    * (vec_id, v, nrm), freezing the sign-LSH width. Starts the
    * manifest history at generation 0 (any stale history under a
    * recycled root is discarded first — create means create). */
  private[graft] def beamIndexCreate(
      s: SparkSession, ne: DataFrame, planeCount: Int, root: String,
      kn: Option[DataFrame] = None): Unit =
    WriterFence.withLease(beamFs(s, root), root, "beam index") { lease =>
      beamFs(s, root).delete(beamGenPath(root), true)
      // DISK_ONLY: corpus-scale vectors, build-lifetime pin (r17 —
      // the streaming/serving sweep of the r16 storage-pool rule)
      val b = signBuckets(ne, planeCount)
        .select(col("vec_id"), col("bucket"), col("v"), col("nrm"))
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
      // kn: optionally precomputed (vec_id, nbr_id, bucket) edge rows —
      // the corpus build ([[beamIndexFor]]) passes the persisted kNN
      // artifact so the O(Σ bucket²) pair loop runs once per dataset,
      // not once per consumer (r17 verdict #7); ad-hoc/streaming
      // callers compute their own frame's edges as before.
      val knDirs = writeLeaves(s, root, 0L, kn.getOrElse(knRowsOf(b)))
      writeTopology(s, b.select(col("vec_id"), col("bucket")), planeCount, root,
        gen = 0L, knDirs = knDirs, lease = Some(lease))
    }

  /** Append every vector of `ne` not yet in the index at `root`,
    * rewriting only the kn leaves of buckets that received new vectors
    * (old vectors never change bucket, so all other edges are exact
    * already), then re-ranking nodes and regenerating fingers.
    * Idempotent: a crash mid-append leaves the new ids absent from
    * `nodes`, so a re-run redoes the same (overwrite-style) writes. */
  private[graft] def beamIndexAppend(
      s: SparkSession, ne: DataFrame, root: String,
      beforeCommit: () => Unit = () => ()): Unit =
   WriterFence.withLease(beamFs(s, root), root, "beam index") { lease =>
    // parent manifest resolves INSIDE the lease: gen = parent + 1 is
    // only safe when no other writer can commit between the resolve
    // and our own commit (r13 verdict #1)
    val m = beamManifest(s, root)
    val planeCount = m.planes
    val gen = m.gen + 1
    val oldNodes = beamNodesOf(s, root, m)
    val newVecs = ne.join(oldNodes.select(col("vec_id")), Seq("vec_id"), "left_anti")
    if (newVecs.isEmpty) return
    val newB = signBuckets(newVecs, planeCount)
      .select(col("vec_id"), col("bucket"), col("v"), col("nrm"))
      .localCheckpoint(true)
    // members of affected buckets = their old vectors (vectors joined
    // back in from the corpus frame) + the batch
    val affected = newB.select(col("bucket")).distinct()
    val oldAffected = oldNodes.join(broadcast(affected), Seq("bucket"))
      .select(col("vec_id"), col("bucket"))
    val members = withVectors("beamIndexAppend", oldAffected, ne).unionByName(newB)
    // affected leaves land in THIS generation's kn dir; unaffected
    // buckets keep their old manifest entries (no dynamic-overwrite
    // dance, and old-snapshot readers keep their files)
    val knMap = m.knDirs ++ writeLeaves(s, root, gen, knRowsOf(members))
    // Topology update. FAST PATH (the streaming shape: every new id
    // sorts after the whole corpus): old ranks are untouched, so the
    // clipped finger DELTA is exactly the edges with a new endpoint —
    // a delta dir of O(batch·log n) rows with the explode pruned to
    // the sources that can reach the new rank range — and the node
    // table extends by a batch-sized DELTA dir too: the manifest's
    // ordered dir lists make both artifacts additive, so a monotone
    // append never rewrites corpus-sized data (r12's full node
    // rewrite per streaming batch is gone). Non-monotone ids
    // (backfill) take the full re-rank path.
    val bounds = oldNodes.agg(max(col("vec_id")), count(lit(1))).head()
    val nOld = bounds.getLong(1)
    // empty index (seeded from scratch): max is null; MinValue makes
    // every batch "monotone" and the fast path degenerates to a clean
    // first build
    val maxOld = if (bounds.isNullAt(0)) Long.MinValue else bounds.getLong(0)
    val minNew = newB.agg(min(col("vec_id"))).head().getLong(0)
    if (minNew > maxOld) {
      val newNodes = denseRankByKey(
          newB.select(col("vec_id"), col("bucket")), "vec_id", "rk", base = nOld)
        .localCheckpoint(true)
      val nNew = nOld + newNodes.count()
      val pows = (0 until 62).map(1L << _).filter(_ < nNew)
      val oldReachers = oldNodes.filter(
        pows.map(p => col("rk") >= lit(nOld - p) && col("rk") < lit(nNew - p))
          .reduceOption(_ || _).getOrElse(lit(false)))
      // new sources' targets are provably new too (src rank ≥ nOld ⇒
      // dst rank > nOld), so the delta join never touches the old
      // node table — batch-sized on both sides
      fingerRows(newNodes, newNodes, nNew)
        .unionByName(fingerRows(oldReachers, newNodes, nNew))
        .write.mode("overwrite").parquet(s"$root/g$gen/fingers")
      newNodes.write.mode("overwrite").parquet(s"$root/g$gen/nodes")
      beforeCommit()
      commitBeamManifest(s, root, BeamManifest(gen, planeCount, nNew,
        m.nodesDirs :+ s"g$gen/nodes", m.fingerDirs :+ s"g$gen/fingers", knMap),
        Some(lease))
    } else
      writeTopology(s,
        oldNodes.select(col("vec_id"), col("bucket"))
          .unionByName(newB.select(col("vec_id"), col("bucket"))), planeCount, root,
        gen, knMap, beforeCommit, Some(lease))
   }

  /** Delete vectors from a beam index — the append's mirror image,
    * completing the ANN lifecycle (create/append/stream/DELETE;
    * BeamIndexSpec proves delete ≡ rebuild). Unlike the dedup
    * signature index, where a tombstone overlay is exact (tombstoned
    * rows only ever produce EXTRA candidates that an anti-join
    * removes), the kNN edge list must be RECOMPUTED: deleting a
    * vector changes its surviving neighbors' top-3, so an overlay
    * would silently degrade the graph's navigability forever. Only
    * the affected buckets (those that held deleted ids) are
    * recomputed — every kn row referencing a deleted id lives in that
    * id's own bucket (in-bucket kNN), so unaffected leaves are exact
    * already. Leaves whose members are ALL deleted drop out of the
    * new manifest (their files linger for old-snapshot readers until
    * [[beamIndexVacuum]]). `ne` is the surviving corpus's normEmb
    * frame. */
  private[graft] def beamIndexDelete(
      s: SparkSession, ne: DataFrame, deletedIds: DataFrame, root: String,
      beforeCommit: () => Unit = () => ()): Unit =
   WriterFence.withLease(beamFs(s, root), root, "beam index") { lease =>
    val m = beamManifest(s, root)
    val oldNodes = beamNodesOf(s, root, m)
    val del = deletedIds.select(col("vec_id")).distinct().localCheckpoint(true)
    if (del.isEmpty) return
    // bounded collect: one bucket id per deleted vector at most —
    // batch-sized, like the IVF/PQ training reads
    val affected = oldNodes.join(del, Seq("vec_id"))
      .select(col("bucket")).distinct()
      .collect().map(_.getInt(0))
    // none of the ids are present (e.g. a crash-replayed delete batch
    // whose commit already landed): the snapshot is already correct
    if (affected.isEmpty) return
    val gen = m.gen + 1
    val affectedDf = { import s.implicits._; affected.toSeq.toDF("bucket") }
    val surviving = oldNodes.join(del, Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    val survAffected = surviving
      .join(broadcast(affectedDf), Seq("bucket"))
      .select(col("vec_id"), col("bucket"))
    val members = withVectors("beamIndexDelete", survAffected, ne)
    // fully-emptied buckets simply drop out of the manifest (no leaf
    // deletes — the old snapshot keeps its files until vacuum); the
    // surviving affected buckets remap to this generation's leaves
    val knMap = (m.knDirs -- affected) ++ writeLeaves(s, root, gen, knRowsOf(members))
    writeTopology(s, surviving.select(col("vec_id"), col("bucket")), m.planes,
      root, gen, knMap, beforeCommit, Some(lease))
   }

  /** Semantic version of the [[beamIndexFor]] graph (k=3 kNN + clipped
    * Chord fingers) — key material of the index and its warm frames. */
  private val BeamIndexVersion = "beam-knn3-chordclip-v2"

  /** The dataset's persisted beam-index root, shared by every session
    * (plain parquet paths, no catalog tables); a hit is valid while a
    * committed generation exists. */
  private[graft] def beamIndexFor(s: SparkSession, dir: String): String =
    ArtifactCache.persistedRoot("beam", s"$dir/embeddings.parquet", BeamIndexVersion)(
        r => Option(new java.io.File(r, "_gen").list()).exists(_.nonEmpty)) { root =>
      ArtifactCache.deleteRecursively(root)
      // the persisted embedding artifact replaces the r16 DISK_ONLY
      // checkpoint (r17): the build's repeated ne reads are pruned
      // parquet scans of the artifact, parking nothing in the session.
      // The kn leaves read the persisted kNN-edge artifact (same rows
      // as knRowsOf at the native width — EmbBucketArtifactSpec pins
      // the grouped/artifact bit-identity) joined back to the bucket
      // column: an n·k skinny-row join instead of re-running the
      // in-bucket pair loop per index build (r17 verdict #7).
      beamIndexCreate(s, normEmbArtifact(s, dir), embAutoWidth(s, dir),
        root.getPath,
        kn = Some(knnEdgesAuto(s, dir)
          .join(embBucketTable(s, dir).select(col("vec_id"), col("bucket")),
            Seq("vec_id"))
          .select(col("vec_id"), col("nbr_id"), col("bucket"))))
    }

  /** Graph-navigating ANN — the HNSW/NSW-family fourth ANN path beside
    * sign-LSH multiprobe, IVF and PQ-ADC, and the one modern vector
    * stores default to. Two layers, both deterministic:
    *
    *  1. ENTRY (the "upper layer"): score the query against the ~√n
    *     hub vectors ([[annBeamHubStride]]) exactly — the bounded
    *     global scan that replaces HNSW's random upper-layer descent
    *     with something both engines can replay bit-for-bit — PLUS
    *     the query's own sign-LSH bucket members (bounded by the
    *     target bucket population). The bucket seeds are the locality
    *     signal the query vector itself carries (what multiprobe LSH
    *     uses); the hubs are global coverage; the graph walk then
    *     refines both. This hybrid is what makes the planted-twin
    *     recall floor STRUCTURAL at any scale: a near-identical twin
    *     shares the query's bucket (up to one plane straddle), so it
    *     is scored at entry without depending on the walk finding a
    *     gradient in unstructured data.
    *  2. BEAM over a navigable graph: the symmetrized auto-width kNN
    *     edges ([[VectorQueries.knnGraphPlanAuto]], k=3 each way — LOCAL refinement)
    *     plus CLIPPED Chord-style finger edges `i → i + 2^j` (both
    *     directions after symmetrization, every 2^j while the target
    *     rank exists — r12 v2: no wraparound, so appends-at-the-end
    *     never re-aim existing edges; see [[fingerRows]]) — the
    *     deterministic LONG links that make the graph a navigable
    *     small world (Kleinberg/NSW; HNSW gets the same property from
    *     random layer links, which an oracle cannot replay). [[BeamHops]] hops of best-first search at width
    *     [[BeamWidth]] — each
    *     hop expands the per-query best nodes along graph edges,
    *     scores the new candidates exactly, and folds them into the
    *     visited set. The frontier is the best-scored UNEXPANDED
    *     nodes (HNSW's ef-search rule) — expanding top-of-visited
    *     without that filter re-expands the same nodes and stalls
    *     after one hop (measured at sf0.01: recall@5 0.20 stalled →
    *     0.52 with the rule at 3 hops → 0.64 at 4 hops → 0.72 with
    *     the bucket entry seeds, vs 0.64 for q_ann_recall's multiprobe
    *     LSH on the same corpus at a comparable scored-candidate
    *     budget; 1.0 on SimilaritySpec's planted clusters). Monotone visited + fixed
    *     hops ⇒ the result is a pure function of the graph, no tie
    *     depends on visit order (ties break on vec_id everywhere).
    *     Degree is k·2 + log2(n) per node, so per-hop work is
    *     O(B·(k + log n)) per query. Finger and hub geometry live in
    *     RANK space (ids ranked once at index build — see the index
    *     lifecycle block above), so sparse/non-contiguous vec_id
    *     corpora navigate correctly; on dense corpora rk == vec_id
    *     and results are unchanged.
    *
    * Answer = top-5 of the final visited set (self excluded) — like
    * the other ANN paths, recall vs [[VectorQueries.bruteTopK]] is the tuning
    * number (gated by the sf40 floor via the planted twins).
    *
    * Scale shape: the graph IS the persisted index (k·n + n·log n
    * edges) — PHYSICALLY persisted since r12 ([[beamIndexFor]]):
    * searches read the edge/node tables, never rebuild them, and new
    * vectors append via [[beamIndexAppend]] (affected-bucket rewrite,
    * no full re-sign — BeamIndexSpec proves append ≡ rebuild). A
    * search touches hubs (√n, map-side
    * vs the broadcast query batch) plus ≤ beam·degree·hops candidates
    * per query — per-query work is O(√n + B·k·H) independent of
    * corpus size beyond the hub scan, and the per-hop joins carry only
    * (q_id, cand) pairs, never vectors, until the bounded score step.
    * The hop iterations are driver-side loop unrolling over
    * checkpointed frames (the Pregel idiom), ~tens of rows per query.
    */
  /** The session's checkpointed (normEmb, edges) frames of the
    * [[beamIndexFor]] index, so repeated warm searches (bench
    * iterations, repeated plan builds) skip even the two
    * materialization jobs. SAFE only for
    * [[beamIndexFor]]-managed roots, whose path changes with the
    * dataset digest: a MAINTAINED index (append/delete/stream at a
    * fixed root) mutates in place, so its consumers
    * ([[graft.streaming.AnnIndexStream]], the specs) search through
    * [[beamSearchPlan]] directly and never this cache. */
  private val beamWarm =
    ArtifactCache.sessionScoped[(DataFrame, DataFrame)]("beam-warm")

  private[graft] def annBeamPlan(s: SparkSession, dir: String): DataFrame = {
    // the persisted artifact supplies topology (edges, buckets, ranks);
    // only exact scoring touches the vectors, via the corpus scan below
    val idxRoot = beamIndexFor(s, dir)
    val (ne, edges) = beamWarm(s, s"$dir/embeddings.parquet", BeamIndexVersion) {
      // vectors ride the persisted embedding artifact (r17 — nothing
      // to checkpoint, parquet-backed already); edges keep the r16
      // DISK_ONLY checkpoint: the warm cache pins them for the
      // SESSION, and they must live on disk, not in the storage pool
      // every later query competes with
      (normEmbArtifact(s, dir),
        beamEdgesFrame(s, idxRoot).localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY))
    }
    beamSearchPlan(s, idxRoot, ne, Some(edges))
  }

  /** The warm search's symmetrized edge frame — pure reads of the
    * persisted kn/fingers tables, exposed separately so
    * PlanContractSpec can pin that a warm search never re-signs the
    * corpus (no zip_with hyperplane dots, no embeddings scan). */
  private[graft] def beamEdgesFrame(s: SparkSession, idxRoot: String): DataFrame =
    beamEdgesOf(s, idxRoot, beamManifest(s, idxRoot))

  /** As [[beamEdgesFrame]] but against an already-resolved manifest,
    * so a caller pinning a snapshot (the serving stream) reads edges
    * from exactly that generation. */
  private[graft] def beamEdgesFrame(
      s: SparkSession, idxRoot: String, m: BeamManifest): DataFrame =
    beamEdgesOf(s, idxRoot, m)

  private def beamEdgesOf(
      s: SparkSession, idxRoot: String, m: BeamManifest): DataFrame = {
    // kn leaf dirs are read directly (the bucket partition value is
    // never needed search-side — buckets come from the node table), so
    // one multi-path relation covers every generation's leaves
    val kn =
      if (m.knDirs.isEmpty)
        { import s.implicits._
          Seq.empty[(Long, Long)].toDF("vec_id", "nbr_id") }
      else s.read.parquet(m.knDirs.values.toSeq.sorted.map(d => s"$idxRoot/$d"): _*)
        .select(col("vec_id"), col("nbr_id"))
    val fingers = s.read.parquet(m.fingerDirs.map(d => s"$idxRoot/$d"): _*)
    kn.select(col("vec_id").as("src"), col("nbr_id").as("dst"))
      .union(kn.select(col("nbr_id").as("src"), col("vec_id").as("dst")))
      // fingers symmetrize like kn: clipped links have no wraparound,
      // so backward long jumps come from the reversed direction; the
      // distinct() folds edges that exist in both directions already
      .union(fingers.select(col("src"), col("dst")))
      .union(fingers.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Beam search over a persisted index root + the corpus's normEmb
    * frame (queries = vec_id < `queryLimit`; the oracle family's fixed
    * probe set is the default 5 — the sf40 beam-batch floor widens it
    * to measure query-batch scaling). Split from [[annBeamPlan]] so BeamIndexSpec
    * can drive explicit create/append lifecycles on synthetic corpora. */
  private[graft] def beamSearchPlan(
      s: SparkSession, idxRoot: String, ne: DataFrame,
      edgesOpt: Option[DataFrame] = None,
      queryLimit: Long = 5L): DataFrame = {
    // ONE manifest resolution pins the whole search to a snapshot:
    // nodes, edges and the hub stride all derive from it, so a commit
    // racing this search flips the result atomically (old index or
    // new), never partially
    val m = beamManifest(s, idxRoot)
    val q = ne.filter(col("vec_id") < queryLimit)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    // corpus queries read their bucket straight from the node table —
    // a pure index read, no hyperplane re-sign on the warm path
    val qb = beamNodesOf(s, idxRoot, m).filter(col("vec_id") < queryLimit)
      .select(col("vec_id").as("q_id"), col("bucket"))
    beamSearchCore(s, idxRoot, m, ne, q, qb, edgesOpt)
  }

  /** Beam search for EXTERNAL probe vectors — the serving entry
    * ([[graft.streaming.AnnServeStream]]): probes are a normEmb-shaped
    * frame (vec_id, v, nrm) that need NOT be corpus members, so their
    * entry bucket is assigned from the probe's own vector at the
    * index's frozen LSH width (the same [[VectorQueries.signBuckets]] the build
    * used; the hyperplanes are deterministic literals). Probe ids from
    * a fresh id space (e.g. negative, or beyond the corpus ids) are
    * never self-excluded, so the top-5 can include an exact corpus
    * match; a probe REUSING a corpus vec_id keeps the batch query
    * family's self-exclusion semantics. */
  private[graft] def beamSearchProbes(
      s: SparkSession, idxRoot: String, ne: DataFrame, probes: DataFrame,
      edgesOpt: Option[DataFrame] = None,
      manifestOpt: Option[BeamManifest] = None): DataFrame = {
    // a caller that pinned frames at an earlier snapshot (the serving
    // stream) passes ITS manifest too — resolving a fresh one here
    // would mix new nodes/hub-stride with old edges/vectors, matching
    // neither snapshot
    val m = manifestOpt.getOrElse(beamManifest(s, idxRoot))
    val q = probes
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val qb = signBuckets(probes, m.planes)
      .select(col("vec_id").as("q_id"), col("bucket"))
    beamSearchCore(s, idxRoot, m, ne, q, qb, edgesOpt)
  }

  private def beamSearchCore(
      s: SparkSession, idxRoot: String, m: BeamManifest, ne: DataFrame,
      q: DataFrame, qb: DataFrame,
      edgesOpt: Option[DataFrame]): DataFrame = {
    val nVecs = m.n
    val stride = annBeamHubStride(nVecs)
    val edges = edgesOpt.getOrElse(beamEdgesOf(s, idxRoot, m)
      .localCheckpoint(true, // DISK_ONLY: corpus-cardinality edge rows
        org.apache.spark.storage.StorageLevel.DISK_ONLY))
    // exact cosine for a (q_id, cand) pair set — vectors join in here,
    // AFTER the candidate set is bounded
    def score(cands: DataFrame): DataFrame =
      cands
        .join(ne, cands("cand") === ne("vec_id"))
        .join(broadcast(q), Seq("q_id"))
        .select(col("q_id"), col("cand"),
          (expr("graft_dot(v, qv)") / (col("nrm") * col("qnrm"))).as("sim"))
    val byBest = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("cand"))
    val nodes = beamNodesOf(s, idxRoot, m)
    val bucketSeeds = nodes.select(col("vec_id").as("cand"), col("bucket"))
      .join(broadcast(qb), Seq("bucket"))
      .select(col("q_id"), col("cand"))
    val hubSeeds = nodes.filter(col("rk") % stride === 0)
      .select(col("vec_id").as("cand"))
      .crossJoin(broadcast(q.select(col("q_id"))))
      .select(col("q_id"), col("cand"))
    // ONE state frame per hop: (q_id, cand, sim, expanded) — the
    // ef-search "checked" flag rides IN the frame instead of as a
    // separate anti-joined set, so each hop is a single checkpointed
    // job (window → frontier → grow → score → fold) rather than three.
    // Frontier selection is unchanged: ranking unexpanded rows first
    // (expanded ASC, sim DESC, cand ASC) makes the first ≤BeamWidth
    // unexpanded rows exactly the best-unexpanded beam. The warm
    // search is BeamHops+2 jobs; the checkpoint-per-frame version
    // measured 2.6s warm at sf0.1 — job overhead, not data, was the
    // cost.
    val byFrontier = Window.partitionBy(col("q_id"))
      .orderBy(col("expanded").asc, col("sim").desc, col("cand"))
    var state = score(bucketSeeds.union(hubSeeds).distinct())
      .withColumn("expanded", lit(false))
      .localCheckpoint(true)
    for (_ <- 1 to BeamHops) {
      val st = state
        .withColumn("bn", row_number().over(byFrontier))
        .withColumn("isFrontier", !col("expanded") && col("bn") <= BeamWidth)
      val frontier = st.filter(col("isFrontier"))
        .select(col("q_id"), col("cand"))
      val grown = frontier
        .join(edges, frontier("cand") === edges("src"))
        .select(col("q_id"), col("dst").as("cand"))
        .distinct()
      state = st.select(col("q_id"), col("cand"), col("sim"),
          (col("expanded") || col("isFrontier")).as("expanded"))
        .unionByName(score(grown).withColumn("expanded", lit(false)))
        .groupBy(col("q_id"), col("cand"))
        // sims for one pair are identical; the flag folds with OR (max)
        .agg(max(col("sim")).as("sim"), max(col("expanded")).as("expanded"))
        // one checkpoint per hop: the state subplan is referenced twice
        // per hop (fold + frontier), so laziness doubles the plan per
        // hop (measured 4.2s warm; every-other-hop checkpoints 1.8s;
        // per-hop 1.65s — the barrier count times local-mode job
        // latency is the floor, data volume is irrelevant here).
        .localCheckpoint(true)
    }
    state
      .filter(col("cand") =!= col("q_id"))
      .withColumn("rn", row_number().over(byBest).cast(LongType))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("cand").as("vec_id"),
        round(col("sim"), 6).as("sim_r"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** Oracle twin of [[annBeamPlan]]: the [[BeamHops]] beam hops unroll into CTE
    * triples (frontier fH → expand cH → score sH → fold vH), generated
    * by the same loop the Spark side runs, over the width-adaptive kNN
    * CTEs — so the oracle tracks BOTH derived knobs (LSH width, hub
    * stride) at any corpus size. */
  private lazy val annBeamOracleSql: String = {
    def simSql(n: String, qq: String): String =
      s"""list_sum(list_transform(list_zip($n.v, $qq.qv),
                   z -> struct_extract(z, 1) * struct_extract(z, 2)))
          / ($n.nrm * $qq.qnrm)"""
    // xH = expanded-set CTEs (ef-search "checked" nodes); fH only
    // draws from visited \ expanded, mirroring the Spark loop
    val hops = (1 to BeamHops).map { h =>
      val notExpanded =
        if (h == 1) ""
        else s"""WHERE NOT EXISTS (
                   SELECT 1 FROM x${h - 1} x
                   WHERE x.q_id = v.q_id AND x.cand = v.cand)"""
      val expandedNext =
        if (h == 1) s"x1 AS (SELECT q_id, cand FROM f0)"
        else s"""x$h AS (SELECT q_id, cand FROM x${h - 1}
                  UNION SELECT q_id, cand FROM f${h - 1})"""
      s"""f${h - 1} AS (
            SELECT q_id, cand FROM (
              SELECT v.q_id, v.cand,
                     row_number() OVER (PARTITION BY v.q_id
                                        ORDER BY v.sim DESC, v.cand) AS bn
              FROM v${h - 1} v $notExpanded) WHERE bn <= $BeamWidth),
          $expandedNext,
          c$h AS (
            SELECT DISTINCT f.q_id, ed.dst AS cand
            FROM f${h - 1} f JOIN ed ON f.cand = ed.src),
          s$h AS (
            SELECT c.q_id, c.cand, ${simSql("n", "qq")} AS sim
            FROM c$h c JOIN n ON c.cand = n.vec_id
            JOIN qq ON c.q_id = qq.q_id),
          v$h AS (
            SELECT q_id, cand, max(sim) AS sim
            FROM (SELECT * FROM v${h - 1} UNION ALL SELECT * FROM s$h)
            GROUP BY q_id, cand)"""
    }.mkString(",\n      ")
    s"""
      WITH $knnSqlCtes,
      cnt AS (SELECT count(*) AS cn FROM embeddings),
      rk AS (SELECT vec_id,
                    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS rk
             FROM n),
      fe AS (
        SELECT r1.vec_id AS src, r2.vec_id AS dst
        FROM rk r1
        CROSS JOIN (SELECT unnest(range(62)) AS j) fj
        CROSS JOIN cnt
        JOIN rk r2
          ON r2.rk = r1.rk + CAST(power(2, fj.j) AS BIGINT)
        WHERE power(2, fj.j) < cnt.cn),
      ed AS (SELECT vec_id AS src, nbr_id AS dst FROM kn
             UNION
             SELECT nbr_id AS src, vec_id AS dst FROM kn
             UNION
             SELECT src, dst FROM fe
             UNION
             SELECT dst, src FROM fe),
      qq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
      st AS (SELECT CAST(power(2, greatest(2, round(log2(sqrt(count(*))))))
                    AS BIGINT) AS s
             FROM embeddings),
      qb AS (SELECT vec_id AS q_id, bucket FROM b WHERE vec_id < 5),
      sd AS (
        SELECT qq.q_id, rk.vec_id AS cand
        FROM rk CROSS JOIN qq CROSS JOIN st
        WHERE rk.rk % st.s = 0
        UNION
        SELECT qb.q_id, b.vec_id AS cand
        FROM b JOIN qb ON b.bucket = qb.bucket),
      v0 AS (
        SELECT sd.q_id, sd.cand, ${simSql("n", "qq")} AS sim
        FROM sd JOIN n ON sd.cand = n.vec_id
        JOIN qq ON sd.q_id = qq.q_id),
      $hops
      SELECT q_id, cand AS vec_id, round(sim, 6) AS sim_r, CAST(rn AS BIGINT) AS rn
      FROM (SELECT q_id, cand, sim,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, cand) AS rn
            FROM v$BeamHops WHERE cand != q_id)
      WHERE rn <= 5 ORDER BY q_id, rn"""
  }

  val annBeam = Q("q_ann_beam", (s, dir) => annBeamPlan(s, dir),
    Some(annBeamOracleSql))

  override def all: Seq[Q] = Seq(
    annBeam)
}
