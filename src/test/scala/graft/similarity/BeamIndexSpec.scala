package graft.similarity

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The beam-ANN index lifecycle contracts (r11 verdict #2/#3/#5):
  *
  *  - append ≡ rebuild: creating an index on a base corpus and
  *    appending batches yields EXACTLY the search results of a
  *    one-shot index over the union — the within-bucket kNN is exact
  *    and old vectors never change bucket, so rewriting only the
  *    affected bucket leaves loses nothing;
  *  - appends are idempotent (replay-safe) and the affected-bucket
  *    rewrite really is partial (untouched leaves keep their files);
  *  - finger/hub navigation lives in RANK space, so a corpus with
  *    gappy vec_ids searches isomorphically to its dense relabeling.
  */
class BeamIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic unit-free vectors: dim 64 (the hyperplane width —
    * shorter vectors would null out the zip_with dot and collapse
    * every bucket to 0), spread widely enough that the 16 sign-LSH
    * buckets are non-trivially populated (the append test needs batch
    * vectors to hit SOME buckets, not all). */
  private def vec(i: Long): Seq[Double] =
    (0 until 64).map(d =>
      math.sin(2.1 * i * (d % 7 + 1) + 0.37 * d) +
        (if (i % 4 == d % 4) 0.6 else 0.0))

  /** normEmb-shaped frame (vec_id, v, nrm) for explicit ids. */
  private def neOf(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, vec(i)))
      .toDF("vec_id", "raw")
      .select(col("vec_id"),
        transform(col("raw"), x => x.cast(DoubleType)).as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))

  private def searchRows(idxRoot: String, ne: DataFrame): Seq[(Long, Long, Double, Long)] =
    BeamIndex.beamSearchPlan(spark, idxRoot, ne)
      .select(col("q_id"), col("vec_id"), col("sim_r"), col("rn"))
      .as[(Long, Long, Double, Long)].collect().toSeq

  /** Current-snapshot physical accessors (manifest-resolved). */
  private def knSet(root: String): Set[(Long, Long)] = {
    val m = BeamIndex.beamManifest(spark, root)
    if (m.knDirs.isEmpty) Set.empty
    else spark.read.parquet(m.knDirs.values.toSeq.map(d => s"$root/$d"): _*)
      .select(col("vec_id"), col("nbr_id")).as[(Long, Long)].collect().toSet
  }
  private def fingerSet(root: String): Set[(Long, Long)] = {
    val m = BeamIndex.beamManifest(spark, root)
    spark.read.parquet(m.fingerDirs.map(d => s"$root/$d"): _*)
      .select(col("src"), col("dst")).as[(Long, Long)].collect().toSet
  }

  test("append == one-shot rebuild, across two appended batches") {
    val tmp = Files.createTempDirectory("beamidx").toString
    val base = (0L until 40L)
    val b1 = (40L until 50L)
    val b2 = (50L until 60L)
    val all = base ++ b1 ++ b2
    val neAll = neOf(all).localCheckpoint(true)

    val incRoot = s"$tmp/inc"
    BeamIndex.beamIndexCreate(spark, neOf(base), 4, incRoot)
    BeamIndex.beamIndexAppend(spark, neOf(base ++ b1), incRoot)
    BeamIndex.beamIndexAppend(spark, neAll, incRoot)

    val fullRoot = s"$tmp/full"
    BeamIndex.beamIndexCreate(spark, neAll, 4, fullRoot)

    assert(BeamIndex.beamMeta(spark, incRoot) ===
           BeamIndex.beamMeta(spark, fullRoot))
    // the persisted edge sets are identical, not just the search results
    assert(knSet(incRoot) === knSet(fullRoot),
      "appended kNN edges differ from a one-shot rebuild")
    assert(fingerSet(incRoot) === fingerSet(fullRoot),
      "appended finger edges differ from a one-shot rebuild")
    assert(searchRows(incRoot, neAll) === searchRows(fullRoot, neAll))

    // structural incrementality of the monotone fast path: clipped
    // fingers never re-aim, so another at-the-end append must add a
    // DELTA generation dir, leaving every existing finger (and node)
    // file untouched (a full rewrite would replace them all — the
    // O(n log n) cost the clip design removes)
    def fingerFiles(): Set[String] = {
      val m = BeamIndex.beamManifest(spark, incRoot)
      m.fingerDirs.flatMap(d => new java.io.File(s"$incRoot/$d").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => s"$d/${f.getName}@${f.lastModified()}")).toSet
    }
    val beforeFiles = fingerFiles()
    val gensBefore = BeamIndex.beamManifest(spark, incRoot).fingerDirs.size
    BeamIndex.beamIndexAppend(spark, neOf(all ++ (60L until 64L)), incRoot)
    val afterFiles = fingerFiles()
    assert(beforeFiles.subsetOf(afterFiles),
      "monotone append rewrote existing finger files instead of appending")
    assert(afterFiles.size > beforeFiles.size,
      "monotone append added no finger files")
    assert(BeamIndex.beamManifest(spark, incRoot).fingerDirs.size ===
      gensBefore + 1, "monotone append did not add exactly one delta dir")
  }

  test("append is idempotent and rewrites only affected bucket leaves") {
    val tmp = Files.createTempDirectory("beamidx2").toString
    val root = s"$tmp/idx"
    val base = (0L until 40L)
    BeamIndex.beamIndexCreate(spark, neOf(base), 4, root)

    // record per-leaf file identities before the append — through the
    // manifest, so the map says which PHYSICAL leaf each bucket reads
    def leafFiles(): Map[String, Set[String]] =
      BeamIndex.beamManifest(spark, root).knDirs.map { case (b, d) =>
        s"bucket=$b" ->
          new java.io.File(s"$root/$d").listFiles()
            .filter(_.getName.endsWith(".parquet"))
            .map(f => s"$d/${f.getName}@${f.lastModified()}").toSet
      }
    val before = leafFiles()
    val withBatch = neOf(base ++ Seq(40L, 41L)).localCheckpoint(true)
    BeamIndex.beamIndexAppend(spark, withBatch, root)
    val after1 = leafFiles()
    val batchBuckets = BeamIndex.beamNodesFrame(spark, root)
      .filter(col("vec_id") >= 40L).select(col("bucket"))
      .as[Int].collect().toSet.map((b: Int) => s"bucket=$b")
    val untouched = before.keySet -- batchBuckets
    assert(untouched.nonEmpty, "fixture degenerate: batch hit every bucket")
    untouched.foreach { leaf =>
      assert(after1(leaf) === before(leaf),
        s"append rewrote unaffected leaf $leaf")
    }
    batchBuckets.foreach { leaf =>
      assert(after1.get(leaf).exists(_ != before.getOrElse(leaf, Set.empty[String])),
        s"append did not rewrite affected leaf $leaf")
    }

    // replaying the same corpus is a no-op (anti-join finds nothing new)
    val rows1 = searchRows(root, withBatch)
    BeamIndex.beamIndexAppend(spark, withBatch, root)
    assert(leafFiles() === after1, "idempotent re-append rewrote leaves")
    assert(searchRows(root, withBatch) === rows1)
  }

  test("delete == one-shot rebuild over the survivors, including a fully-emptied bucket") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("beamidx4").toString
    val all = (0L until 60L)
    val root = s"$tmp/idx"
    BeamIndex.beamIndexCreate(spark, neOf(all), 4, root)

    // delete every member of one bucket (its kn leaf must leave the
    // manifest, not go stale) plus a few ids from other buckets
    val nodes = BeamIndex.beamNodesFrame(spark, root)
      .select(col("vec_id"), col("bucket")).as[(Long, Int)].collect()
    val victimBucket = nodes.groupBy(_._2).minBy { case (_, members) => members.length }._1
    val wiped = nodes.filter(_._2 == victimBucket).map(_._1).toSet
    val deleted = wiped ++ Set(0L, 7L, 23L).diff(wiped)
    val survivors = all.filterNot(deleted)
    assert(survivors.exists(_ < 5), "fixture must keep at least one query id")

    BeamIndex.beamIndexDelete(spark, neOf(survivors),
      deleted.toSeq.toDF("vec_id"), root)
    assert(!BeamIndex.beamManifest(spark, root).knDirs
        .contains(victimBucket),
      "fully-emptied bucket leaf still referenced (stale edges to deleted ids)")

    val fullRoot = s"$tmp/full"
    BeamIndex.beamIndexCreate(spark, neOf(survivors), 4, fullRoot)
    assert(knSet(root) === knSet(fullRoot),
      "post-delete kNN edges differ from a rebuild over the survivors")
    assert(fingerSet(root) === fingerSet(fullRoot))
    assert(BeamIndex.beamMeta(spark, root) ===
           BeamIndex.beamMeta(spark, fullRoot))
    assert(searchRows(root, neOf(survivors)) === searchRows(fullRoot, neOf(survivors)))

    // delete-then-append round trip: re-adding the deleted vectors
    // restores the original index exactly
    BeamIndex.beamIndexAppend(spark, neOf(all), root)
    val origRoot = s"$tmp/orig"
    BeamIndex.beamIndexCreate(spark, neOf(all), 4, origRoot)
    assert(knSet(root) === knSet(origRoot),
      "delete-then-append did not restore the original edge set")
    assert(searchRows(root, neOf(all)) === searchRows(origRoot, neOf(all)))
  }

  test("append contract guard: a batch-only ne fails loudly instead of dropping old members") {
    val tmp = Files.createTempDirectory("beamidx5").toString
    val root = s"$tmp/idx"
    BeamIndex.beamIndexCreate(spark, neOf(0L until 40L), 4, root)
    // passing ONLY the new batch would silently rebuild the affected
    // buckets from the batch alone (recall degradation with no error)
    val e = intercept[IllegalArgumentException] {
      BeamIndex.beamIndexAppend(spark, neOf(40L until 44L), root)
    }
    assert(e.getMessage.contains("full surviving corpus"))
  }

  test("append replay converges after a crash BEFORE the manifest commit") {
    val tmp = Files.createTempDirectory("beamidx6").toString
    val root = s"$tmp/idx"
    val base = (0L until 40L); val all = (0L until 50L)
    BeamIndex.beamIndexCreate(spark, neOf(base), 4, root)
    // run the append, then delete its manifest — the on-disk state now
    // mimics a crash after ALL data writes (kn leaves, finger delta,
    // node delta) but before the commit rename: the previous manifest
    // is current, the attempted generation's dirs are orphaned
    BeamIndex.beamIndexAppend(spark, neOf(all), root)
    val gen = BeamIndex.beamManifest(spark, root).gen
    assert(new java.io.File(s"$root/_gen/$gen").delete())
    assert(BeamIndex.beamManifest(spark, root).gen === gen - 1,
      "previous manifest is not current after the simulated crash")
    // a read in the crashed state sees the OLD index, not a mix
    assert(BeamIndex.beamNodesFrame(spark, root)
      .agg(max(col("vec_id"))).as[Long].head() === 39L)
    // replay: must redo the whole append (same deterministic gen,
    // overwriting the orphaned dirs), not no-op against stale state
    BeamIndex.beamIndexAppend(spark, neOf(all), root)
    val fullRoot = s"$tmp/full"
    BeamIndex.beamIndexCreate(spark, neOf(all), 4, fullRoot)
    assert(BeamIndex.beamMeta(spark, root) ===
           BeamIndex.beamMeta(spark, fullRoot))
    assert(searchRows(root, neOf(all)) === searchRows(fullRoot, neOf(all)),
      "post-crash replay did not converge to the rebuild state")
  }

  test("snapshot isolation: a read interleaved inside a commit sees old XOR new (r12 #2)") {
    val tmp = Files.createTempDirectory("beamidx7").toString
    val root = s"$tmp/idx"
    val base = (0L until 40L); val all = (0L until 50L)
    val neAll = neOf(all).localCheckpoint(true)
    BeamIndex.beamIndexCreate(spark, neOf(base), 4, root)
    val oldRows = searchRows(root, neAll)
    // APPEND: a search run after every data write but before the
    // manifest rename must return exactly the pre-append results
    var duringAppend: Seq[(Long, Long, Double, Long)] = null
    var duringN = -1L
    BeamIndex.beamIndexAppend(spark, neAll, root,
      beforeCommit = () => {
        duringAppend = searchRows(root, neAll)
        duringN = BeamIndex.beamMeta(spark, root)._2
      })
    assert(duringAppend === oldRows,
      "a reader during the append observed a partially-committed index")
    assert(duringN === 40L && BeamIndex.beamMeta(spark, root)._2 === 50L,
      "mid-commit reader did not resolve the OLD snapshot")
    val newRows = searchRows(root, neAll)
    // DELETE: same interleave — the mid-commit reader sees the
    // pre-delete snapshot
    var duringDelete: Seq[(Long, Long, Double, Long)] = null
    val surviving = all.filterNot(Set(45L, 46L, 47L))
    BeamIndex.beamIndexDelete(spark, neOf(surviving),
      Seq(45L, 46L, 47L).toDF("vec_id"), root,
      beforeCommit = () => { duringDelete = searchRows(root, neAll) })
    assert(duringDelete === newRows,
      "a reader during the delete observed a partially-committed index")
    // VACUUM with the default grace window (keepGens=2) retains the
    // PREVIOUS manifest too, so a reader pinned at the pre-delete
    // snapshot (the serving-stream shape) still resolves and searches
    val preDeleteGen = BeamIndex.beamManifest(spark, root).gen - 1
    val afterDelete = searchRows(root, neOf(surviving))
    BeamIndex.beamIndexVacuum(spark, root)
    assert(searchRows(root, neOf(surviving)) === afterDelete,
      "vacuum changed the current snapshot's results")
    assert(new java.io.File(s"$root/_gen/$preDeleteGen").exists(),
      "grace-window vacuum dropped the previous manifest")
    // aggressive vacuum (keepGens=1, reader-quiescent contract) keeps
    // exactly the current manifest and its referenced generations
    BeamIndex.beamIndexVacuum(spark, root, keepGens = 1)
    assert(searchRows(root, neOf(surviving)) === afterDelete,
      "aggressive vacuum changed the current snapshot's results")
    val m = BeamIndex.beamManifest(spark, root)
    val liveGens = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("g\\d+"))
      .map(_.getName).toSet
    val referenced = (m.nodesDirs ++ m.fingerDirs ++ m.knDirs.values)
      .map(_.takeWhile(_ != '/')).toSet
    assert(liveGens === referenced,
      s"vacuum left unreferenced generations: ${liveGens -- referenced}")
    assert(new java.io.File(s"$root/_gen").list()
        .filterNot(_.startsWith(".")).toSet === Set(m.gen.toString),
      "vacuum left superseded manifests")
  }

  test("writer fence: a concurrent appender fails loudly; winner commits intact (r13 #1)") {
    val tmp = Files.createTempDirectory("beamidx8").toString
    val root = s"$tmp/idx"
    val base = (0L until 40L); val all = (0L until 50L)
    val neAll = neOf(all).localCheckpoint(true)
    BeamIndex.beamIndexCreate(spark, neOf(base), 4, root)
    // interleave a SECOND writer inside the first's transaction (after
    // its data writes, before its manifest rename) — pre-fence, both
    // computed gen = 1 and the loser's rename silently clobbered the
    // winner's commit; now the loser throws at lease acquire
    var loser: Option[Throwable] = None
    BeamIndex.beamIndexAppend(spark, neAll, root,
      beforeCommit = () => {
        loser = scala.util.Try(
          BeamIndex.beamIndexDelete(spark, neOf(base.drop(3)),
            Seq(0L, 1L, 2L).toDF("vec_id"), root)).failed.toOption
      })
    assert(loser.exists(_.isInstanceOf[
        graft.util.WriterFence.ConcurrentWriterException]),
      s"concurrent writer did not fail with ConcurrentWriterException: $loser")
    // the winner's commit is intact: state == a one-shot rebuild of
    // the union corpus, untouched by the aborted concurrent delete
    val fullRoot = s"$tmp/full"
    BeamIndex.beamIndexCreate(spark, neAll, 4, fullRoot)
    assert(searchRows(root, neAll) === searchRows(fullRoot, neAll),
      "the losing writer corrupted the winning snapshot")
    // the lease released on exit: the next writer proceeds normally
    assert(!new java.io.File(root, "_writer.lock").exists(),
      "winner did not release its lease")
    BeamIndex.beamIndexAppend(spark, neOf(all ++ (50L until 55L)), root)
    assert(BeamIndex.beamMeta(spark, root)._2 === 55L)
  }

  test("writer fence: stale lease is stolen; the stalled victim aborts at commit") {
    val tmp = Files.createTempDirectory("beamidx9").toString
    val root = s"$tmp/idx"
    BeamIndex.beamIndexCreate(spark, neOf(0L until 40L), 4, root)
    // a crashed writer's leftover lease (old mtime) must not block
    // writers forever — the staleness window lets the next one steal
    val lock = new java.io.File(root, "_writer.lock")
    assert(java.nio.file.Files.write(lock.toPath,
      "dead-writer-token".getBytes("UTF-8")).toFile.exists())
    assert(lock.setLastModified(System.currentTimeMillis() - 60L * 60 * 1000))
    BeamIndex.beamIndexAppend(spark, neOf(0L until 45L), root)
    assert(BeamIndex.beamMeta(spark, root)._2 === 45L,
      "append could not steal a stale (crashed-writer) lease")
    // the commit-point fence: a writer whose lease is stolen MID-
    // transaction (it stalled past the window; a thief now owns the
    // root) must abort BEFORE its manifest rename, not clobber
    val genBefore = BeamIndex.beamManifest(spark, root).gen
    val ex = intercept[graft.util.WriterFence.ConcurrentWriterException] {
      BeamIndex.beamIndexAppend(spark, neOf(0L until 48L), root,
        beforeCommit = () => {
          // simulate the thief: replace the victim's token
          java.nio.file.Files.write(lock.toPath,
            "thief-token".getBytes("UTF-8")): Unit
        })
    }
    // the diagnosis is "taken over by <token>" or "removed" (the local
    // fs reports a checksum-mismatched tampered lock as unreadable —
    // both mean the same thing: the lease is no longer ours)
    assert(ex.getMessage.contains("aborting before commit"),
      s"commit-point abort lacks the takeover diagnosis: ${ex.getMessage}")
    assert(BeamIndex.beamManifest(spark, root).gen === genBefore,
      "a fenced-out victim still committed its generation")
  }

  test("a lease stolen INSIDE the check->rename window is flagged post-rename (r14 #6)") {
    // The pre-rename check narrows the harmful race to the microsecond
    // gap between check and rename; the post-rename re-check makes a
    // steal inside even THAT gap loud. (A steal after the post-check
    // is safe by ordering: the thief resolves its parent manifest
    // inside its lease, i.e. after this rename is visible, and builds
    // on top.) POSIX rename replaces files, so this cannot be closed
    // by rename-if-absent on local filesystems — loud detection is
    // the contract.
    val tmp = Files.createTempDirectory("beamidx13").toString
    val root = s"$tmp/idx"
    BeamIndex.beamIndexCreate(spark, neOf(0L until 40L), 4, root)
    val lock = java.nio.file.Paths.get(root, "_writer.lock")
    BeamIndex.beamCommitTestSeam = () =>
      { java.nio.file.Files.write(lock, "thief-token".getBytes("UTF-8")): Unit }
    try {
      val ex = intercept[graft.util.WriterFence.ConcurrentWriterException] {
        BeamIndex.beamIndexAppend(spark, neOf(0L until 44L), root)
      }
      assert(ex.getMessage.contains("stolen during the commit window"),
        s"in-window steal not flagged post-rename: ${ex.getMessage}")
    } finally BeamIndex.beamCommitTestSeam = () => ()
    // the abort is LOUD, not silent: the operator is told the state
    // needs inspection; a subsequent rebuild-or-inspect path exists
    // because the manifest chain is still parseable
    java.nio.file.Files.delete(lock)
    assert(BeamIndex.beamManifest(spark, root).gen >= 0L)
    // and the flagged state is RECOVERABLE (r15 verdict #6): with the
    // thief's lease cleared, a legitimate writer resolves the current
    // manifest inside ITS lease (whichever generation survived the
    // flagged window), appends on top, and the index carries every
    // vector — the loud abort never strands the artifact.
    BeamIndex.beamIndexAppend(spark, neOf(0L until 48L), root)
    assert(BeamIndex.beamMeta(spark, root)._2 === 48L,
      "post-recovery append lost vectors after the flagged commit window")
  }

  test("vacuum: a lease stolen mid-run aborts before any delete (r14 advice)") {
    // The vacuum computes its retained/referenced sets from a listing
    // taken under its lease; if it stalls past the staleness window
    // and a thief commits a fresh generation, deleting from that
    // pre-steal view could reap the thief's commit. The commit-point
    // check must abort BEFORE the first delete.
    val tmp = Files.createTempDirectory("beamidx12").toString
    val root = s"$tmp/idx"
    BeamIndex.beamIndexCreate(spark, neOf(0L until 40L), 4, root)
    BeamIndex.beamIndexAppend(spark, neOf(0L until 45L), root)
    BeamIndex.beamIndexAppend(spark, neOf(0L until 48L), root)
    def walk(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try s.iterator().asScala.map(_.toString)
        .filterNot(_.contains("_writer.lock")).toSet
      finally s.close()
    }
    val before = walk()
    val lock = java.nio.file.Paths.get(root, "_writer.lock")
    val ex = intercept[graft.util.WriterFence.ConcurrentWriterException] {
      BeamIndex.beamIndexVacuum(spark, root, keepGens = 1,
        beforeSweep = () =>
          { java.nio.file.Files.write(lock, "thief-token".getBytes("UTF-8")): Unit })
    }
    assert(ex.getMessage.contains("aborting before commit"),
      s"mid-vacuum steal not caught at the commit point: ${ex.getMessage}")
    assert(walk() === before,
      "a fenced-out vacuum still deleted generations or manifests")
    // non-vacuous: with the thief's lock cleared, the SAME vacuum does
    // reclaim state (the old manifests) — the abort above really did
    // prevent deletes, not find nothing to delete
    java.nio.file.Files.delete(lock)
    BeamIndex.beamIndexVacuum(spark, root, keepGens = 1)
    assert(walk() !== before, "aggressive vacuum reclaimed nothing")
  }

  test("reader pinned past the vacuum grace window fails loudly, never silently wrong (r13 #4)") {
    val tmp = Files.createTempDirectory("beamidx10").toString
    val root = s"$tmp/idx"
    val all = (0L until 48L)
    BeamIndex.beamIndexCreate(spark, neOf(all), 4, root)
    val m0 = BeamIndex.beamManifest(spark, root)
    // advance TWO generations with deletes that touch EVERY bucket
    // (one member per bucket), so every g0 artifact — nodes, fingers,
    // and all kn leaves — becomes unreferenced by the retained window
    def oneIdPerBucket(): Seq[Long] =
      BeamIndex.beamNodesFrame(spark, root)
        .groupBy(col("bucket")).agg(min(col("vec_id")).as("vec_id"))
        .select(col("vec_id")).as[Long].collect().toSeq
    val del1 = oneIdPerBucket()
    var left = all.filterNot(del1.toSet)
    BeamIndex.beamIndexDelete(spark, neOf(left), del1.toDF("vec_id"), root)
    val del2 = oneIdPerBucket()
    left = left.filterNot(del2.toSet)
    BeamIndex.beamIndexDelete(spark, neOf(left), del2.toDF("vec_id"), root)
    BeamIndex.beamIndexVacuum(spark, root, keepGens = 2)
    assert(!new java.io.File(root, "g0").exists(),
      "setup failed: generation 0 survived the vacuum (still referenced?)")
    // the serving stream's per-trigger probe: an actionable error
    // naming the fix, at the START of the trigger
    val ex = intercept[IllegalStateException] {
      BeamIndex.requireBeamSnapshotLive(spark, root, m0)
    }
    assert(ex.getMessage.contains("vacuumed") &&
      ex.getMessage.contains("restart"),
      s"stale-snapshot error is not actionable: ${ex.getMessage}")
    // and the underlying read path is LOUD too (missing files, not
    // empty frames): a pinned search can never silently return wrong
    // results after its generation is reclaimed
    val neLeft = neOf(left).localCheckpoint(true)
    assertThrows[Exception] {
      BeamIndex.beamSearchProbes(spark, root, neLeft,
        neOf(left.take(3)), manifestOpt = Some(m0))
        .collect()
    }
    // the CURRENT snapshot still serves (probe surviving ids — the
    // fixed vec_id < 5 probe set was deleted above)
    assert(BeamIndex.beamSearchProbes(spark, root, neLeft,
      neOf(left.take(3))).collect().nonEmpty)
  }

  test("compaction merges delta dirs: results bit-identical, file count drops (r13 #7)") {
    val tmp = Files.createTempDirectory("beamidx11").toString
    val root = s"$tmp/idx"
    BeamIndex.beamIndexCreate(spark, neOf(0L until 40L), 4, root)
    // three monotone appends -> three node/finger DELTA dirs beside
    // the base (the per-streaming-batch accumulation compaction bounds)
    (0 until 3).foreach { i =>
      BeamIndex.beamIndexAppend(
        spark, neOf(0L until (44L + 4 * i)), root)
    }
    val mBefore = BeamIndex.beamManifest(spark, root)
    assert(mBefore.nodesDirs.size === 4 && mBefore.fingerDirs.size === 4,
      s"setup: expected 4 delta dirs, got ${mBefore.nodesDirs}")
    val neAll = neOf(0L until 52L).localCheckpoint(true)
    val before = searchRows(root, neAll)
    def dataFiles(m: BeamIndex.BeamManifest): Int =
      (m.nodesDirs ++ m.fingerDirs).map(d =>
        new java.io.File(s"$root/$d").listFiles()
          .count(_.getName.endsWith(".parquet"))).sum
    val filesBefore = dataFiles(mBefore)

    BeamIndex.beamIndexCompact(spark, root)
    val mAfter = BeamIndex.beamManifest(spark, root)
    assert(mAfter.gen === mBefore.gen + 1)
    assert(mAfter.nodesDirs.size === 1 && mAfter.fingerDirs.size === 1,
      "compaction did not consolidate to single base dirs")
    assert(mAfter.knDirs === mBefore.knDirs,
      "compaction touched kn leaves (they never accumulate deltas)")
    assert(mAfter.n === mBefore.n && mAfter.planes === mBefore.planes)
    assert(searchRows(root, neAll) === before,
      "compaction changed search results")
    assert(dataFiles(mAfter) < filesBefore,
      s"compaction did not reduce data file count ($filesBefore -> ${dataFiles(mAfter)})")
    // superseded generations linger for pinned readers until vacuum;
    // after an aggressive vacuum the consolidated snapshot still serves
    BeamIndex.beamIndexVacuum(spark, root, keepGens = 1)
    assert(searchRows(root, neAll) === before,
      "post-compaction vacuum broke the consolidated snapshot")
    // idempotence: nothing left to compact -> no new generation
    BeamIndex.beamIndexCompact(spark, root)
    assert(BeamIndex.beamManifest(spark, root).gen === mAfter.gen,
      "a no-op compaction committed a generation")
  }

  test("gappy vec_ids search isomorphically to their dense relabeling") {
    val tmp = Files.createTempDirectory("beamidx3").toString
    // ids 0..89 with every id ≡ 1 (mod 3) removed — non-contiguous,
    // the layout the old vec_id-space fingers navigated incorrectly
    val gappyIds = (0L until 90L).filter(_ % 3 != 1)
    val rankOf: Map[Long, Long] = gappyIds.sorted.zipWithIndex
      .map { case (id, r) => id -> r.toLong }.toMap
    // dense twin: SAME vectors, ids relabeled to their ranks
    val gappy = neOf(gappyIds).localCheckpoint(true)
    val dense = neOf(gappyIds)
      .withColumn("vec_id",
        // map each gappy id to its rank via a literal CASE chain
        gappyIds.foldLeft(lit(-1L)) { (acc, id) =>
          when(col("vec_id") === id, lit(rankOf(id))).otherwise(acc)
        }.cast(LongType))
      .localCheckpoint(true)

    val gRoot = s"$tmp/gappy"; val dRoot = s"$tmp/dense"
    BeamIndex.beamIndexCreate(spark, gappy, 4, gRoot)
    BeamIndex.beamIndexCreate(spark, dense, 4, dRoot)

    // queries are vec_id < 5 on both sides: gappy {0,2,3,4*} vs dense
    // {0,1,2,3,4} — restrict the comparison to the shared query
    // VECTORS (gappy id g ↔ dense id rankOf(g), both < 5)
    val sharedQ = gappyIds.filter(id => id < 5 && rankOf(id) < 5)
    assert(sharedQ.nonEmpty)
    val gRows = searchRows(gRoot, gappy)
      .filter(r => sharedQ.contains(r._1))
      .map { case (q, v, s0, rn) => (rankOf(q), rankOf(v), s0, rn) }
    val dRows = searchRows(dRoot, dense)
      .filter(r => sharedQ.map(rankOf).contains(r._1))
    assert(gRows === dRows,
      "gappy-id corpus does not navigate like its dense relabeling")
  }

  test("denseRankByKey: exact dense ranks, and no corpus-sized unpartitioned window (r12 #1)") {
    // Correctness: shuffled sparse keys rank to 0..n-1 in key order
    // (plus base), independent of input partitioning.
    val keys = Seq(907L, 3L, 500L, 41L, 7L, 999999L, 0L, 123L)
    val df = keys.map(k => (k, s"p$k")).toDF("vec_id", "payload").repartition(5)
    val ranked = BeamIndex.denseRankByKey(df, "vec_id", "rk", base = 10L)
    val got = ranked.select(col("vec_id"), col("rk"))
      .as[(Long, Long)].collect().toMap
    val want = keys.sorted.zipWithIndex.map { case (k, i) => k -> (10L + i) }.toMap
    assert(got === want)
    assert(ranked.columns.toSeq === Seq("vec_id", "payload", "rk"),
      "rank helper must not disturb the column layout")

    // Plan contract: the ONLY unpartitioned window operates on the
    // per-partition count frame (one row per shuffle partition), never
    // on the key-bearing corpus frame; the corpus-side rank window is
    // partitioned (by the range-partition id). AQE off so the physical
    // tree is inspectable pre-execution.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = BeamIndex
        .denseRankByKey(df, "vec_id", "rk", base = 0L)
        .queryExecution.executedPlan
      val wins = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(wins.nonEmpty)
      wins.filter(_.partitionSpec.isEmpty).foreach { w =>
        assert(w.child.output.map(_.name).contains("_cnt"),
          s"unpartitioned window over a non-count frame:\n$w")
      }
      assert(wins.exists(w => w.partitionSpec.nonEmpty &&
          w.child.output.map(_.name).contains("vec_id")),
        "the corpus-side rank window lost its partition spec")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
