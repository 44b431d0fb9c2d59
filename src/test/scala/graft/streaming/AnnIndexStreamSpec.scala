package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.similarity.BeamIndex

/** The streaming ANN-index invariant: N micro-batches through
  * [[AnnIndexStream]] leave the persisted beam index EQUAL (by search
  * results) to a one-shot index built over the union corpus —
  * the batch append ≡ rebuild contract under a stream clock,
  * including crash-replayed batches. */
class AnnIndexStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 64-dim deterministic vectors (the hyperplane width — see
    * BeamIndexSpec), spread across the sign-LSH buckets. */
  private def vec(i: Long): Seq[Double] =
    (0 until 64).map(d =>
      math.sin(2.1 * i * (d % 7 + 1) + 0.37 * d) +
        (if (i % 4 == d % 4) 0.6 else 0.0))

  private def rawOf(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private def neOf(ids: Seq[Long]): DataFrame =
    rawOf(ids)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))

  private def searchRows(corpusPath: String, idxRoot: String): Seq[(Long, Long, Double, Long)] =
    AnnIndexStream.search(spark, corpusPath, idxRoot)
      .select(col("q_id"), col("vec_id"), col("sim_r"), col("rn"))
      .as[(Long, Long, Double, Long)].collect().toSeq

  test("N maintained micro-batches == one-shot index over the union corpus; replay-safe") {
    val root = Files.createTempDirectory("annstream").toString
    val corpusPath = s"$root/vectors"
    val idxRoot = s"$root/idx"
    val base = (0L until 40L)
    rawOf(base).write.mode("overwrite").parquet(corpusPath)
    BeamIndex.beamIndexCreate(spark, neOf(base), 4, idxRoot)

    AnnIndexStream.maintainBatch(spark, rawOf(40L until 50L), corpusPath, idxRoot, batchId = 0L)
    AnnIndexStream.maintainBatch(spark, rawOf(50L until 60L), corpusPath, idxRoot, batchId = 1L)
    val maintained = searchRows(corpusPath, idxRoot)

    // a crash after batch 1's corpus append but before the checkpoint
    // commit replays it: the corpus append is batch-scoped (no second
    // copy) and the index append anti-joins to a no-op
    new java.io.File(corpusPath, "_last_batch").delete()
    AnnIndexStream.maintainBatch(spark, rawOf(50L until 60L), corpusPath, idxRoot, batchId = 1L)
    assert(spark.read.parquet(corpusPath).count() === 60L,
      "replayed batch duplicated corpus vectors")
    assert(searchRows(corpusPath, idxRoot) === maintained,
      "replay changed search results")

    val fullRoot = s"$root/full"
    BeamIndex.beamIndexCreate(spark, neOf(0L until 60L), 4, fullRoot)
    val oneShot = BeamIndex.beamSearchPlan(
        spark, fullRoot, neOf(0L until 60L).localCheckpoint(true))
      .select(col("q_id"), col("vec_id"), col("sim_r"), col("rn"))
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(maintained === oneShot,
      "maintained index diverged from a one-shot rebuild")

    // the corpus table accretes one file set per micro-batch; the
    // generic Compaction operator folds them with search unchanged —
    // the full maintenance lifecycle (append, replay, compact) in one
    // artifact story
    def files(dir: String): Int =
      new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    val before = files(corpusPath)
    val rep = graft.pipeline.Compaction.compact(spark, corpusPath, 1L << 30)
    assert(rep.filesAfter < before,
      s"compaction did not fold the batch appends ($before -> ${rep.filesAfter})")
    assert(searchRows(corpusPath, idxRoot) === maintained,
      "compaction changed search results")
    // the replay watermark must SURVIVE the rewrite: without it a
    // replayed batch whose batch-scoped files were just folded away
    // would re-append every row
    assert(ClusterMaintenanceStream.lastAppliedBatch(spark, corpusPath) === Some(1L),
      "compaction lost the _last_batch replay watermark")
    AnnIndexStream.maintainBatch(spark, rawOf(50L until 60L), corpusPath, idxRoot, batchId = 1L)
    assert(spark.read.parquet(corpusPath).count() === 60L,
      "post-compaction replay duplicated corpus vectors")
  }

  test("CDC batches: deletes and same-batch upserts converge to the one-shot survivors") {
    val root = Files.createTempDirectory("anncdc").toString
    val corpusPath = s"$root/vectors"
    val idxRoot = s"$root/idx"
    val base = (0L until 40L)
    rawOf(base).write.mode("overwrite").parquet(corpusPath)
    BeamIndex.beamIndexCreate(spark, neOf(base), 4, idxRoot)

    def cdc(adds: Seq[Long], deletes: Seq[Long]): DataFrame =
      adds.map(i => (i, vec(i), "add"))
        .++(deletes.map(i => (i, Seq.empty[Double], "delete")))
        .toDF("vec_id", "embedding", "op")

    // batch 0: plain adds; batch 1: delete two corpus ids and one of
    // batch 0's; batch 2: an UPSERT (delete + re-add of id 45 in one
    // batch) plus fresh adds
    AnnIndexStream.maintainBatch(spark, cdc(40L until 46L, Nil), corpusPath, idxRoot, 0L)
    AnnIndexStream.maintainBatch(spark, cdc(Nil, Seq(7L, 23L, 41L)), corpusPath, idxRoot, 1L)
    AnnIndexStream.maintainBatch(spark, cdc(Seq(45L) ++ (46L until 50L), Seq(45L)),
      corpusPath, idxRoot, 2L)

    val survivors = (base ++ (40L until 50L)).filterNot(Set(7L, 23L, 41L))
    assert(spark.read.parquet(corpusPath).select(col("vec_id"))
      .as[Long].collect().toSet === survivors.toSet,
      "corpus table diverged from the CDC feed")

    // replay the delete batch after a simulated crash (watermark gone):
    // deleting already-deleted ids must be a no-op
    new java.io.File(corpusPath, "_last_batch").delete()
    AnnIndexStream.maintainBatch(spark, cdc(Nil, Seq(7L, 23L, 41L)), corpusPath, idxRoot, 1L)
    assert(spark.read.parquet(corpusPath).count() === survivors.size.toLong)

    val fullRoot = s"$root/full"
    BeamIndex.beamIndexCreate(spark, neOf(survivors), 4, fullRoot)
    val oneShot = BeamIndex.beamSearchPlan(
        spark, fullRoot, neOf(survivors).localCheckpoint(true))
      .select(col("q_id"), col("vec_id"), col("sim_r"), col("rn"))
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(searchRows(corpusPath, idxRoot) === oneShot,
      "CDC-maintained index diverged from a one-shot rebuild of the survivors")
  }

  test("the stream itself drives maintenance (foreachBatch wiring)") {
    val root = Files.createTempDirectory("annstream2").toString
    val inputDir = s"$root/in"; new java.io.File(inputDir).mkdirs()
    val corpusPath = s"$root/vectors"
    val idxRoot = s"$root/idx"
    val base = (0L until 40L)
    rawOf(base).write.mode("overwrite").parquet(corpusPath)
    BeamIndex.beamIndexCreate(spark, neOf(base), 4, idxRoot)

    def ndjson(ids: Seq[Long]): String = ids.map { i =>
      s"""{"vec_id":$i,"embedding":[${vec(i).mkString(",")}]}"""
    }.mkString("\n")
    Files.write(Paths.get(inputDir, "b0.json"), ndjson(40L until 45L).getBytes("UTF-8"))
    Files.write(Paths.get(inputDir, "b1.json"), ndjson(45L until 50L).getBytes("UTF-8"))

    val q = AnnIndexStream.start(spark, inputDir, corpusPath, idxRoot,
      s"$root/ckpt", maxFilesPerTrigger = 1, vacuumEveryBatches = 1,
      compactEveryBatches = 2)
    try q.processAllAvailable() finally q.stop()

    assert(spark.read.parquet(corpusPath).count() === 50L)
    assert(BeamIndex.beamNodesFrame(spark, idxRoot).count() === 50L,
      "stream did not append to the beam index")
    // stream-clock vacuum bounded the manifest history to the grace
    // window (keepGens = 2) without touching live generations
    val keptManifests = new java.io.File(s"$idxRoot/_gen").list()
      .filterNot(_.startsWith(".")).length
    assert(keptManifests <= 2,
      s"stream vacuum left $keptManifests manifests (grace window is 2)")
    // stream-clock compaction (every 2 batches; batch 1 is the second)
    // consolidated the monotone appends' delta dirs back to one base
    // dir per artifact — the dirs-per-snapshot bound a forever-running
    // maintainer needs (r13 #7)
    val mEnd = BeamIndex.beamManifest(spark, idxRoot)
    assert(mEnd.nodesDirs.size === 1 && mEnd.fingerDirs.size === 1,
      s"stream-clock compaction did not consolidate: ${mEnd.nodesDirs}")
    val fullRoot = s"$root/full"
    BeamIndex.beamIndexCreate(spark, neOf(0L until 50L), 4, fullRoot)
    val oneShot = BeamIndex.beamSearchPlan(
        spark, fullRoot, neOf(0L until 50L).localCheckpoint(true))
      .select(col("q_id"), col("vec_id"), col("sim_r"), col("rn"))
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(searchRows(corpusPath, idxRoot) === oneShot)
  }
}
