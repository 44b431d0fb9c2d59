package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.similarity.BeamIndex

/** The query-side serving invariant: a probe-vector STREAM searched
  * against the warm persisted beam index returns, micro-batch by
  * micro-batch, EXACTLY the rows of the batch search plan over the
  * same probes — with zero streaming state and batch-scoped
  * (replay-idempotent) output. */
class AnnServeStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

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

  private def ndjson(ids: Seq[Long]): String =
    ids.map(i =>
      s"""{"q_id":$i,"embedding":[${vec(i).mkString(",")}]}""")
      .mkString("", "\n", "\n")

  test("streamed probes == batch beamSearchPlan; zero state; replay-idempotent output") {
    val root = Files.createTempDirectory("annserve").toString
    val corpusPath = s"$root/vectors"
    val idxRoot = s"$root/idx"
    val inputDir = s"$root/in"; new java.io.File(inputDir).mkdirs()
    val outPath = s"$root/out"
    val all = (0L until 50L)
    rawOf(all).write.mode("overwrite").parquet(corpusPath)
    BeamIndex.beamIndexCreate(spark, neOf(all), 4, idxRoot)

    // probes ARE corpus queries (vec_id < 5), split across two
    // triggers, so the comparison target is exactly the batch family's
    // beamSearchPlan rows. Files land sequentially (drain between
    // writes) so the file source's batch ids are deterministic: the
    // replay leg below re-runs BATCH 0 and needs to know its probes.
    Files.write(Paths.get(inputDir, "b0.json"), ndjson(Seq(0L, 1L, 2L)).getBytes("UTF-8"))
    val q = AnnServeStream.start(spark, inputDir, corpusPath, idxRoot,
      outPath, s"$root/ckpt", maxFilesPerTrigger = 1)
    try {
      q.processAllAvailable()
      Files.write(Paths.get(inputDir, "b1.json"), ndjson(Seq(3L, 4L)).getBytes("UTF-8"))
      q.processAllAvailable()
    } finally q.stop()

    def outRows(): Seq[(Long, Long, Double, Long)] =
      spark.read.parquet(outPath)
        .select(col("q_id"), col("vec_id"), col("sim_r"), col("rn"))
        .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    val batchRows = BeamIndex.beamSearchPlan(spark, idxRoot,
        neOf(all).localCheckpoint(true))
      .select(col("q_id"), col("vec_id"), col("sim_r"), col("rn"))
      .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    assert(outRows() === batchRows,
      "streamed serving results differ from the batch search plan")

    // zero streaming state: the plan is stream-static per trigger
    assert(q.lastProgress == null ||
      q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L),
      "serving stream accumulated state-store rows")

    // replay idempotence: re-running a trigger's batch with the same
    // batch id must overwrite its own files, not duplicate rows
    val before = outRows()
    val ne = neOf(all).localCheckpoint(true)
    ClusterMaintenanceStream.appendBatchScoped(spark,
      AnnServeStream.searchBatch(spark,
        Seq((0L, vec(0L)), (1L, vec(1L)), (2L, vec(2L)))
          .toDF("q_id", "embedding"), ne, idxRoot),
      outPath, batchId = 0L)
    assert(outRows() === before,
      "replayed serving batch duplicated output rows")
  }

  test("pinned manifest serves one generation across a maintenance commit (no torn view)") {
    // the serving stream resolves manifest + corpus + edges ONCE at
    // start; a maintenance commit mid-stream must not leak into a
    // trigger (per-batch re-resolution would mix new nodes/hub-stride
    // with pinned edges/vectors — matching NEITHER generation)
    val root = Files.createTempDirectory("annserve3").toString
    val idxRoot = s"$root/idx"
    val base = (0L until 50L)
    val neBase = neOf(base).localCheckpoint(true)
    BeamIndex.beamIndexCreate(spark, neBase, 4, idxRoot)
    val m0 = BeamIndex.beamManifest(spark, idxRoot)
    val edges0 = BeamIndex.beamEdgesFrame(spark, idxRoot, m0)
      .localCheckpoint(true)
    val probes = Seq((-1L, vec(7L))).toDF("q_id", "embedding")
    def rows(ne: org.apache.spark.sql.DataFrame,
             edges: Option[org.apache.spark.sql.DataFrame],
             m: Option[BeamIndex.BeamManifest]) =
      AnnServeStream.searchBatch(spark, probes, ne, idxRoot, edges, m)
        .select(col("q_id"), col("vec_id"), col("sim_r"), col("rn"))
        .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    val r1 = rows(neBase, Some(edges0), Some(m0))
    // maintenance commit: append id 100 = an exact copy of vector 7
    val neAll = neOf(base).unionByName(
        neOf(Seq(7L)).withColumn("vec_id", lit(100L)))
      .localCheckpoint(true)
    BeamIndex.beamIndexAppend(spark, neAll, idxRoot)
    assert(BeamIndex.beamManifest(spark, idxRoot).gen === m0.gen + 1)
    // pinned view: identical results, the new twin is invisible
    assert(rows(neBase, Some(edges0), Some(m0)) === r1,
      "a maintenance commit leaked into the pinned serving view")
    // fresh resolution DOES see the commit — the twin surfaces at 1.0
    val fresh = rows(neAll, None, None)
    assert(fresh.exists(r => r._2 == 100L && r._3 == 1.0),
      s"fresh view missed the appended exact twin: $fresh")
  }

  test("a serving stream whose pinned snapshot is vacuumed dies LOUDLY, not silently wrong (ADVICE r13)") {
    val root = Files.createTempDirectory("annservevac").toString
    val corpusPath = s"$root/vectors"
    val idxRoot = s"$root/idx"
    val inputDir = s"$root/in"; new java.io.File(inputDir).mkdirs()
    val all = (0L until 48L)
    rawOf(all).write.mode("overwrite").parquet(corpusPath)
    BeamIndex.beamIndexCreate(spark, neOf(all), 4, idxRoot)

    // start serving (pins generation 0), prove it serves one trigger
    Files.write(Paths.get(inputDir, "b0.json"), ndjson(Seq(0L)).getBytes("UTF-8"))
    val q = AnnServeStream.start(spark, inputDir, corpusPath, idxRoot,
      s"$root/out", s"$root/ckpt", maxFilesPerTrigger = 1)
    try {
      q.processAllAvailable()
      // maintenance advances TWO generations with all-bucket deletes
      // (every g0 artifact becomes unreferenced), then vacuums with
      // the default grace window — the serving stream's pinned
      // snapshot is now reclaimed
      def oneIdPerBucket(): Seq[Long] =
        BeamIndex.beamNodesFrame(spark, idxRoot)
          .groupBy(col("bucket")).agg(min(col("vec_id")).as("vec_id"))
          .select(col("vec_id")).as[Long].collect().toSeq
      var left: Seq[Long] = all
      (1 to 2).foreach { _ =>
        val dels = oneIdPerBucket()
        left = left.filterNot(dels.toSet)
        BeamIndex.beamIndexDelete(
          spark, neOf(left), dels.toDF("vec_id"), idxRoot)
      }
      BeamIndex.beamIndexVacuum(spark, idxRoot, keepGens = 2)
      assert(!new java.io.File(idxRoot, "g0").exists(),
        "setup failed: generation 0 survived the vacuum")
      // next trigger must fail with the actionable message, BEFORE any
      // executor-side FileNotFoundException
      Files.write(Paths.get(inputDir, "b1.json"), ndjson(Seq(1L)).getBytes("UTF-8"))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        // processAllAvailable can return after the failure lands in
        // the query thread; surface it deterministically
        q.awaitTermination(30000): Unit
      }
      val msg = Option(ex.getCause).fold(ex.getMessage)(_.getMessage)
      assert(msg.contains("vacuumed") && msg.contains("restart"),
        s"serving stream died without the actionable diagnosis: $msg")
    } finally q.stop()
  }

  test("external probes (fresh id space) are not self-excluded and find their corpus match") {
    val root = Files.createTempDirectory("annserve2").toString
    val idxRoot = s"$root/idx"
    val all = (0L until 50L)
    val ne = neOf(all).localCheckpoint(true)
    BeamIndex.beamIndexCreate(spark, ne, 4, idxRoot)
    // probe = corpus vector 7 under a fresh id: its nearest neighbor
    // must be vec 7 itself at sim 1.0 (a corpus query excludes itself;
    // a serving probe must not)
    val probes = Seq((-1L, vec(7L))).toDF("q_id", "embedding")
      .select(col("q_id").as("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
    val top = BeamIndex.beamSearchProbes(spark, idxRoot, ne, probes)
      .filter(col("rn") === 1L)
      .select(col("q_id"), col("vec_id"), col("sim_r"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(top === Seq((-1L, 7L, 1.0)),
      s"fresh-id probe did not surface its exact corpus twin: $top")
  }
}
