package graft.similarity

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The persisted corpus embedding-bucket artifact (r17 — the r16
  * verdict's #1: the shingleTable pattern applied to the embedding
  * family). The vector queries (kNN graph, embed dedup, the ANN
  * family, the beam index build, the IVF cell assignment) read a
  * shared per-(dataset mtime+length, width) table of
  * (vec_id, v, nrm, bucket) instead of re-running the embeddings
  * scan → cast → norm → hyperplane dots per invocation. Invariants:
  *
  *  1. BIT-IDENTITY — the artifact read equals the direct recompute
  *     at the native width, at NARROWER widths (derived by shift —
  *     the width-nesting prefix property), and at WIDER widths
  *     (dots recomputed over the artifact's vectors).
  *  2. ZERO EXCHANGE — per-bucket aggregation at the native width
  *     plans no hash exchange off the bucketed scan (the property
  *     that makes the grouped kNN/pairs expressions and the dense
  *     census shuffle-free).
  *  3. STALENESS — a rewritten corpus rebuilds; an identical corpus
  *     in a clean dir serves identical results.
  */
class EmbBucketArtifactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeEmb(dir: String, n: Int, salt: Int): Unit =
    (0 until n).map { i =>
      (i.toLong,
        Array.tabulate(8)(j => (((i * 31 + j * 17 + salt) % 13) - 6) / 6.0f))
    }.toDF("vec_id", "embedding")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("artifact reads are bit-identical to the recompute at native, narrower and wider widths") {
    val dir = Files.createTempDirectory("embart").toString
    // 10k vectors derive native width 5 — STRICTLY wider than the ANN
    // family's demo width 4, so the narrow path really exercises the
    // shift derivation
    writeEmb(dir, 10000, salt = 1)
    val w = VectorQueries.embAutoWidth(spark, dir)
    assert(w === 5, s"10k vectors should derive width 5, got $w")
    def direct(p: Int) =
      VectorQueries.signBuckets(VectorQueries.normEmb(spark, dir), p)
    assert(rows(VectorQueries.embBucketTable(spark, dir)) === rows(direct(w)))
    assert(rows(VectorQueries.embBucketsAt(spark, dir, 4)) === rows(direct(4)),
      "shift-derived narrow buckets diverge from a real narrow recompute")
    assert(rows(VectorQueries.embBucketsAt(spark, dir, w + 1)) ===
      rows(direct(w + 1)),
      "wider-than-native recompute over the artifact diverges")
  }

  test("native-width per-bucket aggregation runs with zero exchange off the bucketed scan") {
    val dir = Files.createTempDirectory("embart2").toString
    writeEmb(dir, 2000, salt = 2)
    val plan = VectorQueries.embBucketTable(spark, dir)
      .groupBy(col("bucket")).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(bucket"),
      s"bucketed-table groupBy(bucket) should plan no exchange:\n$plan")
  }

  test("the persisted kNN-edge artifact is bit-identical to the compute path") {
    val dir = Files.createTempDirectory("knnart").toString
    writeEmb(dir, 600, salt = 7)
    val viaArtifact = VectorQueries.knnGraphPlanAuto(spark, dir)
    val viaCompute = VectorQueries.knnGraphPlan(spark, dir,
      VectorQueries.embAutoWidth(spark, dir))
    assert(rows(viaArtifact) === rows(viaCompute),
      "artifact-backed kNN graph diverges from the in-bucket recompute")
    assert(rows(VectorQueries.knnGraphPlanAuto(spark, dir)) ===
      rows(viaCompute), "warm artifact serve changed the result")
  }

  test("the persisted embed-dedup pair artifact is bit-identical to the compute path (r20)") {
    val dir = Files.createTempDirectory("embpairs").toString
    writeEmb(dir, 600, salt = 9)
    def rounded(df: org.apache.spark.sql.DataFrame) = rows(
      df.select(col("id1"), col("id2"), round(col("sim"), 6).as("sim_r"))
        .orderBy(col("id1"), col("id2")))
    val viaCompute = rounded(ClusterQueries.embPairsPlan(spark, dir))
    assert(viaCompute.nonEmpty, "lattice corpus must pair above threshold")
    assert(rows(ClusterQueries.embedDedup.run(spark, dir)) === viaCompute,
      "artifact-backed q_embed_dedup diverges from the live pair loop")
    assert(rows(ClusterQueries.embedDedup.run(spark, dir)) === viaCompute,
      "warm artifact serve changed the result")
    // staleness: a rewritten corpus rebuilds (same rows as a clean dir)
    writeEmb(dir, 620, salt = 11)
    val clean = Files.createTempDirectory("embpairs2").toString
    writeEmb(clean, 620, salt = 11)
    assert(rows(ClusterQueries.embedDedup.run(spark, dir)) ===
      rows(ClusterQueries.embedDedup.run(spark, clean)),
      "stale embed-pair artifact served after a corpus rewrite")
  }

  test("rewritten corpus rebuilds; identical corpus in a clean dir serves identical results") {
    val dir = Files.createTempDirectory("embart3").toString
    writeEmb(dir, 500, salt = 3)
    val first = rows(VectorQueries.knnGraph.run(spark, dir))
    assert(rows(VectorQueries.knnGraph.run(spark, dir)) === first,
      "warm artifact serve changed the result")
    writeEmb(dir, 520, salt = 4) // rewrite: new length
    val second = rows(VectorQueries.knnGraph.run(spark, dir))
    val clean = Files.createTempDirectory("embart4").toString
    writeEmb(clean, 520, salt = 4)
    assert(rows(VectorQueries.knnGraph.run(spark, clean)) === second,
      "stale embedding-bucket artifact served after a corpus rewrite")
  }
}
