package graft.similarity

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The persisted cell-assignment artifact's lifecycle (r14 verdict
  * #2): warm consumers (q_kmeans_cluster / q_ann_ivf /
  * q_semantic_dedup) read a per-(dataset mtime+length) parquet
  * artifact instead of re-running the corpus×k assignment pass — so
  * the one invariant that matters is that a REWRITTEN corpus gets a
  * fresh assignment, never a stale artifact serve. The twin hazard
  * (32-bit key collision / mtime-only stamping) already bit the
  * signature index once (ADVICE r08), which is why the stamp is
  * md5(path + mtime + LENGTH + version).
  */
class CellAssignArtifactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vec(i: Long, salt: Int): Seq[Float] =
    (0 until 16).map(d => (math.sin(i * 1.7 + d * 0.9 + salt) +
      (if (i % 3 == d % 3) 0.5 else 0.0)).toFloat)

  private def writeEmb(dir: String, n: Int, salt: Int): Unit =
    (0 until n).map(i => (i.toLong, vec(i, salt), i % 4))
      .toDF("vec_id", "embedding", "label")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  private def kmeansRows(dir: String): Seq[(Long, Long)] =
    ClusterQueries.kmeansCluster.run(spark, dir)
      .select("cell", "n_vecs").as[(Long, Long)].collect().toSeq

  test("rewritten corpus re-assigns; identical corpus reuses the warm artifact") {
    val dir = Files.createTempDirectory("cellassign").toString
    writeEmb(dir, 40, salt = 1)
    val first = kmeansRows(dir)
    assert(first.map(_._2).sum === 40L, "assignment must cover the whole corpus")
    // warm path: same dataset, same results (artifact reused)
    assert(kmeansRows(dir) === first)
    // REWRITE the corpus: more rows, different values. The artifact
    // key embeds mtime AND length, so this must re-train + re-assign —
    // a stale serve would report the old 40-vector census.
    writeEmb(dir, 56, salt = 2)
    val second = kmeansRows(dir)
    assert(second.map(_._2).sum === 56L,
      s"stale cell-assignment artifact served after a corpus rewrite: $second")
    // and the fresh assignment equals a cold build of the same data
    // in a directory that never had an artifact
    val clean = Files.createTempDirectory("cellassign2").toString
    writeEmb(clean, 56, salt = 2)
    assert(kmeansRows(clean) === second,
      "artifact-path result diverged from a cold compute of the same corpus")
  }
}
