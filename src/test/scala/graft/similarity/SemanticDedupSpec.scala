package graft.similarity

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The SemDeDup constant-population block rule (r18 — the r17 1M
  * stretch's Θ(n^1.5) fix): q_semantic_dedup's pair pass blocks on the
  * trained IVF cell refined by [[ClusterQueries.semDedupExtraBits]]
  * sign-LSH bits, so total blocks ≈ n/400 and pair mass is Θ(n).
  * Pinned here:
  *
  *  1. THE RULE — eb derives 0 at every oracle demo corpus (results
  *     unchanged there) and grows with n so k·2^eb tracks n/400: the
  *     bounded-population property the fix exists for.
  *  2. BLOCK STRUCTURE at eb ≥ 1 — every block id decomposes back to
  *     its cell (bucket >> eb) and a sub-bucket within [0, 2^eb).
  *  3. REFINEMENT — blocks only split cells, so the pruned set at
  *     eb ≥ 1 is a SUBSET of the pure-cell pruned set (the documented
  *     recall trade is the only semantic change), and planted
  *     near-identical twins still collapse (they agree on every sign
  *     bit with overwhelming probability).
  */
class SemanticDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("semDedupExtraBits: 0 at demo corpora, constant block population beyond") {
    import ClusterQueries.{ivfCellCount, semDedupExtraBits}
    assert(semDedupExtraBits(500L) === 0)   // every oracle corpus
    assert(semDedupExtraBits(2000L) === 0)  // sf0.1-shaped
    // the r17 stretch sizes: the IVF k plateaus at 128 for both, but
    // the block count keeps tracking n/400 — population stays ~flat
    // where the pure-cell rule DOUBLED it (the measured 4.5×)
    val n500k = 500000L
    val n1m = 1000000L
    assert(ivfCellCount(n500k) === 128 && ivfCellCount(n1m) === 128)
    assert(semDedupExtraBits(n500k) === 3)
    assert(semDedupExtraBits(n1m) === 4)
    def blocks(n: Long): Long =
      ivfCellCount(n).toLong << semDedupExtraBits(n)
    val pop500k = n500k.toDouble / blocks(n500k)
    val pop1m = n1m.toDouble / blocks(n1m)
    assert(math.abs(pop1m / pop500k - 1.0) < 0.05,
      s"block population must stay ~constant at 2× corpus: $pop500k vs $pop1m")
  }

  /** 64-dim embeddings with planted twins: vec n-5+i copies vec i
    * exactly (cosine 1.0 — must collapse in any same-block pass). */
  private def writeEmb(dir: String, n: Int, salt: Int): Unit =
    (0 until n).map { i =>
      val src = if (i >= n - 5) i - (n - 5) else i
      val h = src.toLong * 2654435761L + salt
      (i.toLong, Array.tabulate(64)(j =>
        (((h + j * (h % 97 + 31) + j.toLong * j * 7) % 13).toInt - 6) / 6.0f))
    }.toDF("vec_id", "embedding")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  test("eb >= 1 blocks decompose to (cell, sub); pruning refines the pure-cell pass; twins collapse") {
    val dir = Files.createTempDirectory("semdedup").toString
    val n = 10000
    writeEmb(dir, n, salt = 5)
    val eb = ClusterQueries.semDedupExtraBits(
      VectorQueries.embCount(spark, dir))
    assert(eb === 1, s"10k vectors should derive eb=1, got $eb")

    val blocked = ClusterQueries.semanticBlocked(spark, dir)
    val bad = blocked
      .withColumn("sub", col("bucket") - shiftleft(shiftright(col("bucket"), eb), eb))
      .filter(shiftright(col("bucket"), eb) =!= col("cell") ||
        col("sub") < 0 || col("sub") >= (1L << eb))
      .count()
    assert(bad === 0, "composite block ids must decompose to (cell, sub)")

    // refinement: blocked pruning never prunes an id the pure-cell
    // pass wouldn't
    val cellFrame = blocked.select(
      col("cell").as("bucket"), col("vec_id"), col("v"), col("nrm"))
    val pureCell = VectorQueries.bucketPairsRows(cellFrame, 0.4)
      .select(col("e.id2").as("id2")).distinct()
      .collect().map(_.getLong(0)).toSet
    val refined = ClusterQueries.semanticPrunedIds(spark, dir)
      .select(col("id2")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(refined.subsetOf(pureCell),
      s"blocked pruning invented ids: ${(refined -- pureCell).take(5)}")

    // exact twins (cosine 1.0, identical sign bits and cell by
    // construction) must be pruned
    val twins = ((n - 5) until n).map(_.toLong).toSet
    assert(twins.subsetOf(refined),
      s"planted exact twins not pruned: ${twins -- refined}")

    // the report still accounts every vector exactly once
    val total = ClusterQueries.semanticDedup.run(spark, dir)
      .agg(sum(col("n_vecs"))).collect()(0).getLong(0)
    assert(total === n.toLong)
  }
}
