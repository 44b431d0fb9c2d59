package graft.similarity

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Dense-bucket routing of the grouped pair/kNN expressions (r16
  * verdict #2): a bucket whose members are genuinely near-identical
  * defeats width scaling — every member shares one sign pattern — and
  * would land as ONE ~m×520 B `collect_list` row plus one serial
  * O(m²) task. Buckets above the member cap must fall back to the
  * join form with BIT-IDENTICAL results (grouped ≡ join is the
  * BucketKnnSpec contract), so the cap is purely a physical-routing
  * decision: no oracle, no output, no recall changes.
  */
class DenseBucketSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** One DENSE cluster (60 near-identical members — m ≫ the spec cap
    * of 8) in bucket 0, plus an organic bucket of 5, plus a
    * singleton. */
  private lazy val members = {
    val rnd = new scala.util.Random(23)
    val base = Array.fill(16)(rnd.nextGaussian())
    val rows =
      (0 until 60).map { i =>
        val v = base.map(x => x + 0.001 * rnd.nextGaussian())
        (0, 1000L + i, v.toSeq, math.sqrt(v.map(x => x * x).sum))
      } ++
      (0 until 5).map { i =>
        val v = Array.fill(16)(rnd.nextGaussian())
        (1, 2000L + i, v.toSeq, math.sqrt(v.map(x => x * x).sum))
      } ++ Seq({
        val v = Array.fill(16)(rnd.nextGaussian())
        (2, 3000L, v.toSeq, math.sqrt(v.map(x => x * x).sum))
      })
    rows.toDF("bucket", "vec_id", "v", "nrm").localCheckpoint(true)
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  test("kNN edges: capped routing (dense bucket to the join form) is bit-identical to all-grouped") {
    val capped = VectorQueries.bucketKnnEdges(members, 3, cap = 8)
      .select(col("bucket"), col("e.vec_id"), col("e.nbr_id"), col("e.sim"), col("e.rn"))
      .as[(Int, Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2, r._3, bits(r._4), r._5)).sorted
    val grouped = VectorQueries.bucketKnnEdges(members, 3, cap = 1000000)
      .select(col("bucket"), col("e.vec_id"), col("e.nbr_id"), col("e.sim"), col("e.rn"))
      .as[(Int, Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2, r._3, bits(r._4), r._5)).sorted
    assert(capped.length === grouped.length)
    assert(capped.count(_._1 == 0) === 60 * 3, "dense bucket must emit m*k edges")
    capped.zip(grouped).foreach { case (c, g) =>
      assert(c === g, s"capped $c != grouped $g")
    }
    // the routing really is two-branch: the capped plan keeps the
    // grouped expression for small buckets AND plans a join for the
    // dense one
    val plan = VectorQueries.bucketKnnEdges(members, 3, cap = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bucketknn"), "small buckets must stay grouped")
    assert(plan.contains("Join"), "the dense bucket must route to the join form")
  }

  /** A fresh 120-vector corpus over a 13-value lattice: ~13 distinct
    * vectors, heavily duplicated, so width 4 gives <= 16 sign buckets
    * whose populations dwarf cap 8. */
  private def latticeCorpus(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    (0 until 120).map { i =>
      (i.toLong,
        Array.tabulate(8)(j => (((i * 31 + j * 17) % 13) - 6) / 6.0f).toSeq)
    }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("public-query fallback engagement: q_embed_dedup's pair-artifact build routes " +
      "dense buckets, bit-identical, with the loud census line (r19 #5)") {
    // The docs5000 probe measured 1.10x headroom to the 32,768 cap —
    // first production engagement expected ~3M docs. Force it NOW at
    // unit scale through the query's pair plan (census -> routing ->
    // join fallback -> union with grouped — the plan the r20
    // pair-artifact BUILD persists, so the engagement happens exactly
    // once per corpus) so that engagement is a rehearsed non-event:
    // same rows, one announced log line. The artifact wrapper itself
    // is pinned bit-identical to this plan by EmbBucketArtifactSpec.
    val dir = latticeCorpus("densepub")
    def pairs(cap: Int) = ClusterQueries.embPairsPlan(spark, dir, cap)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2, bits(r._3))).sorted
    // baseline = the all-grouped pair plan at the default cap
    val baseline = pairs(VectorQueries.MaxBucketMembers)
    assert(baseline.nonEmpty, "lattice corpus must pair above threshold")
    val errBuf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    val routed =
      try {
        System.setErr(new java.io.PrintStream(errBuf, true))
        pairs(8)
      } finally System.setErr(realErr)
    assert(routed === baseline,
      "fallback-routed q_embed_dedup pairs diverge from the grouped-path rows")
    assert(errBuf.toString.contains("GROUPED-PATH FALLBACK ENGAGED"),
      s"expected the loud engagement line; captured stderr:\n${errBuf.toString.take(2000)}")
  }

  test("a census build records one line per (dataset, salt, cap); a warm call records none") {
    val dir = latticeCorpus("densecensus")
    val b = VectorQueries.embBucketsAt(spark, dir, 4)
    def census(salt: String, cap: Int) = {
      val before = VectorQueries.censusLog.size
      VectorQueries.denseBucketsCached(dir, salt, b, cap)
      VectorQueries.censusLog.drop(before)
    }
    val tag = graft.util.ArtifactCache.datasetTag(s"$dir/embeddings.parquet", "planes4")
    val first = census("planes4", 8)
    assert(first.size === 1, first)
    assert(first.head.startsWith(s"[bucket-census] $tag: buckets="), first)
    assert(first.head.endsWith(" cap=8"), first)
    assert(census("planes4", 8).isEmpty, "a warm census must not record again")
    // the cap and the salt are each part of the key: new builds, one line each
    assert(census("planes4", 9).size === 1)
    assert(census("planes4x", 8).size === 1)
  }

  test("threshold pairs: capped routing is bit-identical to all-grouped, dense pairs intact") {
    val thr = 0.5
    val capped = VectorQueries.bucketPairsRows(members, thr, cap = 8)
      .select(col("bucket"), col("e.id1"), col("e.id2"), col("e.sim"))
      .as[(Int, Long, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3, bits(r._4))).sorted
    val grouped = VectorQueries.bucketPairsRows(members, thr, cap = 1000000)
      .select(col("bucket"), col("e.id1"), col("e.id2"), col("e.sim"))
      .as[(Int, Long, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3, bits(r._4))).sorted
    assert(capped.length === grouped.length)
    // the dense cluster's full C(60,2) pair mass survives the fallback
    assert(capped.count(_._1 == 0) === 60 * 59 / 2,
      "near-identical members must ALL pair above threshold")
    capped.zip(grouped).foreach { case (c, g) =>
      assert(c === g, s"capped $c != grouped $g")
    }
  }
}
