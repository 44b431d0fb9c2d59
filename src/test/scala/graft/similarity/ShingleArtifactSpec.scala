package graft.similarity

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.util.{ArtifactCache, WriterFence}

/** The persisted corpus shingle/signature artifacts (r16 verdict #1):
  * the shingle family (q_minhash_lsh, q_minhash_est, q_ngram_jaccard,
  * q_dedup_funnel, the incremental index builds) reads a shared
  * per-(dataset mtime+length) UNCAPPED shingle table plus a derived
  * minhash-signature artifact instead of re-running the
  * scan→tokenize→shingle→distinct pipeline per query. Three
  * invariants:
  *
  *  1. BIT-IDENTITY — every artifact-backed frame equals the direct
  *     recompute, including the subset-then-cap forms (the funnel's
  *     reps, the incremental cutoff sides) whose DF cap counts within
  *     their own doc subset: a shingle hot across the corpus but cool
  *     within the subset must SURVIVE the subset's cap.
  *  2. STALENESS — a rewritten corpus rebuilds; the key is
  *     md5(path + mtime + LENGTH + family) (the ADVICE r08 stamping
  *     rule).
  *  3. COMMIT SAFETY — the staged fenced write aborts loudly when its
  *     lease is stolen in the check→rename window and never leaves a
  *     possibly-torn artifact at the served path.
  */
class ShingleArtifactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Corpus spanning the incremental cutoff (400) with a planted
    * corpus-hot shingle: "alpha beta gamma" appears in every EVEN doc
    * (well above MaxShingleDf=50 overall) but in ≤ 50 docs on the
    * batch side of the cutoff, so a subset cap and the corpus cap
    * disagree on it — exactly the semantics the uncapped artifact
    * must preserve. */
  private def writeDocs(dir: String, n: Int, salt: Int): Unit =
    (0 until n).map { i =>
      val id = 350L + i
      val hot = if (i % 2 == 0) "alpha beta gamma " else ""
      val body = s"doc $salt word${i % 7} tail${i} end${(i * 31 + salt) % 97}"
      (id, hot + body)
    }.toDF("doc_id", "text")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def docsFrame(dir: String) =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("artifact-backed shingles, signatures and subset caps are bit-identical to the recompute") {
    val dir = Files.createTempDirectory("shingleart").toString
    writeDocs(dir, 140, salt = 1)
    val docs = docsFrame(dir)

    // full-corpus capped shingles: artifact read vs direct pipeline
    val direct = NearDupQueries.shinglesOf(docs, NearDupQueries.MaxShingleDf)
    assert(rows(NearDupQueries.shingles(spark, dir)) === rows(direct))
    // the planted hot shingle must be capped out of the corpus view
    assert(!NearDupQueries.shingles(spark, dir)
      .filter(col("s") === "alpha beta gamma").head(1).nonEmpty)

    // signature artifact vs direct minhash of the capped pipeline
    assert(rows(NearDupQueries.minhashFrame(spark, dir)) ===
      rows(NearDupQueries.minhashFrameFrom(direct)))

    // subset-then-cap (the incremental batch side): doc_id >= 400 holds
    // "alpha beta gamma" in <= 50 docs, so the batch cap KEEPS it even
    // though the corpus cap drops it — the artifact stores pre-cap
    // rows precisely so this stays identical to the old private
    // pipeline.
    val batchDocs = docs.filter(col("doc_id") >= 400)
    val batchDirect = NearDupQueries.shinglesOf(
      batchDocs, NearDupQueries.MaxShingleDf)
    assert(batchDirect.filter(col("s") === "alpha beta gamma").count() > 0,
      "spec corpus must make the subset cap disagree with the corpus cap")
    assert(rows(DedupIndex.newBatchSignatures(spark, dir)) ===
      rows(NearDupQueries.bandsOf(
        NearDupQueries.minhashFrameFrom(batchDirect))))
  }

  test("hot-shingle census overflow degrades to the anti-join cap, bit-identical (ADVICE r18)") {
    val dir = Files.createTempDirectory("shingleartof").toString
    writeDocs(dir, 60, salt = 9)
    // force the overflow branch: with the driver-collect ceiling at 0,
    // ANY hot shingle overflows the census and shingles() must fall
    // back to the capShingleDf anti-join instead of crashing — same
    // rows as the literal-filter fast path it replaces
    sys.props("graft.test.maxHotShingles") = "0"
    try {
      val viaFallback = rows(NearDupQueries.shingles(spark, dir))
      // same ceiling again: the overflow verdict is CACHED per
      // (dataset, DF cap, CEILING, session) — the second call serves
      // the anti-join plan from the cached None, bit-identical
      val cachedVerdict = rows(NearDupQueries.shingles(spark, dir))
      assert(viaFallback === cachedVerdict)
      sys.props.remove("graft.test.maxHotShingles")
      // DIFFERENT ceiling (back to the default): the ceiling is key
      // material (ADVICE r19 — it used to be omitted, so this call
      // was stale-served the overflow verdict), so this re-censuses
      // under the roomy cap, takes the literal-filter fast path, and
      // must still produce the same rows
      val freshCap = rows(NearDupQueries.shingles(spark, dir))
      assert(viaFallback === freshCap,
        "cap-change re-census diverges from the overflow fallback rows")
      val direct = rows(NearDupQueries.shinglesOf(
        docsFrame(dir), NearDupQueries.MaxShingleDf))
      assert(viaFallback === direct,
        "overflow fallback rows diverge from the direct capped pipeline")
    } finally sys.props.remove("graft.test.maxHotShingles"): Unit
  }

  test("rewritten corpus rebuilds both artifacts; identical corpus reuses them") {
    val dir = Files.createTempDirectory("shingleart2").toString
    writeDocs(dir, 120, salt = 3)
    val first = rows(NearDupQueries.minhashLsh.run(spark, dir))
    assert(rows(NearDupQueries.minhashLsh.run(spark, dir)) === first,
      "warm artifact serve changed the result")
    val firstFunnel = rows(NearDupQueries.dedupFunnel.run(spark, dir))
    assert(rows(NearDupQueries.dedupFunnel.run(spark, dir)) === firstFunnel,
      "warm funnel rep-band artifact serve changed the result")
    writeDocs(dir, 136, salt = 4) // rewrite: new mtime AND length
    val second = rows(NearDupQueries.minhashLsh.run(spark, dir))
    val secondFunnel = rows(NearDupQueries.dedupFunnel.run(spark, dir))
    val clean = Files.createTempDirectory("shingleart3").toString
    writeDocs(clean, 136, salt = 4)
    assert(rows(NearDupQueries.minhashLsh.run(spark, clean)) === second,
      "stale shingle/signature artifact served after a corpus rewrite")
    assert(rows(NearDupQueries.dedupFunnel.run(spark, clean)) === secondFunnel,
      "stale funnel rep-band artifact served after a corpus rewrite")
  }

  test("staging is per-attempt and claim-time sweep reaps leftover staging dirs") {
    val tmp = Files.createTempDirectory("stageduniq").toFile
    val root = new java.io.File(tmp, "artifact")
    // debris a crashed prior attempt (old fixed-path form AND a
    // token-suffixed one) could have left behind
    val fixed = new java.io.File(tmp, "artifact_staging")
    val stale = new java.io.File(tmp, "artifact_staging_deadbeef")
    Seq(fixed, stale).foreach { d =>
      assert(d.mkdirs())
      assert(new java.io.File(d, "part-junk").createNewFile())
    }
    var seen: String = null
    ArtifactCache.stagedArtifactWrite(spark, root, "spec artifact") {
      staging =>
        seen = staging
        spark.range(3).write.parquet(staging)
    }
    assert(seen.matches(".*artifact_staging_[0-9a-f]{8}"),
      s"staging path '$seen' is not per-attempt token-suffixed")
    assert(!fixed.exists && !stale.exists,
      "claim-time sweep left prior attempts' staging debris behind")
    assert(new java.io.File(root, "_SUCCESS").exists,
      "staged commit did not land the artifact")
    assert(spark.read.parquet(root.getPath).count() === 3)
  }

  test("staged commit: a steal in the check-to-rename window aborts loudly, serves nothing") {
    val tmp = Files.createTempDirectory("stagedsteal").toFile
    val root = new java.io.File(tmp, "artifact")
    val fs = new org.apache.hadoop.fs.Path(root.getPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"${root.getPath}_lock", "_writer.lock")
    ArtifactCache.stagedCommitTestSeam = () => {
      // the thief: presumed-stale steal replaces the token
      fs.delete(lock, false)
      val out = fs.create(lock, false)
      try out.write("thief".getBytes("UTF-8")) finally out.close()
    }
    try {
      val e = intercept[WriterFence.ConcurrentWriterException] {
        ArtifactCache.stagedArtifactWrite(spark, root, "spec artifact") {
          staging => spark.range(10).write.parquet(staging)
        }
      }
      assert(e.getMessage.contains("stolen during the commit window"))
      assert(!root.exists(),
        "a possibly-torn artifact was left at the served path after a detected steal")
    } finally ArtifactCache.stagedCommitTestSeam = () => ()
  }
}
