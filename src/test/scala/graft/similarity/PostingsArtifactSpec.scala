package graft.similarity

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The persisted shingle POSTINGS-LIST artifact (r17 verdict #1): the
  * capped corpus's inverted index — (s, sorted doc_id list), one row
  * per surviving shingle — persisted once per (documents mtime+length,
  * DF cap, hash family) and read by q_ngram_jaccard's pair expansion
  * instead of re-running the full-corpus doc-list aggregation per
  * invocation. Invariants (the gramTable/shingleTable contract):
  *
  *  1. BIT-IDENTITY — the artifact read equals the direct
  *     [[NearDupQueries.shingleDocListsFrom]] aggregation over the
  *     capped shingles (doc lists are sorted longs; doubles don't
  *     appear, so parquet round-trip is exact by construction).
  *  2. STALENESS — a rewritten corpus rebuilds; an identical corpus in
  *     a clean dir serves identical results (the ADVICE r08
  *     mtime+length stamping rule).
  *  3. CONSUMER SEMANTICS — q_ngram_jaccard through the artifact
  *     equals the same query's known pair semantics on a planted
  *     near-dup corpus (warm serve stable).
  */
class PostingsArtifactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Corpus with planted near-dup pairs: every doc ≡ 0 (mod 9) shares
    * its 6-token body with doc id+1 except the last token, so the pair
    * shares 3 of 4+ shingles (Jaccard well above the 0.1 gate). */
  private def writeDocs(dir: String, n: Int, salt: Int): Unit =
    (0 until n).map { i =>
      val base = s"alpha$salt brick${i / 9} gamma delta${i / 9} omega"
      val text =
        if (i % 9 == 0) s"$base tail$i"
        else if (i % 9 == 1) s"$base tip$i"
        else s"solo$i word${(i * 31 + salt) % 97} x$i y$i z$i"
      (i.toLong, text)
    }.toDF("doc_id", "text")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("postings artifact is bit-identical to the direct doc-list aggregation") {
    val dir = Files.createTempDirectory("postart").toString
    writeDocs(dir, 120, salt = 1)
    val direct = NearDupQueries.shingleDocListsFrom(
      NearDupQueries.shingles(spark, dir))
    assert(rows(NearDupQueries.shingleDocLists(spark, dir)) === rows(direct))
    // warm serve: same result, second read
    assert(rows(NearDupQueries.shingleDocLists(spark, dir)) === rows(direct),
      "warm postings serve changed the result")
  }

  test("q_ngram_jaccard via the artifact finds the planted pairs; staleness rebuilds") {
    val dir = Files.createTempDirectory("postart2").toString
    writeDocs(dir, 108, salt = 2)
    val first = NearDupQueries.ngramJaccard.run(spark, dir)
    val planted = first
      .filter(col("id1") % 9 === 0 && col("id2") === col("id1") + 1)
      .count()
    assert(planted === 12, s"expected all 12 planted near-dup pairs, got $planted")
    assert(rows(NearDupQueries.ngramJaccard.run(spark, dir)) === rows(first),
      "warm artifact serve changed the result")
    writeDocs(dir, 126, salt = 3) // rewrite: new mtime AND length
    val second = rows(NearDupQueries.ngramJaccard.run(spark, dir))
    val clean = Files.createTempDirectory("postart3").toString
    writeDocs(clean, 126, salt = 3)
    assert(rows(NearDupQueries.ngramJaccard.run(spark, clean)) === second,
      "stale postings artifact served after a corpus rewrite")
  }
}
