package graft.similarity

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The persisted-signature-index lifecycle around q_dedup_incremental:
  * the streaming projection path must produce the SAME signatures as
  * the batch aggregation path, the bucketed index must be maintainable
  * by APPEND (tomorrow's batch signs itself once and lands next to the
  * corpus — no recompute), and the streaming twin must flag duplicates
  * against the index with zero streaming state.
  */
class IncrementalIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("bandProjection (pure HOF projection) == batch explode/groupBy signatures") {
    // Two deliberately different dataflows — per-row array mins vs
    // explode + 8-column min aggregation — must produce the identical
    // (doc_id, band, sig) set, or the streaming path would dedup
    // against signatures the index never contains. DF cap disabled on
    // the batch side: the projection path declares no-cap semantics.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val batch = NearDupQueries.bandsOf(
      NearDupQueries.minhashFrameFrom(
        NearDupQueries.shinglesOf(docs, Int.MaxValue)))
      .as[(Long, Int, String)].collect().toSet
    val proj = DedupIndex.bandProjection(docs)
      .as[(Long, Int, String)].collect().toSet
    assert(proj === batch, "projection and aggregation signatures diverged")
  }

  test("index maintenance is APPEND-ONLY: corpus table + batch append == full re-sign") {
    val cutoff = 400L
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def sigs(d: org.apache.spark.sql.DataFrame) =
      DedupIndex.bandProjection(d)
    val tbl = s"graft_idx_append_test_${java.lang.Long.toHexString(System.nanoTime())}"
    val path = s"${sys.props("java.io.tmpdir")}/graft_sig_idx/$tbl"
    def writeBucketed(d: org.apache.spark.sql.DataFrame, mode: String): Unit =
      d.repartition(8, col("band"), col("sig"))
        .write.mode(mode)
        .option("path", path)
        .bucketBy(8, "band", "sig").sortBy("band", "sig")
        .saveAsTable(tbl)
    try {
      writeBucketed(sigs(docs.filter(col("doc_id") < cutoff)), "overwrite")
      // tomorrow's batch: sign once, APPEND — the corpus is never touched
      writeBucketed(sigs(docs.filter(col("doc_id") >= cutoff)), "append")
      val appended = spark.table(tbl)
        .as[(Long, Int, String)].collect().toSet
      val full = sigs(docs).as[(Long, Int, String)].collect().toSet
      assert(appended === full, "appended index diverged from a full re-sign")
      // the appended table still reads through its buckets
      val plan = spark.table(tbl).groupBy(col("band"), col("sig")).count()
        .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      assert(plan.contains("SelectedBucketsCount"),
        s"append lost the bucketed layout\n$plan")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("persisted batch signatures: read == recompute, warm serve stable, rewrite rebuilds (r19)") {
    // The r19 artifact behind incrementalPairs' batch side: the table
    // read must be bit-identical to the build pipeline
    // (newBatchSignatures), stable across warm serves, and a corpus
    // rewrite (new mtime AND length) must rebuild it — a stale batch
    // signature table would dedup tomorrow's batch against yesterday's
    // text.
    def write(dir: String, n: Int, salt: Int): Unit =
      (0 until n).map { i =>
        val id = 350L + i // spans the 400 cutoff: both sides non-empty
        (id, s"doc s$salt word${i % 7} tail$i end${(i * 31 + salt) % 97}",
          "xx", "src", 10L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(2)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val dir = Files.createTempDirectory("bsigart").toString
    write(dir, 120, salt = 1)
    val direct = DedupIndex.newBatchSignatures(spark, dir)
      .as[(Long, Int, String)].collect().toSet
    assert(direct.nonEmpty && direct.forall(_._1 >= 400L))
    val art = DedupIndex.batchSignatures(spark, dir)
      .as[(Long, Int, String)].collect().toSet
    assert(art === direct, "batch-signature artifact diverged from the build pipeline")
    assert(DedupIndex.batchSignatures(spark, dir)
      .as[(Long, Int, String)].collect().toSet === art,
      "warm batch-signature serve changed the result")
    write(dir, 136, salt = 2) // rewrite: new mtime AND length
    val second = DedupIndex.batchSignatures(spark, dir)
      .as[(Long, Int, String)].collect().toSet
    val clean = Files.createTempDirectory("bsigart2").toString
    write(clean, 136, salt = 2)
    assert(DedupIndex.batchSignatures(spark, clean)
      .as[(Long, Int, String)].collect().toSet === second,
      "stale batch-signature artifact served after a corpus rewrite")
  }

  test("index lifecycle: tombstone delete + append + compact == full re-sign") {
    // Production sequence: build corpus index -> docs {10,20,30} leave
    // the corpus (tombstones) -> tomorrow's batch appends -> compaction
    // folds the tombstones into a new generation. At every step the
    // LIVE view must equal a full re-sign of the surviving corpus, and
    // the compacted generation must carry the identical bucketed layout
    // (else the zero-exchange candidate join dies with the old gen).
    val cutoff = 400L
    val deleted = Set(10L, 20L, 30L)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def sigs(d: org.apache.spark.sql.DataFrame) =
      DedupIndex.bandProjection(d)
    val gen1 = s"graft_idx_lifecycle_${java.lang.Long.toHexString(System.nanoTime())}"
    val gen2 = gen1 + "_c"
    val root = s"${sys.props("java.io.tmpdir")}/graft_sig_idx"
    def writeBucketed(d: org.apache.spark.sql.DataFrame, mode: String): Unit =
      d.repartition(8, col("band"), col("sig"))
        .write.mode(mode)
        .option("path", s"$root/$gen1")
        .bucketBy(8, "band", "sig").sortBy("band", "sig")
        .saveAsTable(gen1)
    val tombstones = deleted.toSeq.toDF("doc_id")
    try {
      writeBucketed(sigs(docs.filter(col("doc_id") < cutoff)), "overwrite")
      writeBucketed(sigs(docs.filter(col("doc_id") >= cutoff)), "append")
      val surviving = sigs(docs.filter(!col("doc_id").isin(deleted.toSeq: _*)))
        .as[(Long, Int, String)].collect().toSet
      // 1) live view between compactions: table + tombstone overlay
      val live = DedupIndex
        .indexWithoutTombstones(spark.table(gen1), tombstones)
        .as[(Long, Int, String)].collect().toSet
      assert(live === surviving,
        "tombstone overlay diverged from a full re-sign of the surviving corpus")
      assert(deleted.forall(d => !live.exists(_._1 == d)),
        "a deleted doc survived in the live view")
      // 2) compaction folds tombstones into a new generation...
      DedupIndex.compactIndex(
        spark, gen1, gen2, s"$root/$gen2", tombstones, buckets = 8)
      val compacted = spark.table(gen2).as[(Long, Int, String)].collect().toSet
      assert(compacted === surviving,
        "compacted generation diverged from a full re-sign")
      // ...with the bucketed layout intact (one sorted file per bucket
      // -> the bucket-pruned scan survives)
      val plan = spark.table(gen2).groupBy(col("band"), col("sig")).count()
        .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      assert(plan.contains("SelectedBucketsCount"),
        s"compaction lost the bucketed layout\n$plan")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $gen1")
      spark.sql(s"DROP TABLE IF EXISTS $gen2")
    }
  }

  test("candidate join through the tombstone overlay: index side still has no exchange and no sort") {
    // The r08 zero-exchange contract must survive deletion: the
    // tombstone anti-join is an EXPLICIT broadcast, so the index keeps
    // its bucket partitioning AND its (band, sig) sort order through
    // the overlay — the sort-merge candidate join then needs neither an
    // Exchange nor a Sort on that side. Broadcast auto-threshold is
    // disabled so only the hint can broadcast and the candidate join
    // shows its at-scale sort-merge form.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val tbl = s"graft_idx_tomb_plan_${java.lang.Long.toHexString(System.nanoTime())}"
    val root = s"${sys.props("java.io.tmpdir")}/graft_sig_idx"
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      DedupIndex.bandProjection(docs.filter(col("doc_id") < 400))
        .repartition(8, col("band"), col("sig"))
        .write.mode("overwrite").option("path", s"$root/$tbl")
        .bucketBy(8, "band", "sig").sortBy("band", "sig").saveAsTable(tbl)
      val live = DedupIndex.indexWithoutTombstones(
        spark.table(tbl), Seq(10L, 20L).toDF("doc_id"))
      val newSigs = DedupIndex
        .newBatchSignatures(spark, sfDir).localCheckpoint(true)
      val lines = DedupIndex.incrementalCandidates(live, newSigs)
        .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
        .linesIterator.toVector
      val plan = lines.mkString("\n")
      assert(plan.contains("SelectedBucketsCount"),
        s"index scan lost its bucketing under the overlay\n$plan")
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        s"tombstone overlay must be a broadcast anti-join\n$plan")
      // exactly ONE band-key exchange (the new batch's) and, on the
      // index-side subtree (scan -> anti-join), no Exchange or Sort at all
      def op(l: String) = l.dropWhile(c => "+-:| ".contains(c))
      assert(lines.count(op(_).startsWith("Exchange hashpartitioning(band")) == 1,
        s"only the new-batch side may shuffle on the band key\n$plan")
      val scanIdx = lines.indexWhere(l =>
        l.contains("FileScan") && l.contains(tbl))
      val antiIdx = lines.lastIndexWhere(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftAnti"), scanIdx)
      assert(scanIdx >= 0 && antiIdx >= 0 && antiIdx < scanIdx,
        s"expected anti-join above the index scan\n$plan")
      val between = lines.slice(antiIdx, scanIdx).map(op)
      assert(!between.exists(l => l.startsWith("Exchange ") || l.startsWith("Sort ")),
        s"index side gained an Exchange/Sort through the overlay\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("incrementalLabels: a new pair merges two existing components (planted)") {
    // Prior state: components {1,2} (label 1), {10,11} (label 10), the
    // untouched singleton {50}. Batch doc 100 pairs with BOTH 2 and 11
    // — the two-cluster merge no per-pair fix-up handles — and batch
    // doc 200 is novel. Every member of both merged components must
    // take the global min label 1; 50 and 200 stay themselves.
    val prior = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L), (50L, 50L))
      .toDF("n", "lbl")
    val newNodes = Seq(100L, 200L).toDF("doc_id")
    val newPairs = Seq((2L, 100L), (11L, 100L)).toDF("id1", "id2")
    val out = NearDupQueries.incrementalLabels(prior, newNodes, newPairs)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(
      1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 100L -> 1L,
      50L -> 50L, 200L -> 200L))
    // ...and it is exactly what batch labelComponents computes over
    // the union of prior and new pairs.
    val batch = NearDupQueries.labelComponents(
      Seq(1L, 2L, 10L, 11L, 50L, 100L, 200L).toDF("n"),
      Seq((1L, 2L), (10L, 11L), (2L, 100L), (11L, 100L)).toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(out === batch, "incremental maintenance diverged from batch relabeling")
  }

  test("incrementalLabels == batch labelComponents over the real pair union (sf0.001)") {
    // Same assertion on the real corpus: prior labels converge over
    // corpus-internal candidate pairs, the arriving batch's pairs come
    // off the index path, and the incrementally maintained labels must
    // equal one batch labelComponents run over the UNION — for every
    // document, including batch docs that bridge existing clusters.
    val cutoff = DedupIndex.IncrementalCutoff
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def pairsOf(d: org.apache.spark.sql.DataFrame) = {
      val bands = NearDupQueries.bandsOf(
        NearDupQueries.minhashFrameFrom(
          NearDupQueries.shinglesOf(d, NearDupQueries.MaxShingleDf)))
      bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2")).distinct()
    }
    val corpusPairs = pairsOf(docs.filter(col("doc_id") < cutoff))
    val prior = NearDupQueries.labelComponents(
      docs.filter(col("doc_id") < cutoff).select(col("doc_id")), corpusPairs)
    val incPairs = DedupIndex.incrementalPairs(spark, sfDir)
      .select(col("id1"), col("id2"))
    val inc = NearDupQueries.incrementalLabels(
        prior, docs.filter(col("doc_id") >= cutoff).select(col("doc_id")), incPairs)
      .as[(Long, Long)].collect().toMap
    val batch = NearDupQueries.labelComponents(
        docs.select(col("doc_id")),
        corpusPairs.union(incPairs).toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(inc === batch,
      "incremental maintenance diverged from batch labeling on the real corpus")
  }

  test("q_dedup_funnel: a viral exact-dup cluster collapses BEFORE candidate generation") {
    // 200 byte-identical copies of one text would make C(200,2)=19,900
    // REAL candidate pairs in any banded near-dup pass — no cap may
    // drop them, so the funnel must collapse them to ONE representative
    // first. Planted: 200 copies + 2 near-dup (not exact) texts.
    val viral = (0L until 200L).map(i =>
      (i, "the same viral boilerplate text repeated verbatim everywhere"))
    val near = Seq(
      (500L, "a quite distinct document about entirely other things one two three"),
      (501L, "a quite distinct document about entirely other things one two four"))
    val dir = Files.createTempDirectory("funnel").toString
    (viral ++ near).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = NearDupQueries.dedupFunnel.run(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // the viral cluster contributes ZERO pairs (one representative),
    // and the near-dup pair survives with multiplicities 1/1
    assert(rows.forall { case (id1, id2, _, _, _) => id1 >= 500L && id2 >= 500L },
      s"viral representatives must not pair with themselves: $rows")
    assert(rows.exists { case (id1, id2, _, m1, m2) =>
      id1 == 500L && id2 == 501L && m1 == 1L && m2 == 1L },
      s"the near-dup pair must survive the funnel: $rows")
    // and the representative census is visible: mult of doc 0 == 200
    val reps = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy(md5(col("text"))).agg(min("doc_id"), count(lit(1)))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(reps(0L) === 200L)
  }

  test("streaming dedup against the index: duplicates flagged, novel docs pass, zero state") {
    // Tiny corpus -> index; stream one exact duplicate and one novel
    // doc; the dup must collide with its corpus twin in all 4 bands,
    // the novel doc in none.
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val idx = DedupIndex.bandProjection(corpus).localCheckpoint(true)
    val inDir = Files.createTempDirectory("idx_dedup_in").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(inDir, "b1.json"),
      Seq(
        """{"doc_id":100,"text":"alpha beta gamma delta epsilon zeta"}""",
        """{"doc_id":101,"text":"completely different words entirely here now"}"""
      ).mkString("\n").getBytes)
    val q = graft.streaming.IndexDedupStream.matches(spark, inDir, idx)
      .writeStream.format("memory").queryName("idx_dedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, corpus_id, band FROM idx_dedup")
        .as[(Long, Long, Int)].collect().sorted.toSeq
      assert(rows === (0 until 4).map(b => (100L, 1L, b)),
        "the exact duplicate must collide with doc 1 in all 4 bands and " +
          "the novel doc in none")
      // stateless by construction: no aggregation, no watermark
      assert(q.lastProgress == null ||
        Option(q.lastProgress.stateOperators).forall(_.isEmpty),
        "index dedup stream must keep no streaming state")
    } finally q.stop()
  }
}
