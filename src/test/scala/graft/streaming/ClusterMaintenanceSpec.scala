package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.similarity.{DedupIndex, NearDupQueries}

/** The label-maintenance invariant (r10 verdict #6): streaming N
  * micro-batches through [[ClusterMaintenanceStream]] must leave the
  * persisted label table EQUAL to a one-shot batch relabel of the
  * union corpus — including a batch whose document BRIDGES two
  * previously-separate components (the merge case the contracted-graph
  * re-convergence exists for). */
class ClusterMaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Two long, unrelated sentences (no shared 3-gram shingles) and a
  // BRIDGE text spliced from both (splice point chosen so the bridge
  // band-collides with BOTH parents under the decorrelated r11 hash
  // family — a fixture that was structurally impossible under the old
  // a_k = 2k+1 multipliers, where one tiny hash won every band).
  // Everything is deterministic — the merge assertion below proves the
  // fixture actually exercises the merge path.
  private val wordsA = (0 until 40).map(i => s"alpha$i")
  private val wordsB = (0 until 40).map(i => s"beta$i")
  private val textA = wordsA.mkString(" ")
  private val textB = wordsB.mkString(" ")
  private val bridge = (wordsA.take(14) ++ wordsB.drop(14)).mkString(" ")

  private def sigsOf(docs: DataFrame): DataFrame =
    DedupIndex.bandProjection(docs.select(col("doc_id"), col("text")))

  private def pairsOf(docs: DataFrame): DataFrame = {
    val s = sigsOf(docs).localCheckpoint(true)
    s.as("a")
      .join(s.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  private def labelsOf(docs: DataFrame): Map[Long, Long] =
    NearDupQueries.labelComponents(docs.select(col("doc_id").as("n")),
        pairsOf(docs))
      .as[(Long, Long)].collect().toMap

  test("N micro-batches == one-shot batch relabel, merge case included") {
    val root = Files.createTempDirectory("clustermaint").toString
    val inputDir = s"$root/in"; new java.io.File(inputDir).mkdirs()
    val indexPath = s"$root/index"
    val labelPath = s"$root/labels"

    // prior corpus: two exact-dup pairs -> components {0,2} and {1,3}
    val corpus = Seq(
      (0L, textA), (1L, textB), (2L, textA), (3L, textB)
    ).toDF("doc_id", "text")
    sigsOf(corpus).select(col("doc_id"), col("band"), col("sig"))
      .write.mode("overwrite").parquet(indexPath)
    NearDupQueries.stampFamily(spark, indexPath)
    NearDupQueries.labelComponents(
        corpus.select(col("doc_id").as("n")), pairsOf(corpus))
      .write.mode("overwrite").parquet(labelPath)
    val seedComponents = spark.read.parquet(labelPath)
      .select(col("lbl")).distinct().count()

    // batch 1: another copy of A (extends component 0); batch 2: the
    // BRIDGE doc, near-dup of both A and B -> must MERGE the two
    // components. Written up-front; maxFilesPerTrigger=1 processes
    // them as two sequential micro-batches.
    def writeNdjson(path: String, rows: Seq[(Long, String)]): Unit =
      Files.write(java.nio.file.Paths.get(path),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("", "\n", "\n").getBytes("UTF-8"))
    writeNdjson(s"$inputDir/batch1.json", Seq((10L, textA)))
    writeNdjson(s"$inputDir/batch2.json", Seq((11L, bridge)))

    val q = ClusterMaintenanceStream.start(
      spark, inputDir, indexPath, labelPath, s"$root/ckpt")
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.read.parquet(labelPath)
      .as[(Long, Long)].collect().toMap
    val union = corpus.unionByName(
      Seq((10L, textA), (11L, bridge)).toDF("doc_id", "text"))
    val oneShot = labelsOf(union)

    assert(streamed === oneShot,
      s"streamed labels diverged from the one-shot batch relabel:\n" +
        s"streamed=$streamed\noneShot=$oneShot")
    // the fixture must actually exercise the merge path: the bridge
    // doc collapses the two seed components into one
    val finalComponents = streamed.values.toSet.size
    assert(finalComponents < seedComponents.toInt,
      s"bridge doc did not merge components (seed=$seedComponents, " +
        s"final=$finalComponents) — fixture no longer exercises the merge")
    // and the index kept pace: it now carries signatures for all docs
    val indexed = spark.read.parquet(indexPath)
      .select(col("doc_id")).distinct().as[Long].collect().toSet
    assert(indexed === Set(0L, 1L, 2L, 3L, 10L, 11L),
      s"index append fell behind the label table: $indexed")
  }

  test("maintenance is exact under replay: re-running a batch leaves labels unchanged") {
    // The promote-then-append ordering means a crash between the two
    // replays the batch; re-deriving labels for the same content must
    // be a fixpoint (same input pairs -> same contracted relabel).
    val root = Files.createTempDirectory("clustermaintreplay").toString
    val indexPath = s"$root/index"; val labelPath = s"$root/labels"
    val corpus = Seq((0L, textA), (1L, textB)).toDF("doc_id", "text")
    sigsOf(corpus).select(col("doc_id"), col("band"), col("sig"))
      .write.mode("overwrite").parquet(indexPath)
    NearDupQueries.stampFamily(spark, indexPath)
    NearDupQueries.labelComponents(
        corpus.select(col("doc_id").as("n")), pairsOf(corpus))
      .write.mode("overwrite").parquet(labelPath)

    val batch = Seq((10L, textA)).toDF("doc_id", "text")
    ClusterMaintenanceStream.maintainBatch(spark, batch, indexPath, labelPath)
    val after1 = spark.read.parquet(labelPath).as[(Long, Long)].collect().toMap
    // replay: doc 10 is now ALSO in the prior table; incrementalLabels
    // unions prior with the batch's self-labels, so the relabel must
    // coalesce to the same assignment
    ClusterMaintenanceStream.maintainBatch(spark, batch, indexPath, labelPath)
    val after2 = spark.read.parquet(labelPath)
      .groupBy(col("n")).agg(min(col("lbl")).as("lbl"))
      .as[(Long, Long)].collect().toMap
    assert(after2 === after1, "replaying a batch changed the label assignment")
  }

  test("batch-id replay appends signatures exactly once (index does not accrete)") {
    // A crash after the signature append but before the streaming
    // checkpoint commit replays the batch with the SAME batchId; the
    // batch-scoped append must land the same file set, not a second
    // copy (r11 advice — plain append accreted duplicates unboundedly).
    val root = Files.createTempDirectory("clustermaintbid").toString
    val indexPath = s"$root/index"; val labelPath = s"$root/labels"
    val corpus = Seq((0L, textA), (1L, textB)).toDF("doc_id", "text")
    sigsOf(corpus).select(col("doc_id"), col("band"), col("sig"))
      .write.mode("overwrite").parquet(indexPath)
    NearDupQueries.stampFamily(spark, indexPath)
    NearDupQueries.labelComponents(
        corpus.select(col("doc_id").as("n")), pairsOf(corpus))
      .write.mode("overwrite").parquet(labelPath)

    val batch = Seq((10L, textA)).toDF("doc_id", "text")
    ClusterMaintenanceStream.maintainBatch(spark, batch, indexPath, labelPath, batchId = 0L)
    val rows1 = spark.read.parquet(indexPath).count()
    val sigs1 = spark.read.parquet(indexPath)
      .as[(Long, Int, String)].collect().sorted.toSeq
    // full replay (watermark short-circuit)
    ClusterMaintenanceStream.maintainBatch(spark, batch, indexPath, labelPath, batchId = 0L)
    assert(spark.read.parquet(indexPath).count() === rows1,
      "replayed batch id re-appended signatures")
    // partial replay: simulate a crash AFTER the append but BEFORE the
    // watermark write — delete the watermark, rerun; the batch-scoped
    // rename must replace its own files, not add to them
    new java.io.File(indexPath, "_last_batch").delete()
    ClusterMaintenanceStream.maintainBatch(spark, batch, indexPath, labelPath, batchId = 0L)
    val sigs2 = spark.read.parquet(indexPath)
      .as[(Long, Int, String)].collect().sorted.toSeq
    assert(sigs2 === sigs1, "post-append crash replay duplicated signature rows")
    assert(ClusterMaintenanceStream.lastAppliedBatch(spark, indexPath) === Some(0L))
    // a LATER batch still appends next to the earlier one
    ClusterMaintenanceStream.maintainBatch(
      spark, Seq((11L, textB)).toDF("doc_id", "text"), indexPath, labelPath, batchId = 1L)
    val ids = spark.read.parquet(indexPath)
      .select(col("doc_id")).distinct().as[Long].collect().toSet
    assert(ids === Set(0L, 1L, 10L, 11L))
  }

  test("batch-scoped append is writer-fenced: a second live writer fails loudly (r13 #1)") {
    // Two maintainers on one table interleaving sweep-then-rename for
    // the same batch id would each treat the other's fresh b<id>-*
    // files as crashed leftovers; the lease makes the loser throw at
    // acquire instead.
    val root = Files.createTempDirectory("clustermaintfence").toString
    val dir = s"$root/index"
    val out = Seq((1L, 0, "s")).toDF("doc_id", "band", "sig")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.util.WriterFence.withLease(fs, dir, "test holder") { _ =>
      val ex = intercept[graft.util.WriterFence.ConcurrentWriterException] {
        ClusterMaintenanceStream.appendBatchScoped(spark, out, dir, batchId = 0L)
      }
      assert(ex.getMessage.contains("another writer"),
        s"fence error not diagnostic: ${ex.getMessage}")
    }
    // lease released: the append now proceeds, and the fence left no
    // artifacts a parquet reader would trip on
    ClusterMaintenanceStream.appendBatchScoped(spark, out, dir, batchId = 0L)
    assert(spark.read.parquet(dir).count() === 1L)
  }

  test("a lease stolen MID-append aborts before the destructive sweep (r14 advice)") {
    // The staging parquet write runs INSIDE the lease; a batch slower
    // than the staleness window can have its lease stolen while the
    // write is in flight. Pre-fix, the victim then swept the thief's
    // freshly renamed b<id>-* files as "crashed leftovers" — the
    // silent interleave the commit-point check now converts into a
    // loud abort BEFORE any sweep/rename.
    val root = Files.createTempDirectory("clustermaintsteal").toString
    val dir = s"$root/index"
    ClusterMaintenanceStream.appendBatchScoped(spark,
      Seq((1L, 0, "s")).toDF("doc_id", "band", "sig"), dir, batchId = 0L)
    val before = spark.read.parquet(dir)
      .as[(Long, Int, String)].collect().sorted.toSeq
    // replay batch 0 with DIFFERENT rows, and tamper the lease from
    // inside the staging write itself (a udf side effect — exactly
    // when a real steal lands: while the victim's write is in flight)
    val lockPath = s"$dir/_writer.lock"
    val tamper = udf { (id: Long) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(lockPath),
        "thief-token".getBytes("UTF-8"))
      id
    }
    val replay = Seq((2L, 1, "t")).toDF("doc_id", "band", "sig")
      .select(tamper(col("doc_id")).as("doc_id"), col("band"), col("sig"))
    val ex = intercept[graft.util.WriterFence.ConcurrentWriterException] {
      ClusterMaintenanceStream.appendBatchScoped(spark, replay, dir, batchId = 0L)
    }
    assert(ex.getMessage.contains("aborting before commit"),
      s"mid-transaction steal not caught at the commit point: ${ex.getMessage}")
    // the victim aborted BEFORE sweeping: batch 0's committed files
    // (the thief's state, from its point of view) are untouched
    assert(spark.read.parquet(dir)
        .as[(Long, Int, String)].collect().sorted.toSeq === before,
      "a fenced-out appender still mutated the committed table")
  }

  test("hash-family stamp: a mismatched persisted index fails fast") {
    val root = Files.createTempDirectory("clustermaintfam").toString
    val indexPath = s"$root/index"; val labelPath = s"$root/labels"
    val corpus = Seq((0L, textA)).toDF("doc_id", "text")
    sigsOf(corpus).select(col("doc_id"), col("band"), col("sig"))
      .write.mode("overwrite").parquet(indexPath)
    NearDupQueries.stampFamily(spark, indexPath)
    corpus.select(col("doc_id").as("n"), col("doc_id").as("lbl"))
      .write.mode("overwrite").parquet(labelPath)
    // an index signed by an OLDER family: schema-identical, so only
    // the sidecar stamp can reject it (tamper through the Hadoop fs so
    // its checksum sidecar stays consistent)
    val stampPath = new org.apache.hadoop.fs.Path(indexPath, "_hash_family")
    val hfs = stampPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(stampPath, true)
    try out.write("mh-v1-a2k1".getBytes("UTF-8")) finally out.close()
    val batch = Seq((10L, textA)).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      ClusterMaintenanceStream.maintainBatch(spark, batch, indexPath, labelPath, batchId = 0L)
    }
    assert(e.getMessage.contains("hash family"))
    // an UNSTAMPED index also fails fast — adopting it on read would
    // silently bless a pre-stamp artifact of unknown family (the exact
    // silent-miss the stamp exists to catch); only an explicit
    // writer-side stampFamily (creation or deliberate migration)
    // unlocks consumption
    hfs.delete(stampPath, false)
    val e2 = intercept[IllegalArgumentException] {
      ClusterMaintenanceStream.maintainBatch(spark, batch, indexPath, labelPath, batchId = 0L)
    }
    assert(e2.getMessage.contains("no _hash_family stamp"))
    NearDupQueries.stampFamily(spark, indexPath)
    ClusterMaintenanceStream.maintainBatch(spark, batch, indexPath, labelPath, batchId = 0L)
    ClusterMaintenanceStream.maintainBatch(
      spark, Seq((11L, textB)).toDF("doc_id", "text"), indexPath, labelPath, batchId = 1L)
    assert(spark.read.parquet(indexPath)
      .select(col("doc_id")).distinct().as[Long].collect().toSet ===
      Set(0L, 10L, 11L))
  }
}
