package graft.util

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Write-side scale hygiene: the two defaults that silently wreck a
  * 100 TB table — the small-files explosion (every task writes into
  * every output partition) and never-coalesced shuffle partitions.
  */
class WriteHygieneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def parquetFiles(dir: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
  }

  test("repartition by the partition column bounds files to one per partition") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("d", to_date(col("ts")))
    val naive = Files.createTempDirectory("files_naive").toString
    val sized = Files.createTempDirectory("files_sized").toString
    // naive: whatever task layout the upstream had → every task can
    // open a writer in every date directory
    ev.repartition(16).write.partitionBy("d").mode("overwrite").parquet(naive)
    // hygiene: co-locate each output partition's rows first → exactly
    // one writer (and one file) per date
    ev.repartition(col("d")).write.partitionBy("d").mode("overwrite").parquet(sized)
    val days = ev.select(col("d")).distinct().count().toInt
    val n = parquetFiles(naive)
    val s = parquetFiles(sized)
    assert(s == days, s"expected one file per day ($days), got $s")
    assert(n >= 4 * s,
      s"naive layout should explode the file count (naive=$n sized=$s)")
  }

  test("AQE coalesces the 32 configured shuffle partitions for tiny aggregates") {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
      s"AQE did not coalesce the post-shuffle partitions:\n$plan")
  }

  test("Compaction: fewer files per leaf, identical rows, idempotent second run") {
    import spark.implicits._
    val root = Files.createTempDirectory("compact").toString + "/t"
    // a hive-partitioned table accreted in 6 appends of 8 files each:
    // 48 tiny files per partition value - the streaming-sink shape
    val rows = (0 until 600).map(i => (i.toLong, i % 3, s"v$i"))
    (0 until 6).foreach { _ =>
      rows.toDF("id", "p", "v").repartition(8)
        .write.mode("append").partitionBy("p").parquet(root)
    }
    def files(dir: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    }
    def snapshot(): (Set[(Long, Int, String)], Long) = {
      val df = spark.read.parquet(root).select(col("id"), col("p"), col("v"))
      (df.as[(Long, Int, String)].collect().toSet,
       df.agg(sum(col("id"))).as[Long].head())
    }
    val before = snapshot()
    val nBefore = files(root)
    assert(nBefore >= 100, s"fixture should start fragmented, got $nBefore files")

    val report = graft.pipeline.Compaction.compact(spark, root,
      targetBytes = 1L << 30) // far above leaf size -> 1 file per leaf
    assert(report.compacted.nonEmpty, "no leaf was compacted")
    val nAfter = files(root)
    assert(nAfter < nBefore,
      s"compaction did not reduce file count ($nBefore -> $nAfter)")
    assert(nAfter === 3, s"expected one file per partition leaf, got $nAfter")
    assert(report.filesAfter === 3 && report.filesBefore === nBefore,
      s"report disagrees with the filesystem: $report")
    assert(snapshot() === before,
      "compaction changed query results")

    // second run: every leaf already at target -> zero rewrites
    val again = graft.pipeline.Compaction.compact(spark, root, 1L << 30)
    assert(again.compacted.isEmpty,
      s"second compaction rewrote already-compact leaves: ${again.compacted}")
    assert(snapshot() === before)
  }

  test("Compaction skips a leaf a concurrent writer touched (watermark/data survive)") {
    import spark.implicits._
    // ADVICE r12: a maintenance-stream batch landing between the leaf
    // read and the promote (new b<id>- data file + advanced _last_batch
    // watermark) must NOT be renamed away / rolled back — the guard
    // re-fingerprints the leaf before the swap and abandons the rewrite.
    val root = Files.createTempDirectory("compact_conc").toString + "/t"
    val rows = (0 until 100).map(i => (i.toLong, s"v$i"))
    (0 until 4).foreach { _ =>
      rows.toDF("id", "v").repartition(4)
        .write.mode("append").parquet(root)
    }
    Files.write(java.nio.file.Paths.get(root, "_last_batch"),
      "7".getBytes("UTF-8"))
    val extraRows = Seq((9999L, "late")).toDF("id", "v")
    val rep = graft.pipeline.Compaction.compact(spark, root, 1L << 30, 1,
      beforePromote = { leaf =>
        // the "concurrent" batch: one b<id>-named data file + watermark
        val staged = Files.createTempDirectory("late").toString
        extraRows.coalesce(1).write.mode("overwrite").parquet(staged)
        val part = new java.io.File(staged).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        Files.copy(part.toPath,
          java.nio.file.Paths.get(leaf.stripPrefix("file:"), s"b8-${part.getName}"))
        Files.write(java.nio.file.Paths.get(leaf.stripPrefix("file:"), "_last_batch"),
          "8".getBytes("UTF-8"))
      })
    assert(rep.compacted.isEmpty,
      s"leaf changed under the rewrite but was still swapped: $rep")
    // the late batch's rows and watermark are intact
    assert(spark.read.parquet(root).filter(col("id") === 9999L).count() === 1L)
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_last_batch")), "UTF-8") === "8")
    // with the writer quiescent, the next run compacts normally and
    // carries the advanced watermark through the swap
    val rep2 = graft.pipeline.Compaction.compact(spark, root, 1L << 30)
    assert(rep2.compacted.nonEmpty)
    assert(spark.read.parquet(root).count() === 401L)
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_last_batch")), "UTF-8") === "8")
  }

  test("Compaction waits for every leaf job and runs it in the caller job group") {
    import spark.implicits._
    val root = Files.createTempDirectory("compact_fail").toString + "/t"
    (0 until 4).foreach { _ =>
      (0 until 100).map(i => (i.toLong, i % 2)).toDF("id", "p").repartition(4)
        .write.mode("append").partitionBy("p").parquet(root)
    }
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.setJobGroup("compact-caller", "compaction failure spec")
    val e =
      try intercept[IllegalStateException](
        graft.pipeline.Compaction.compact(spark, root, 1L << 30, 2,
          beforePromote = { leaf =>
            groups.add(spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
            if (leaf.endsWith("p=0")) throw new IllegalStateException("leaf p=0 failed")
            Thread.sleep(2000) // the sibling is still rewriting when p=0 fails
          }))
      finally spark.sparkContext.clearJobGroup()
    assert(e.getMessage === "leaf p=0 failed")
    // the sibling's promote finished before compact threw
    assert(parquetFiles(s"$root/p=1") === 1,
      "compact returned while a sibling leaf was still being rewritten")
    assert(parquetFiles(s"$root/p=0") > 1)
    assert(groups.toArray.toSeq === Seq("compact-caller", "compact-caller"))
    assert(spark.read.parquet(root).count() === 400L)
  }

  test("Compaction staging/aside dirs are hidden from partition discovery; " +
       "a stranded aside with no live leaf is restored") {
    import spark.implicits._
    val root = Files.createTempDirectory("compact_rec").toString + "/t"
    (0 until 90).map(i => (i.toLong, i % 3)).toDF("id", "p")
      .repartition(4).write.partitionBy("p").parquet(root)
    val before = spark.read.parquet(root).as[(Long, Int)].collect().toSet

    // Simulate a crash mid-swap on leaf p=1: the leaf has been renamed
    // to its hidden aside and the staging dir for the new copy is still
    // sitting there. Readers must see neither as a partition.
    val dir = new java.io.File(root)
    val leaf = new java.io.File(dir, "p=1")
    val aside = new java.io.File(dir, ".p=1.__old__")
    val staging = new java.io.File(dir, ".p=1.__staging__")
    java.nio.file.Files.move(leaf.toPath, aside.toPath)
    java.nio.file.Files.createDirectories(staging.toPath)
    val during = spark.read.parquet(root).as[(Long, Int)].collect().toSet
    assert(during === before.filterNot(_._2 == 1),
      "hidden staging/aside dirs leaked into partition discovery")

    // The recovery sweep restores the orphaned leaf before compacting.
    graft.pipeline.Compaction.compact(spark, root, 1L << 30)
    assert(!aside.exists(), "orphaned aside was not consumed by recovery")
    assert(spark.read.parquet(root).as[(Long, Int)].collect().toSet === before,
      "recovery sweep lost or duplicated rows")
  }

  test("Compaction recovers a crashed ROOT promote (unpartitioned table aside)") {
    import spark.implicits._
    val base = Files.createTempDirectory("compact_root").toString
    val root = s"$base/t"
    (0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(4).write.parquet(root)
    val before = spark.read.parquet(root).as[(Long, String)].collect().toSet
    // crash between the aside-rename and the staging swap: the aside
    // sits BESIDE the root (outside any child sweep) and no root exists
    java.nio.file.Files.move(
      java.nio.file.Paths.get(root), java.nio.file.Paths.get(s"$base/.t.__old__"))
    graft.pipeline.Compaction.compact(spark, root, 1L << 30)
    assert(!new java.io.File(s"$base/.t.__old__").exists())
    assert(spark.read.parquet(root).as[(Long, String)].collect().toSet === before,
      "root-aside recovery lost rows")
  }

  test("Compaction: legacy (pre-hidden-naming) asides are recovered, never compacted as data") {
    import spark.implicits._
    val root = Files.createTempDirectory("compact_leg").toString + "/t"
    (0 until 60).map(i => (i.toLong, i % 2)).toDF("id", "p")
      .repartition(3).write.partitionBy("p").parquet(root)
    val before = spark.read.parquet(root).as[(Long, Int)].collect().toSet
    // pre-r12 naming: a visible `p=1.__old__` aside with NO live p=1
    java.nio.file.Files.move(
      java.nio.file.Paths.get(root, "p=1"),
      java.nio.file.Paths.get(root, "p=1.__old__"))
    val rep = graft.pipeline.Compaction.compact(spark, root, 1L << 30)
    assert(!new java.io.File(root, "p=1.__old__").exists(),
      "legacy aside not consumed by recovery")
    assert(spark.read.parquet(root).as[(Long, Int)].collect().toSet === before)
    assert(rep.leaves.forall(l => !l.path.contains("__old__")),
      s"legacy aside listed as a data leaf: $rep")
    // and when the live leaf EXISTS, a stale legacy aside is neither
    // restored over it nor compacted as data
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "p=0.__old__"))
    val rep2 = graft.pipeline.Compaction.compact(spark, root, 1L << 30)
    assert(rep2.leaves.forall(l => !l.path.contains("__old__")))
    assert(spark.read.parquet(root).as[(Long, Int)].collect().toSet === before)
  }

  test("Compaction parallel leaf rewrites: same result, sublinear wall-clock") {
    import spark.implicits._
    def build(): String = {
      val root = Files.createTempDirectory("compact_par").toString + "/t"
      val rows = (0 until 1600).map(i => (i.toLong, i % 8))
      (0 until 4).foreach { _ =>
        rows.toDF("id", "p").repartition(6)
          .write.mode("append").partitionBy("p").parquet(root)
      }
      root
    }
    def timed(par: Int): (Long, String) = {
      val root = build()
      val t0 = System.nanoTime()
      val rep = graft.pipeline.Compaction.compact(spark, root, 1L << 30, parallelism = par)
      assert(rep.compacted.size === 8, s"expected all 8 leaves rewritten: $rep")
      ((System.nanoTime() - t0) / 1000000, root)
    }
    timed(1) // warm codepaths so the comparison isn't JIT-skewed
    val (seqMs, seqRoot) = timed(1)
    val (parMs, parRoot) = timed(4)
    assert(spark.read.parquet(parRoot).as[(Long, Int)].collect().toSet ===
           spark.read.parquet(seqRoot).as[(Long, Int)].collect().toSet)
    // 8 independent one-leaf jobs on 4 threads should overlap most of
    // the per-job latency; the PINNED gate is a deliberately loose 10%
    // so a loaded CI machine cannot flake it — typical local runs land
    // far lower.
    assert(parMs < seqMs * 0.9,
      s"parallel compaction not faster: sequential=${seqMs}ms parallel=${parMs}ms")
  }

  test("Compaction honors targetBytes: a leaf splits into ceil(bytes/target) files") {
    import spark.implicits._
    val root = Files.createTempDirectory("compact_sz").toString + "/t"
    (0 until 4).foreach { _ =>
      (0 until 20000).map(i => (i.toLong, s"payload-$i"))
        .toDF("id", "v").repartition(6)
        .write.mode("append").parquet(root)
    }
    val bytes = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root))
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    val target = bytes / 3 // want ceil(3.x) = 4-ish files, certainly > 1
    val report = graft.pipeline.Compaction.compact(spark, root, target)
    val want = math.max(1, math.ceil(bytes.toDouble / target).toInt)
    // parquet re-encode can shrink the leaf slightly; allow want-1
    val got = report.leaves.map(_.filesAfter).sum
    assert(got === want || got === want - 1,
      s"expected ~$want files at target=$target bytes, got $report")
    assert(got > 1, s"targetBytes was ignored (single output file): $report")
    assert(spark.read.parquet(root).count() === 80000L)
  }
}
