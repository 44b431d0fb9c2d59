package graft.util

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Tables.parquet]] infers a parquet input's schema once per
  * (session, conf values, dataset stamp): a warm read starts no Spark
  * job while its DataFrame is built, and a rewritten input, another
  * session or a changed inference conf infers again. */
class TablesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** `f`'s value and the number of Spark jobs it started. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"schema-jobs-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "parquet schema inference")
    val a =
      try f
      finally {
        sc.clearJobGroup()
        ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      }
    (a, jobs.get)
  }

  private def tempDir(): String = Files.createTempDirectory("tables").toString

  test("the second Tables.t of a table in one session starts no Spark job") {
    val dir = tempDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    val (first, firstJobs) = jobsDuring(Tables.t(spark, dir, "t"))
    assert(firstJobs >= 1, "the first read infers the schema with a job")
    val (second, secondJobs) = jobsDuring(Tables.t(spark, dir, "t"))
    assert(secondJobs === 0, "the second read reuses the session's schema")
    val inferred = spark.read.parquet(s"$dir/t.parquet")
    assert(second.schema === inferred.schema)
    assert(first.schema === inferred.schema)
    assert(second.orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")))
  }

  test("a table dir overwritten with an added column is inferred again") {
    val dir = tempDir()
    Seq(1L, 2L).toDF("id").write.parquet(s"$dir/t.parquet")
    assert(Tables.t(spark, dir, "t").columns.toSeq === Seq("id"))
    Seq((3L, "c")).toDF("id", "extra").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val (df, jobs) = jobsDuring(Tables.t(spark, dir, "t"))
    assert(jobs >= 1, "a new dataset stamp infers again")
    assert(df.columns.toSeq === Seq("id", "extra"))
    assert(df.as[(Long, String)].collect().toSeq === Seq((3L, "c")))
  }

  test("a single-file table rewritten to a new length at the same mtime is inferred again") {
    val dir = tempDir()
    def partFile(df: DataFrame): java.nio.file.Path = {
      val out = tempDir()
      df.coalesce(1).write.mode("overwrite").parquet(out)
      new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head.toPath
    }
    val table = new java.io.File(s"$dir/t.parquet").toPath
    val mtime = 1700000000000L
    Files.copy(partFile(Seq(1L).toDF("id")), table)
    table.toFile.setLastModified(mtime)
    assert(Tables.t(spark, dir, "t").columns.toSeq === Seq("id"))
    Files.copy(partFile(Seq((2L, 2.5)).toDF("id", "score")), table,
      StandardCopyOption.REPLACE_EXISTING)
    table.toFile.setLastModified(mtime)
    val df = Tables.t(spark, dir, "t")
    assert(df.columns.toSeq === Seq("id", "score"))
    assert(df.as[(Long, Double)].collect().toSeq === Seq((2L, 2.5)))
  }

  test("a new session infers on its own, never served the first session's schema") {
    val dir = tempDir()
    Seq(1L).toDF("id").write.parquet(s"$dir/t.parquet")
    Tables.t(spark, dir, "t")
    val other: SparkSession = spark.newSession()
    val (_, otherJobs) = jobsDuring(Tables.t(other, dir, "t"))
    assert(otherJobs >= 1, "the new session infers for itself")
    val (_, againJobs) = jobsDuring(Tables.t(other, dir, "t"))
    assert(againJobs === 0, "then reuses its own entry")
    val (_, firstJobs) = jobsDuring(Tables.t(spark, dir, "t"))
    assert(firstJobs === 0, "the first session keeps its entry")
  }

  test("changing an inference conf in the session infers again") {
    val dir = tempDir()
    val path = s"$dir/t.parquet"
    Seq(1L).toDF("id").write.parquet(s"$path/a")
    Seq((2L, "x")).toDF("id", "extra").write.parquet(s"$path/b")
    // one dir holding both column sets, as flat part-files
    Seq("a", "b").foreach { sub =>
      new java.io.File(s"$path/$sub").listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, new java.io.File(s"$path/$sub-${f.getName}").toPath))
      ArtifactCache.deleteRecursively(new java.io.File(s"$path/$sub"))
    }
    Tables.t(spark, dir, "t")
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    val (merged, mergedJobs) =
      try jobsDuring(Tables.t(spark, dir, "t"))
      finally spark.conf.unset(key)
    assert(mergedJobs >= 1, "a changed conf infers again")
    assert(merged.columns.toSet === Set("id", "extra"))
    val (_, backJobs) = jobsDuring(Tables.t(spark, dir, "t"))
    assert(backJobs === 0, "the entry for the original conf values is kept")
  }

  test("a missing table fails loudly, naming its path") {
    val dir = tempDir()
    val e = intercept[IllegalArgumentException](Tables.t(spark, dir, "absent"))
    assert(e.getMessage.contains(s"parquet-schema artifact: input $dir/absent.parquet does not exist"))
  }
}
