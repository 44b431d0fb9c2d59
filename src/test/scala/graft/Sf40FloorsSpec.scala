package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The sf40 tier's accuracy floors detect what they claim to, pinned
  * both ways on a mult=1 [[ScaleSmoke.buildCorpus]] corpus like
  * [[DocsFloorsSpec]]: the healthy generator output passes every
  * accuracy floor, and a corpus with its planted structure broken —
  * the five cos ≈ 0.9999 twins destroyed, the events user domain
  * widened past the 50·mult users the KMV floor expects — trips each
  * floor's own message. The timing floors (beam batch, BPE) compare
  * wall-clock and stay out of a unit test.
  */
class Sf40FloorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("healthy sf40 corpus passes every accuracy floor; broken planted structure trips each one") {
    val dir = Files.createTempDirectory("sf40floors").toString + "/ok"
    ScaleSmoke.buildCorpus(spark, 1, Some(dir))
    assert(ScaleSmoke.sf40AccuracyFloors(spark, dir) === Seq.empty)

    val bad = Files.createTempDirectory("sf40floors2").toString + "/bad"
    spark.read.parquet(s"$dir/documents.parquet")
      .write.parquet(s"$bad/documents.parquet")
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("embedding",
        when(col("vec_id") >= n / 2 && col("vec_id") < n / 2 + 5,
          transform(sequence(lit(0), lit(63)),
            d => (pmod(hash(col("vec_id") * 977 + d.cast("long")), lit(2001))
              / lit(1000.0) - lit(1.0)).cast("float")))           // twins gone
          .otherwise(col("embedding")))
      .write.parquet(s"$bad/embeddings.parquet")
    spark.read.parquet(s"$dir/events.parquet")
      .withColumn("user_id",                                      // 100x users
        pmod(hash(col("event_id") * 3 + 11), lit(5000)).cast("long"))
      .write.parquet(s"$bad/events.parquet")

    val errs = ScaleSmoke.sf40AccuracyFloors(spark, bad)
    Seq("knn recall floor", "IVF recall floor", "beam recall floor",
      "PQ-ADC recall floor", "post-CDC beam recall floor", "KMV floor")
      .foreach(floor => assert(errs.exists(_.startsWith(floor)),
        s"the broken corpus must trip the $floor: $errs"))
  }
}
