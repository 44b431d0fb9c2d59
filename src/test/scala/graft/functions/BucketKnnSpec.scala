package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Equivalence of the grouped bucket expressions (r15) against the
  * join+window formulations they replaced — on RANDOM buckets, row
  * for row, unrounded doubles compared exactly (the expressions claim
  * bit-identity, so approximate comparison would mask a real drift).
  */
class BucketKnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Random bucketed members: a few buckets of mixed sizes (including
    * a singleton and an empty-result shape), deterministic seed. */
  private lazy val members = {
    val rnd = new scala.util.Random(7)
    val rows = for {
      (bucket, sz) <- Seq(0 -> 9, 1 -> 1, 2 -> 17, 3 -> 2, 4 -> 5)
      _ <- 0 until sz
    } yield {
      val v = Array.fill(16)(rnd.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      (bucket, rnd.nextInt(1000000).toLong * 10 + bucket, v.toSeq, nrm)
    }
    // distinct ids guaranteed by construction salt (id % 10 == bucket)
    rows.toDF("bucket", "vec_id", "v", "nrm").localCheckpoint(true)
  }

  test("graft_bucket_knn == bucket self-join + row_number window, bit for bit") {
    val grouped = members.groupBy(col("bucket"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("nrm"))).as("ms"))
      .select(explode(call_function("graft_bucket_knn", col("ms"), lit(3))).as("e"))
      .select(col("e.vec_id"), col("e.nbr_id"), col("e.sim"),
        col("e.rn").cast(LongType).as("rn"))
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))

    val nbrs = members.select(col("bucket"), col("vec_id").as("nbr_id"),
      col("v").as("nv"), col("nrm").as("nnrm"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("nbr_id"))
    val joined = members.join(nbrs, Seq("bucket"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("sim", expr("graft_dot(v, nv)") / (col("nrm") * col("nnrm")))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("vec_id"), col("nbr_id"), col("sim"), col("rn"))
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))

    assert(grouped.length === joined.length)
    grouped.zip(joined).foreach { case (g, j) =>
      assert(g === j, s"grouped $g != joined $j") // sim compared EXACTLY
    }
  }

  test("graft_bucket_pairs == bucket self-join + threshold filter, bit for bit") {
    val thr = 0.1
    val grouped = members.groupBy(col("bucket"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("nrm"))).as("ms"))
      .select(explode(call_function("graft_bucket_pairs", col("ms"), lit(thr))).as("e"))
      .select(col("e.id1"), col("e.id2"), col("e.sim"))
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))

    val right = members.select(col("bucket"), col("vec_id").as("id2"),
      col("v").as("v2"), col("nrm").as("n2"))
    val joined = members.join(right, Seq("bucket"))
      .filter(col("vec_id") < col("id2"))
      .withColumn("sim", expr("graft_dot(v, v2)") / (col("nrm") * col("n2")))
      .filter(col("sim") >= thr)
      .select(col("vec_id").as("id1"), col("id2"), col("sim"))
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))

    assert(grouped.length === joined.length)
    assert(grouped.nonEmpty, "fixture must produce above-threshold pairs")
    grouped.zip(joined).foreach { case (g, j) =>
      assert(g === j, s"grouped $g != joined $j")
    }
  }

  /** r15 advice, calibrated to the session's ANSI mode: a ZERO-norm
    * member makes the join form throw DIVIDE_BY_ZERO — the grouped
    * expressions must fail the same way, never silently rank NaN. NaN
    * INPUT components, though, divide without an ANSI error and yield
    * NaN sims, which Spark's total order puts FIRST under `sim DESC`
    * (NaN is greatest) and which PASS a `>=` threshold — where a
    * primitive `>`/`>=` would sink/drop them. Tuples are compared via
    * doubleToLongBits (NaN != NaN under ==). */
  private def bitEq(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  test("zero-norm member: both grouped expressions throw like the join form's ANSI division") {
    val rnd = new scala.util.Random(13)
    val rows = (0 until 4).map { i =>
      val v = if (i == 1) Array.fill(8)(0.0)
              else Array.fill(8)(rnd.nextGaussian())
      (0, i.toLong, v.toSeq, math.sqrt(v.map(x => x * x).sum))
    }
    val mem = rows.toDF("bucket", "vec_id", "v", "nrm").localCheckpoint(true)
    val ms = mem.groupBy(col("bucket"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("nrm"))).as("ms"))
    Seq(
      expr("graft_bucket_knn(ms, 3)"),
      expr("graft_bucket_pairs(ms, 0.5d)")
    ).foreach { e =>
      val ex = intercept[Exception] {
        ms.select(explode(e)).collect()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(c => c.isInstanceOf[ArithmeticException] &&
        c.getMessage.contains("zero-norm member")),
        s"expected the loud zero-norm ArithmeticException, got $ex")
    }
  }

  test("NaN input components: NaN sims rank exactly like the join+window and join+filter forms") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 6).map { i =>
      val v = if (i == 2) Array.fill(8)(Double.NaN)
              else Array.fill(8)(rnd.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      (0, i.toLong, v.toSeq, nrm)
    }
    val mem = rows.toDF("bucket", "vec_id", "v", "nrm").localCheckpoint(true)

    val grouped = mem.groupBy(col("bucket"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("nrm"))).as("ms"))
      .select(explode(call_function("graft_bucket_knn", col("ms"), lit(3))).as("e"))
      .select(col("e.vec_id"), col("e.nbr_id"), col("e.sim"),
        col("e.rn").cast(LongType).as("rn"))
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    val nbrs = mem.select(col("bucket"), col("vec_id").as("nbr_id"),
      col("v").as("nv"), col("nrm").as("nnrm"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("nbr_id"))
    val joined = mem.join(nbrs, Seq("bucket"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("sim", expr("graft_dot(v, nv)") / (col("nrm") * col("nnrm")))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("vec_id"), col("nbr_id"), col("sim"), col("rn"))
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    assert(grouped.length === joined.length)
    assert(joined.exists(_._3.isNaN), "fixture must surface NaN sims")
    // every normal member's rank-1 neighbor is the zero vector (NaN first)
    grouped.filter(r => r._1 != 2L && r._4 == 1L)
      .foreach(r => assert(r._2 === 2L && r._3.isNaN,
        s"NaN must rank first under sim DESC, got $r"))
    grouped.zip(joined).foreach { case (g, j) =>
      assert(g._1 === j._1 && g._2 === j._2 && g._4 === j._4 &&
        bitEq(g._3, j._3), s"grouped $g != joined $j")
    }

    val thr = 0.5
    val gp = mem.groupBy(col("bucket"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("nrm"))).as("ms"))
      .select(explode(call_function("graft_bucket_pairs", col("ms"), lit(thr))).as("e"))
      .select(col("e.id1"), col("e.id2"), col("e.sim"))
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val right = mem.select(col("bucket"), col("vec_id").as("id2"),
      col("v").as("v2"), col("nrm").as("n2"))
    val jp = mem.join(right, Seq("bucket"))
      .filter(col("vec_id") < col("id2"))
      .withColumn("sim", expr("graft_dot(v, v2)") / (col("nrm") * col("n2")))
      .filter(col("sim") >= thr)
      .select(col("vec_id").as("id1"), col("id2"), col("sim"))
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(gp.length === jp.length,
      s"NaN pairs must pass the threshold exactly like Spark's >= " +
        s"(NaN is greatest): grouped ${gp.length} vs joined ${jp.length}")
    assert(gp.exists(_._3.isNaN), "threshold must pass the NaN pairs")
    gp.zip(jp).foreach { case (g, j) =>
      assert(g._1 === j._1 && g._2 === j._2 && bitEq(g._3, j._3),
        s"grouped $g != joined $j")
    }
  }
}
