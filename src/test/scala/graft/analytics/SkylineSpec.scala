package graft.analytics

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Adversarial fixtures for the two-phase skyline: exact duplicates
  * (mutually non-dominating — both survive), a fully anti-correlated
  * set (EVERYONE is on the frontier — the worst case for the
  * skyline-of-skylines reduction), and a dominated chain (only the
  * corner survives). Each case is compared against the O(n²)
  * dominance definition evaluated in plain Scala.
  */
class SkylineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Write a tiny `part` table with given (key, price, size). */
  private def partDir(rows: Seq[(Long, Double, Int)]): String = {
    val dir = Files.createTempDirectory("skyparts").toString
    rows.map { case (k, price, size) =>
      (k, s"part$k", "B", "T", size, price)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    dir
  }

  private def brute(rows: Seq[(Long, Double, Int)]): Set[Long] =
    rows.filterNot { case (_, xq, sq) =>
      val yq = -sq.toDouble
      rows.exists { case (_, xp, sp) =>
        val yp = -sp.toDouble
        xp <= xq && yp <= yq && (xp < xq || yp < yq)
      }
    }.map(_._1).toSet

  private def run(rows: Seq[(Long, Double, Int)]): Set[Long] =
    WindowQueries.skyline.run(spark, partDir(rows))
      .select("p_partkey").as[Long].collect().toSet

  test("exact duplicates are mutually non-dominating — both survive") {
    val rows = Seq((1L, 10.0, 5), (2L, 10.0, 5), (3L, 20.0, 4))
    assert(run(rows) === brute(rows))
    assert(run(rows) === Set(1L, 2L))
  }

  test("anti-correlated set: every point is on the frontier") {
    // price and size RISE together → no point is both cheaper and
    // bigger than another; all 40 survive (worst case for the
    // skyline-of-skylines reduction: local frontiers don't shrink)
    val rows = (1L to 40L).map(i => (i, i * 10.0, i.toInt))
    assert(run(rows) === rows.map(_._1).toSet)
  }

  test("dominated chain collapses to the single corner point") {
    val rows = (1L to 20L).map(i => (i, i * 10.0, 50 - i.toInt)) :+
      (99L, 5.0, 99) // cheaper AND bigger than everything
    assert(run(rows) === Set(99L))
  }

  test("random fixture matches the quadratic definition") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 200L).map(i =>
      (i, (rnd.nextInt(500) + 1).toDouble, rnd.nextInt(50) + 1))
    assert(run(rows) === brute(rows))
  }
}
