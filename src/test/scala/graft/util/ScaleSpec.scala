package graft.util

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("saltedJoin returns exactly the rows of the plain join on a skewed key") {
    // 90% of rows share key 1 (the hot key)
    val skewed = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, s"p$i"))
      .toDF("k", "payload")
    val small = Seq((1L, "one"), (950L, "x"), (999L, "y")).toDF("k", "name")
    val plain = skewed.join(small, "k").select("k", "payload", "name")
      .collect().map(_.toSeq).toSet
    val salted = Scale.saltedJoin(skewed, small, "k", salts = 8)
      .select("k", "payload", "name").collect().map(_.toSeq).toSet
    assert(salted === plain)
    assert(salted.size === 902) // 900 hot + 2 tail matches
  }

  test("salt spreads even when the hot key's rows carry IDENTICAL payloads") {
    // Degenerate skew: every hot row is a byte-identical duplicate — a
    // payload-only hash maps them all to ONE salt (zero spread). The
    // row-id mix must still fan them out over >1 bucket.
    val degenerate = (1 to 1000).map(_ => (1L, "same")).toDF("k", "payload")
    val nSalts = degenerate
      .withColumn("_salt", Scale.saltExpr(degenerate, "k", 8))
      .select("_salt").distinct().count()
    assert(nSalts > 1, s"constant-payload hot key collapsed to $nSalts salt bucket(s)")

    // Key-only schema (no non-key columns) must not throw either.
    val keyOnly = (1 to 100).map(_ => Tuple1(1L)).toDF("k")
    val nSaltsKeyOnly = keyOnly
      .withColumn("_salt", Scale.saltExpr(keyOnly, "k", 8))
      .select("_salt").distinct().count()
    assert(nSaltsKeyOnly > 1)

    // And the join result stays exactly the plain-join result.
    val small = Seq((1L, "one")).toDF("k", "name")
    assert(Scale.saltedJoin(degenerate, small, "k", 8).count() === 1000)
  }

  test("saltedCountSum equals the one-phase aggregate") {
    val df = (1 to 500).map(i => (if (i <= 450) "hot" else s"k$i", i.toDouble))
      .toDF("k", "v")
    val expected = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val got = Scale.saltedCountSum(df, "k", "v", salts = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
  }

  test("joining two same-bucketed tables plans WITHOUT a shuffle exchange") {
    // bucketed scans must not be folded into a broadcast by size
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "va")
      val b = (1 to 1000).map(i => (i.toLong, s"n$i")).toDF("k", "nb")
      Scale.writeBucketed(a, "bucketed_a", "k", buckets = 4)
      Scale.writeBucketed(b, "bucketed_b", "k", buckets = 4)
      val joined = spark.table("bucketed_a").join(spark.table("bucketed_b"), "k")
      assert(!Scale.hasShuffle(joined), "bucketed join must be exchange-free")
      assert(joined.count() === 1000)
      // control: the same join on plain (unbucketed) data DOES shuffle
      val control = a.join(b, "k")
      assert(Scale.hasShuffle(control))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bucketed_a")
      spark.sql("DROP TABLE IF EXISTS bucketed_b")
    }
  }
}
