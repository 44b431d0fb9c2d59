package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The NOT IN null trap, both halves: the plan must be null-aware —
  * for a SINGLE nullable key Spark's SPARK-32290 fast path plans a
  * BroadcastHashJoin with isNullAwareAntiJoin=true (not the generic
  * BroadcastNestedLoopJoin fallback, and not a plain hash anti join) —
  * and one actual NULL in the subquery must empty the result, the
  * three-valued-logic semantics a plain anti join gets wrong. */
class SqlNaajSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("q_sql_naaj plans a NULL-AWARE anti join (isNullAwareAntiJoin flag set)") {
    val plan = graft.SparkEntry.queries("q_sql_naaj")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // single-column NAAJ fast path: BroadcastHashJoin ... LeftAnti,
    // BuildRight, true — the trailing flag is isNullAwareAntiJoin
    assert(plan.contains("LeftAnti, BuildRight, true"),
      s"nullable NOT IN key must set isNullAwareAntiJoin:\n$plan")
  }

  test("one NULL in the NOT IN subquery empties the result (three-valued logic)") {
    val dir = java.nio.file.Files.createTempDirectory("naaj").toString
    Seq((1L, "SEG_A"), (2L, "SEG_B"))
      .toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // order with o_totalprice above the CASE threshold -> a NULL key
    Seq((10L, 9L, 2.0e9), (11L, 1L, 100.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = graft.SparkEntry.queries("q_sql_naaj")(spark, dir).collect()
    assert(out.isEmpty,
      "NOT IN over a set containing NULL must drop every probe row " +
        s"(got ${out.mkString(",")})")
  }
}
