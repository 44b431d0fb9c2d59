package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The top-k optimizer rule: always on, excluding it through Spark's
  * `spark.sql.optimizer.excludedRules` restores the WindowGroupLimit
  * plan, fires only on the narrow row_number-filter shape, and never
  * changes results — including under a degradation cap small enough to
  * force pass-through. */
class TopKRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def topkDf = graft.SparkEntry.queries("q_topk")(spark, dir)

  private def withoutRewrite[A](f: => A): A = {
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.TopKRewrite")
    try f finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("on by default: q_topk routes through the heap pair; opt-out restores WindowGroupLimit") {
    val plan = topkDf.queryExecution.executedPlan.toString
    assert("TopKPerKey \\[".r.findAllIn(plan).size === 2,
      s"expected the partial/final heap pair under the window:\n$plan")
    withoutRewrite {
      val off = topkDf.queryExecution.executedPlan.toString
      assert(!off.contains("TopKPerKey"), off)
      assert(off.contains("WindowGroupLimit"), off)
    }
  }

  test("the heap route and the window-only plan produce identical results") {
    val base = withoutRewrite(topkDf.collect().toSeq)
    val df = topkDf
    val plan = df.queryExecution.executedPlan.toString
    assert("TopKPerKey \\[".r.findAllIn(plan).size === 2,
      s"expected the partial/final heap pair under the window:\n$plan")
    assert(df.collect().toSeq === base,
      "rewrite changed the query result")
  }

  test("degradation cap: pass-through past the retained-rows bound keeps results exact") {
    val base = withoutRewrite(topkDf.collect().toSeq)
    // cap of 2 retained rows forces pass-through for almost every key:
    // the heaps reduce nearly nothing and the retained Window + Filter
    // must still produce the exact answer
    spark.conf.set("spark.graft.topk.partialCapRows", "2")
    try {
      assert(topkDf.collect().toSeq === base,
        "capped (degraded) heap stages changed the query result")
    } finally spark.conf.unset("spark.graft.topk.partialCapRows")
  }

  test("maxK guard: a k above 100 stays on the window path") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val big = cust.withColumn("rn", row_number().over(w)).filter(col("rn") <= 101)
    assert(!big.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "k=101 must not rewrite")
    val atMax = cust.withColumn("rn", row_number().over(w)).filter(col("rn") <= 100)
    assert(atMax.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "k=100 must still rewrite")
  }

  test("narrowness: rank() windows and composite predicates are left alone") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val ranked = cust
      .withColumn("rk", rank().over(w)).filter(col("rk") <= 5)
    assert(!ranked.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "rank() must not be rewritten (tie semantics differ from a row cap)")
    val composite = cust
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5 && col("c_acctbal") > 0)
    assert(!composite.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "composite predicates are outside the narrow shape")
  }
}
