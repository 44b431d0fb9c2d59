package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension: per-key top-k as a FIRST-CLASS
  * physical operator, directly targetable instead of the
  * `row_number().over(...)` + `filter(rn <= k)` window idiom.
  *
  * Prior art, stated precisely: since SPARK-37099 Spark itself infers
  * a Partial/Final `WindowGroupLimit` pair for the rank-filter idiom,
  * so the WIRE-reduction (≤ keys × k rows crossing the exchange) is
  * matched by the built-in path. What the built-in path still pays is
  * the SORT: each WindowGroupLimit stage first fully sorts its input
  * partition (O(n log n) comparisons, sort buffers, a spill surface)
  * and then walks it. This operator keeps a bounded HEAP per key
  * instead — O(n log k) with k-row state per key, no partition-wide
  * sort, no spill path — and is an explicit logical node, so it works
  * where the inference can't fire (top-k without materializing a rank
  * column, k decided programmatically, order expressions that aren't a
  * window's). The plan shape is the same partial → one clustered
  * exchange (inserted by `EnsureRequirements`) → final merge economics
  * that partial aggregation gets.
  *
  * The logical node carries resolved key/order expressions; the
  * strategy plans partial + final execs; heap memory is bounded by
  * distinct-keys-per-partition × k rows (the operator's documented
  * contract — a high-cardinality key with large k belongs back in the
  * sort-based window).
  */
/** @param exact when true (the bare [[TopKPerKey]] API), the FINAL
  *               stage must emit exactly top-k per key, so it runs
  *               uncapped and its memory contract (keys-per-partition
  *               × k retained rows) is the caller's responsibility.
  *               When false (the [[TopKRewrite]] path, where the
  *               original Window + Filter stay downstream and correct
  *               any over-emission), BOTH stages degrade to
  *               pass-through past the retained-rows cap — memory-safe
  *               at any key cardinality. */
final case class TopKPerKeyNode(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
    exact: Boolean = true) extends UnaryNode {
  require(k > 0, "top-k needs k > 0")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Planner strategy: logical top-k → partial exec (any distribution)
  * feeding a final exec that REQUIRES clustering on the keys —
  * `EnsureRequirements` inserts the single hash exchange between them,
  * exactly like partial/final aggregation.
  *
  * Memory safety: the PARTIAL stage is always capped at
  * `spark.graft.topk.partialCapRows` retained rows (default 4M) — past
  * the cap, rows of NEW keys pass through unreduced, which is always
  * correct (partial output only needs to be a per-key superset and the
  * final stage sees every row of a key). The FINAL stage is capped the
  * same way only when the node is inexact (rewrite mode, downstream
  * window corrects); an exact final runs uncapped under the documented
  * keys × k state contract. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child, exact) =>
      val cap = org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.graft.topk.partialCapRows", (1 << 22).toString)
        .toLong
      val partial =
        TopKPerKeyExec(keys, order, k, partial = true, cap, planLater(child))
      TopKPerKeyExec(keys, order, k, partial = false,
        if (exact) Long.MaxValue else cap, partial) :: Nil
    case _ => Nil
  }
}

final case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    capRows: Long,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  // pass the exchange's key clustering through, so a downstream
  // same-key window/aggregate reuses it instead of re-shuffling
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val cap = capRows
    val childOutput = child.output
    child.execute().mapPartitions({ iter =>
      // per-partition: codegen'd key projection + row ordering
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ordering = RowOrdering.create(sortOrder, childOutput)
      // heap head = WORST retained row, so a better row evicts it
      val worstFirst = ordering.reverse
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      var retained = 0L
      // STREAMING pass: rows of keys with a heap fold into it; once the
      // retained-row cap is hit, rows of NEW keys flow straight through
      // (bounded memory; over-emission is corrected downstream — see
      // the strategy's cap policy)
      val passThrough = iter.flatMap { row =>
        val key = keyProj(row)
        val heap = heaps.get(key)
        if (heap == null) {
          if (retained < cap) {
            val h = new java.util.PriorityQueue[InternalRow](limit, worstFirst)
            heaps.put(key.copy(), h)
            h.offer(row.copy())
            retained += 1
            Iterator.empty
          } else Iterator.single(row) // degraded: pass through unreduced
        } else if (heap.size < limit) {
          heap.offer(row.copy()); retained += 1; Iterator.empty
        } else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.offer(row.copy()); Iterator.empty
        } else Iterator.empty
      }
      import scala.jdk.CollectionConverters._
      // heap contents emitted AFTER the input is exhausted (the single()
      // wrapper defers construction until passThrough completes)
      passThrough ++ Iterator.single(()).flatMap { _ =>
        heaps.values.iterator.asScala.flatMap { h =>
          // emit in sort order (cheap: ≤ k rows) so downstream ranking
          // over the survivors is a near-no-op
          h.asScala.toArray.sorted(ordering: Ordering[InternalRow]).iterator
        }
      }
    }, preservesPartitioning = true)
  }
}

/** Public DataFrame API over the custom operator. Requires the session
  * to carry [[graft.functions.GraftExtensions.register]] (which injects
  * [[TopKPerKeyStrategy]]). */
object TopKPerKey {
  /** Top `k` rows per distinct value of `keyCols`, ordered by
    * `order` (e.g. `col("x").desc, col("id").asc` — make the order
    * total or ties make the result nondeterministic, same contract as
    * `row_number`). */
  def apply(df: DataFrame, keyCols: Seq[String], order: Seq[Column], k: Int): DataFrame = {
    val plan = df.queryExecution.analyzed
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def expression(c: Column): Expression =
      org.apache.spark.sql.classic.GraftPlanBridge.expression(spark, c)
    val keyExprs: Seq[Expression] = keyCols.map(n => expression(df.col(n)))
    val sortOrders: Seq[SortOrder] = order.map(c => expression(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
    })
    org.apache.spark.sql.classic.GraftPlanBridge.ofRows(
      spark, TopKPerKeyNode(keyExprs, sortOrders, k, plan))
  }
}
