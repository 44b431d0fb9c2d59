package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, Cast, Expression, LessThan, LessThanOrEqual, Literal,
  RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule (always on; Spark's
  * `spark.sql.optimizer.excludedRules=graft.plans.TopKRewrite` removes
  * it from a session): rewrite the
  * `row_number().over(partitionBy K orderBy S)` + `filter(rn <= k)`
  * idiom so the WINDOW'S CHILD is pre-reduced by [[TopKPerKeyNode]].
  * The Window + Filter (and any Project between them) stay in place —
  * they now run over ≤ keys × k rows, so `rn` is still produced with
  * identical semantics — but the corpus-sized input goes through the
  * heap operator's partial/final path instead of each
  * WindowGroupLimit stage's full partition sort.
  *
  * Default-ON decision (r10 verdict #5), measured at the 100× smoke
  * corpus (6M rows): rewrite 0.71s vs window 0.89s at 30k keys
  * (moderate cardinality), rewrite 0.16s vs window 0.47s at 8 keys ×
  * 750k rows (pathological skew — each WindowGroupLimit stage sorts a
  * 750k-row run, the heap keeps 5).
  * The heap path won or tied every shape measured; the residual risk
  * is MEMORY, not time, and is closed structurally: the node is
  * planted with `exact = false`, so both heap stages degrade to
  * pass-through past `spark.graft.topk.partialCapRows` retained rows
  * and the retained Window + Filter correct any over-emission —
  * bounded state at ANY key cardinality.
  *
  * Guards: k ≤ 100 (a large k multiplies per-key state and erodes the
  * heap's O(n log k) edge), plus the narrow-shape conditions below.
  * Anything else — rank / dense_rank (tie semantics differ from a
  * row-capped heap), rn inside a composite predicate, empty
  * partitioning — is left to Spark's own SPARK-37099 inference.
  * Results are EXACTLY preserved when the window order is total per
  * key (`row_number`'s own determinism contract); TopKRewriteSpec pins
  * equality against the un-rewritten plan, including under a tiny
  * degradation cap.
  */
object TopKRewrite extends Rule[LogicalPlan] {

  private val MaxK = 100

  /** Hook for [[graft.functions.GraftExtensions]]. */
  def inject(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => this)

  private def intOf(e: Expression): Option[Int] = e match {
    case Literal(v: Int, _) => Some(v)
    case Literal(v: Long, _) if v.isValidInt => Some(v.toInt)
    case _ => None
  }

  /** Does attribute `a` carry the row_number value `rn` through
    * `projList` (identically or under a cast)? */
  private def carriesRn(
      a: Attribute, rnAttr: Attribute,
      projList: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]): Boolean =
    projList.exists {
      case out: Attribute => out.semanticEquals(a) && out.semanticEquals(rnAttr)
      case out: Alias if out.toAttribute.semanticEquals(a) => out.child match {
        case c: Cast => c.child.semanticEquals(rnAttr)
        case e => e.semanticEquals(rnAttr)
      }
      case _ => false
    }

  private def limitOf(
      cond: Expression, rnAttr: Attribute,
      projList: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]): Option[Int] = {
    def isRn(e: Expression): Boolean = e match {
      case a: Attribute => carriesRn(a, rnAttr, projList)
      case Cast(a: Attribute, _, _, _) => carriesRn(a, rnAttr, projList)
      case _ => false
    }
    cond match {
      case LessThanOrEqual(l, r) if isRn(l) => intOf(r)
      case LessThan(l, r) if isRn(l) => intOf(r).map(_ - 1)
      case _ => None
    }
  }

  private def rewrite(
      f: Filter, cond: Expression, w: Window, rnAlias: Alias,
      projList: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
      wrap: LogicalPlan => LogicalPlan): LogicalPlan =
    limitOf(cond, rnAlias.toAttribute, projList) match {
      case Some(k) if k > 0 && k <= MaxK && w.partitionSpec.nonEmpty &&
          !w.child.isInstanceOf[TopKPerKeyNode] =>
        // exact = false: the retained Window + Filter re-derive rn and
        // re-apply the cut, so the heap stages may degrade under the
        // memory cap without affecting results
        val reduced =
          TopKPerKeyNode(w.partitionSpec, w.orderSpec, k, w.child, exact = false)
        f.copy(child = wrap(w.copy(child = reduced)))
      case _ => f
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      // Filter directly over the Window
      case f @ Filter(cond,
          w @ Window(Seq(al @ Alias(WindowExpression(_: RowNumber, _), _)), _, _, _, _)) =>
        rewrite(f, cond, w, al, w.output.map(a => a), identity)
      // Filter over a Project (e.g. the cast-to-long alias) over the Window
      case f @ Filter(cond, p @ Project(projList,
          w @ Window(Seq(al @ Alias(WindowExpression(_: RowNumber, _), _)), _, _, _, _))) =>
        rewrite(f, cond, w, al, projList, rewritten => p.copy(child = rewritten))
    }
}
