package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression: dot product of two double arrays in one
  * fused pass — the codegen'd replacement for
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)`, which materializes an
  * intermediate array per row and walks it twice. Accumulation order is
  * ascending index, identical to the HOF composition (and to DuckDB's
  * list_sum(list_transform(...))), so swapping it in changes no result
  * bit — INCLUDING on unequal-length inputs, where zip_with pads with
  * null, the product is null, and the aggregate yields NULL: this
  * expression returns null there too rather than silently summing over
  * the shorter prefix.
  *
  * This is the engine's custom-Expression extension-point proof
  * (SURVEY §4: custom pieces only where measured; preference order per
  * the mandate — native Expression with doGenCode over any UDF).
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // Null on length mismatch even when both inputs are non-null.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Session-extension registration (the public injection API): gives SQL
  * and `expr(...)` access to the native expressions. Wire with
  * `SparkSession.builder().withExtensions(GraftExtensions.register)`.
  */
object GraftExtensions {
  val register: SparkSessionExtensions => Unit = { ext =>
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot(a, b) takes exactly 2 arguments")
        DotProduct(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_roll"),
      new ExpressionInfo(classOf[RollingHash].getName, "graft_roll"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_roll(bytes) takes exactly 1 argument")
        RollingHash(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_nfc(str) takes exactly 1 argument")
        NfcNormalize(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_cell_argmin"),
      new ExpressionInfo(classOf[CellArgMin].getName, "graft_cell_argmin"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "graft_cell_argmin(v, cents, ids) takes exactly 3 arguments")
        CellArgMin(args.head, args(1), args(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bucket_knn"),
      new ExpressionInfo(classOf[BucketKnn].getName, "graft_bucket_knn"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "graft_bucket_knn(members, k) takes exactly 2 arguments")
        val k = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(
            "graft_bucket_knn: k must be an integer literal")
        }
        BucketKnn(args.head, k)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bucket_pairs"),
      new ExpressionInfo(classOf[BucketSimPairs].getName, "graft_bucket_pairs"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "graft_bucket_pairs(members, threshold) takes exactly 2 arguments")
        val thr = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
          case _ => throw new IllegalArgumentException(
            "graft_bucket_pairs: threshold must be a double literal")
        }
        BucketSimPairs(args.head, thr)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_cell_top2"),
      new ExpressionInfo(classOf[CellTop2].getName, "graft_cell_top2"),
      (args: Seq[Expression]) => {
        require(args.length == 5,
          "graft_cell_top2(v, nrm, cents, ids, nrms) takes exactly 5 arguments")
        CellTop2(args.head, args(1), args(2), args(3), args(4))
      }))
    // Spark ships battle-tested Bloom expressions (the machinery behind
    // its runtime row-level join filters) but leaves them out of the
    // public function registry — expose them so the pre-shuffle
    // fact-pruning pattern (q_bloom_prune) is written against Spark's
    // own sketch, not a reimplementation.
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "graft_bloom_agg(key, estimatedItems, numBits) takes exactly 3 arguments")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          args.head, args(1), args(2)).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_bloom_contains"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "graft_bloom_contains(bloom, key) takes exactly 2 arguments")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          args.head, args(1))
      }))
    // Whole-operator extension: the partial/final per-key top-k
    // physical operator (graft.plans.TopKPerKey) — planner strategy,
    // not a function, so the logical node plans wherever it appears.
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    // Optimizer rule, always on: route the row_number-filter idiom's
    // window input through the heap operator.
    graft.plans.TopKRewrite.inject(ext)
  }
}
