package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The member list both bucket expressions take, and its PACKED
  * layout (r18): ids, norms and one flat m×dim double array. The pair
  * loops keep graft_dot's single-accumulator ascending-index dot
  * (unrolling or FMA would reorder FP adds and break cross-engine
  * exactness) but walk contiguous memory, which is all the
  * auto-vectorizer legally gets.
  */
private[functions] object BucketMembers {

  /** The input both expressions take:
    * array<struct<vec_id: bigint, v: array<double>, nrm: double>>. */
  def checkInput(fn: String, t: DataType): TypeCheckResult = t match {
    case ArrayType(StructType(Array(
      StructField(_, LongType, _, _),
      StructField(_, ArrayType(DoubleType, _), _, _),
      StructField(_, DoubleType, _, _))), _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fn expects array<struct<bigint, array<double>, double>>, " +
        s"got ${other.simpleString}")
  }

  /** Pack `arr`'s members as (ids, nrms, flat, dim); every vector must
    * have the same dimension. `fn` names the caller in the errors. */
  def pack(fn: String, arr: ArrayData): (Array[Long], Array[Double], Array[Double], Int) = {
    val m = arr.numElements()
    val ids = new Array[Long](m)
    val nrms = new Array[Double](m)
    var flat: Array[Double] = null
    var dim = -1
    var i = 0
    while (i < m) {
      val row = arr.getStruct(i, 3)
      require(row != null, s"$fn: null member struct")
      ids(i) = row.getLong(0)
      val v = row.getArray(1)
      if (dim < 0) { dim = v.numElements(); flat = new Array[Double](m * dim) }
      else require(v.numElements() == dim,
        s"$fn: mixed vector dims ${v.numElements()} vs $dim")
      var t = 0
      val base = i * dim
      while (t < dim) { flat(base + t) = v.getDouble(t); t += 1 }
      nrms(i) = row.getDouble(2)
      i += 1
    }
    (ids, nrms, flat, dim)
  }
}

/** Per-bucket exact top-k cosine kNN over a collected member list —
  * the grouped replacement for the bucket self-join + per-node window
  * idiom in the kNN-graph family (q_knn_graph and the beam index's
  * `kn` edge build).
  *
  * Why (measured at the 500k-doc tier, r15): the join form
  * materializes every in-bucket ORDERED pair as a row carrying BOTH
  * 64-double vectors — ~2.4e8 rows ≈ 100 GB of row traffic at 500k
  * vectors / 10 auto planes — only to reduce each vector's pairs to
  * its top 3. Grouping each bucket's members once and scoring inside
  * a single expression call keeps the pair loop in JIT'd primitive
  * arrays (one dot per UNORDERED pair — the value is
  * direction-independent because both the ascending-index
  * accumulation and the norm product commute bit-for-bit) and emits
  * only the ≤ m·k result rows. Interpreted dispatch (CodegenFallback)
  * is irrelevant here: the expression is invoked once per BUCKET, and
  * all the work is inside the call — the same amortization argument
  * as a sort-merge join's per-partition loop, and the opposite of the
  * per-ROW interpreted HOF the r14 CellAssign expressions replaced.
  *
  * Semantics are EXACTLY the join+window's (oracle `kn` CTE,
  * [[graft.similarity.VectorQueries.knnBucketSql]]): neighbors
  * ranked by (sim DESC, nbr_id ASC), self excluded, ties impossible
  * beyond id (ids are distinct), sim = dot(v_a, v_b)/(nrm_a·nrm_b)
  * with ascending-index accumulation — bit-identical to `graft_dot`.
  * Buckets are the LSH blocking, so per-bucket top-k IS the global
  * top-k per vector. Input: array<struct<vec_id:bigint,
  * v:array<double>, nrm:double>>; output: array<struct<vec_id,
  * nbr_id, sim, rn>> with rn ∈ [1, k], fewer when the bucket has
  * fewer than k+1 members.
  */
case class BucketKnn(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, s"graft_bucket_knn: k must be >= 1, got $k")

  private val struct = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("nbr_id", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false),
    StructField("rn", IntegerType, nullable = false)))

  override def dataType: DataType = ArrayType(struct, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    BucketMembers.checkInput("graft_bucket_knn", child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m <= 1) return new GenericArrayData(Array.empty[Any])
    val (ids, nrms, flat, dim) = BucketMembers.pack("graft_bucket_knn", arr)
    // per-member top-k held sorted (sim desc, id asc) in flat arrays
    val simT = Array.fill(m * k)(Double.NegativeInfinity)
    val idT = Array.fill(m * k)(Long.MaxValue)
    val cnt = new Array[Int](m)
    def offer(at: Int, sim: Double, id: Long): Unit = {
      val base = at * k
      var pos = cnt(at)
      // java.lang.Double.compare, NOT primitive >/== (r15 advice):
      // Spark's `sim DESC` total order puts NaN FIRST (NaN is greatest)
      // and -0.0 below 0.0, while the primitive ops sink NaN to the
      // end and conflate the zeros — a zero-norm member (NaN sims)
      // would silently rank differently from the join+window form this
      // expression claims bit-identity with. The function is a
      // registered SQL function, so callers beyond normEmb can feed it
      // anything.
      while (pos > 0 && {
        val c = java.lang.Double.compare(sim, simT(base + pos - 1))
        c > 0 || (c == 0 && id < idT(base + pos - 1))
      }) pos -= 1
      if (pos < k) {
        var j = math.min(cnt(at), k - 1)
        while (j > pos) {
          simT(base + j) = simT(base + j - 1)
          idT(base + j) = idT(base + j - 1)
          j -= 1
        }
        simT(base + pos) = sim
        idT(base + pos) = id
        if (cnt(at) < k) cnt(at) += 1
      }
    }
    var a = 0
    while (a < m) {
      val pa = a * dim
      val na = nrms(a)
      var b = a + 1
      while (b < m) {
        val pb = b * dim
        var dot = 0.0
        var t = 0
        while (t < dim) { dot += flat(pa + t) * flat(pb + t); t += 1 }
        val den = na * nrms(b)
        // ANSI parity (r15 advice): the join form's `dot / (na*nb)`
        // THROWS DIVIDE_BY_ZERO under the session's ANSI mode when a
        // zero-norm member appears — Java division would silently
        // yield NaN rankings instead. Fail the same way the join
        // form does. (NaN from NaN INPUTS divides fine under ANSI
        // and is ranked NaN-first by the Double.compare in offer.)
        if (den == 0.0) throw new ArithmeticException(
          s"graft_bucket_knn: zero-norm member (vec_id ${ids(if (na == 0.0) a else b)}) — " +
            "division by zero, matching the join form's ANSI error; " +
            "filter zero vectors upstream")
        val sim = dot / den
        offer(a, sim, ids(b))
        offer(b, sim, ids(a))
        b += 1
      }
      a += 1
    }
    val out = new Array[Any](cnt.sum)
    var w = 0
    var i = 0
    while (i < m) {
      var r = 0
      while (r < cnt(i)) {
        out(w) = InternalRow(ids(i), idT(i * k + r), simT(i * k + r), r + 1)
        w += 1
        r += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): BucketKnn =
    copy(child = newChild)
}

/** Per-bucket THRESHOLD pair scoring over a collected member list —
  * the grouped replacement for the bucket/cell self-join in
  * q_embed_dedup and q_semantic_dedup (same r15 rationale as
  * [[BucketKnn]]: the join form materializes every ordered pair with
  * both vectors before the similarity filter; this emits only the
  * pairs that pass). Output pairs are (id1 = min(vec_id), id2 =
  * max(vec_id), sim) for every unordered pair with UNROUNDED
  * sim ≥ threshold — `a.vec_id < c.vec_id` semantics and the
  * ascending-index dot of `graft_dot`, bit-identical to the join form
  * and the oracles' `p` CTEs. Input as [[BucketKnn]].
  */
case class BucketSimPairs(child: Expression, threshold: Double)
    extends UnaryExpression with CodegenFallback {

  private val struct = StructType(Seq(
    StructField("id1", LongType, nullable = false),
    StructField("id2", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))

  override def dataType: DataType = ArrayType(struct, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    BucketMembers.checkInput("graft_bucket_pairs", child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m <= 1) return new GenericArrayData(Array.empty[Any])
    val (ids, nrms, flat, dim) = BucketMembers.pack("graft_bucket_pairs", arr)
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var a = 0
    while (a < m) {
      val pa = a * dim
      val na = nrms(a)
      var b = a + 1
      while (b < m) {
        val pb = b * dim
        var dot = 0.0
        var t = 0
        while (t < dim) { dot += flat(pa + t) * flat(pb + t); t += 1 }
        val den = na * nrms(b)
        // ANSI parity — see [[BucketKnn]]: zero divisor throws like
        // the join form's division would.
        if (den == 0.0) throw new ArithmeticException(
          s"graft_bucket_pairs: zero-norm member (vec_id ${ids(if (na == 0.0) a else b)}) — " +
            "division by zero, matching the join form's ANSI error; " +
            "filter zero vectors upstream")
        val sim = dot / den
        // Double.compare mirrors Spark's `>=` NaN semantics (NaN is
        // greater than every value, so a NaN sim — possible from NaN
        // INPUT components, which divide without an ANSI error —
        // PASSES a finite threshold, exactly as the join form's
        // filter would); the primitive >= would silently drop it
        // (r15 advice).
        if (java.lang.Double.compare(sim, threshold) >= 0) {
          val (lo, hi) =
            if (ids(a) < ids(b)) (ids(a), ids(b)) else (ids(b), ids(a))
          out += InternalRow(lo, hi, sim)
        }
        b += 1
      }
      a += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): BucketSimPairs =
    copy(child = newChild)
}
