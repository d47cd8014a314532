package graft.similarity

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Primitive loop kernels callable from generated code. */
object VecOps {
  /** Left-to-right double-accumulated dot product over float arrays —
    * the same fold order as `aggregate(zip_with(...))`, ~100× faster
    * (no per-element boxing, stays inside whole-stage codegen). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** float × double variant (embedding against a double-typed centroid). */
  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** double × float variant. */
  def dotDF(a: ArrayData, b: ArrayData): Double = dotFD(b, a)

  /** double × double variant. */
  def dotDD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** int × int variant (quantized vectors): exact integer products
    * accumulated in double — int8-range values can never overflow it. */
  def dotII(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getInt(i).toDouble * b.getInt(i).toDouble
      i += 1
    }
    acc
  }

  /** Fixed-point q12 squared euclidean distance over double arrays:
    * Σᵢ floor((aᵢ − bᵢ)²·10¹² + 0.5) as a long — BIT-IDENTICAL per
    * element to the column spelling
    * `floor((element_at(a,i) - element_at(b,i))² * 1e12 + 0.5)` summed
    * left-to-right ((long)Math.floor == Spark Floor-on-double; long
    * addition is exact so order is immaterial). This is the IVF
    * assignment metric: spelled as 64 separate element_at trees it
    * dominated the N × cells crossJoin at scale (the r14 100×-data decade
    * probe timed q_mutual_knn_ivf out at 900 s on exactly this), as a
    * primitive loop it is ~40× cheaper and the crossJoin is compute-
    * bound no more. */
  def q12SqDistDD(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc += math.floor(d * d * 1e12 + 0.5).toLong
      i += 1
    }
    acc
  }
}

/** Deterministic random-hyperplane LSH (signed random projections).
  * Hyperplane weights are derived from `XXH64.hashInt(plane*1024+dim)` —
  * reproducible everywhere with no stored model. Unlike axis-aligned sign
  * bits (which only see `bits` of the 64 dimensions), every plane projects
  * the FULL vector, so bucket collisions track cosine similarity. */
object HyperplaneLsh {
  /** weight ∈ [-1, 1), deterministic per (plane, dim). Plane and dim are
    * mixed without aliasing (disjoint 32-bit halves), so planes stay
    * independent at any dimensionality — `plane*K + dim` schemes collide
    * for dim >= K and silently correlate adjacent planes. */
  private def w(plane: Int, dim: Int, seed: Long): Double =
    (XXH64.hashLong((plane.toLong << 32) | (dim.toLong & 0xffffffffL), seed)
      >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0

  /** Per-executor weight-matrix cache: a 64-plane × 64-dim signature would
    * otherwise pay 4096 hash derivations PER ROW. Keyed by (bits, dims,
    * seed); a full 64×64 matrix is 32 KB, and a pipeline uses a handful of
    * (bits, seed) combinations, so the cache is effectively a static
    * constant per executor. */
  private val wcache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Double]]()

  private def weights(bits: Int, dims: Int, seed: Long): Array[Double] =
    wcache.computeIfAbsent((bits, dims, seed),
      _ => Array.tabulate(bits * dims)(i => w(i / dims, i % dims, seed)))

  def bucket(v: ArrayData, bits: Int, seed: Long): Long = {
    val n = v.numElements()
    val ws = weights(bits, n, seed)
    var out = 0L
    var j = 0
    while (j < bits) {
      var dot = 0.0
      val off = j * n
      var d = 0
      while (d < n) {
        dot += v.getFloat(d).toDouble * ws(off + d)
        d += 1
      }
      if (dot > 0) out |= 1L << j
      j += 1
    }
    out
  }
}

/** `hyperplane_bucket(emb, bits)` — random-hyperplane LSH bucket id. */
case class HyperplaneBucket(child: Expression, bits: Int, seed: Long = 42L)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "hyperplane_bucket"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT>, got ${t.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    HyperplaneLsh.bucket(input.asInstanceOf[ArrayData], bits, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.similarity.HyperplaneLsh.bucket($c, $bits, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
    copy(child = newChild)
}

/** `vec_dot(a, b)` — native codegen'd dot product over `array<float>` /
  * `array<double>` columns (any mix; the kernel variant is picked at plan
  * time). The hot kernel of the similarity-search operators: at 100 TB a
  * brute-force or LSH-bucketed scorer evaluates this O(pairs × dim) times,
  * so it must not fall out of codegen the way interpreted
  * `aggregate`/`zip_with` HOFs do. */
/** `q12_sqdist(a, b)` — the codegen'd [[VecOps.q12SqDistDD]] kernel as
  * an expression (the IVF trained-index assignment metric; cf.
  * reference `server.c`'s fixed work partitioning — here the work
  * partitioner is a trained index, and this is its hot loop). Double
  * arrays only: the assignment pipeline casts both sides to double
  * before quantizing, and a silent float widening here would shift
  * q12 values against the DuckDB replay. Null ELEMENTS are not
  * modeled (same contract as the dot kernels — corpus vectors are
  * dense). */
case class Q12SqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "q12_sqdist"

  private def isD(t: DataType) = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isD(left.dataType) && isD(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> operands, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.q12SqDistDD(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.similarity.VecOps.q12SqDistDD($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Q12SqDist =
    copy(left = newLeft, right = newRight)
}

case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private def isF(t: DataType) = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private def isD(t: DataType) = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  private def isI(t: DataType) = t match {
    case ArrayType(org.apache.spark.sql.types.IntegerType, _) => true
    case _ => false
  }

  /** Kernel name for this operand-type combination. */
  private def kernel: String =
    if (isI(left.dataType) && isI(right.dataType)) "dotII"
    else (isF(left.dataType), isF(right.dataType)) match {
      case (true, true) => "dot"
      case (true, false) => "dotFD"
      case (false, true) => "dotDF"
      case (false, false) => "dotDD"
    }

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = isF(t) || isD(t)
    val bothInt = isI(left.dataType) && isI(right.dataType)
    if (bothInt || (ok(left.dataType) && ok(right.dataType)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> (or both array<int>) operands, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    kernel match {
      case "dot" => VecOps.dot(x, y)
      case "dotFD" => VecOps.dotFD(x, y)
      case "dotDF" => VecOps.dotDF(x, y)
      case "dotDD" => VecOps.dotDD(x, y)
      case "dotII" => VecOps.dotII(x, y)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.similarity.VecOps.$kernel($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorDot =
    copy(left = newLeft, right = newRight)
}

/** Two-level EXACT nearest-cell index over a trained IVF centroid set
  * (r15, guide §2/§3: remove the N × cells assignment crossJoin).
  *
  * The flat assignment — crossJoin against the broadcast centroid
  * relation + argmin — evaluates the q12 metric N·cells times, and with
  * the scale-adaptive cell count (cells ≈ N/100, [[Similarity.adaptiveCells]])
  * that is O(N²/100): the r14 decade probe measured q_mutual_knn_ivf at
  * 33× for a 10× corpus on exactly this term. This index prunes the
  * scan with a driver-built coarse level of ~√k meta-centroids and the
  * triangle inequality, making assignment O(N·(√k + survivors)) — and
  * the pruning is EXACT, so the assigned (cell, dist) pair is
  * bit-identical to the flat argmin (SimilaritySpec pins it): no oracle
  * moves, no result drift, only the exponent.
  *
  * Exactness argument: let d(·,·) be TRUE euclidean distance, computed
  * in doubles. For meta-centroid m_G with member radii r_i = d(m_G, c_i),
  * every member satisfies |d(x, c_i) − d(x, m_G)| ≤ r_i (triangle
  * inequality). ub = min_G (d(x, m_G) + rmin_G) is therefore an upper
  * bound on the true nearest-cell distance. A group with
  * d(x, m_G) − rmax_G > ub + Eps (or a member with
  * d(x, m_G) − r_i > ub + Eps) contains only cells at least Eps farther
  * than some unpruned cell; with Eps = 1e-4 the q12-quantized distance
  * gap is ≥ 1e12·Eps² − 2·32 = 10⁴ − 64 counts (64 dims quantize each
  * |q − d²·1e12| within ±32), far above double rounding error, so a
  * pruned cell can neither win nor TIE the quantized argmin — the
  * min-struct tie-break by cell id is preserved bit-for-bit.
  *
  * Scale shape: the centroid set is the published broadcastable model
  * (≤ [[Similarity.MaxCells]] × dim doubles, ≤32 MB by design); the
  * meta level is built once per index on the driver (O(k·√k·dim), ≤
  * seconds at the 64k cap) and rides to executors inside the expression
  * as a plan reference object — the same publish-and-broadcast
  * contract the flat centroid relation had. */
final class IvfCellIndex(
    val cellIds: Array[Int], val cents: Array[Array[Double]])
    extends Serializable {
  require(cellIds.length == cents.length, "cellIds/cents length mismatch")
  private val k = cellIds.length
  private[similarity] val dim = if (k == 0) 0 else cents(0).length
  private val Eps = 1e-4

  // ---- coarse level: ~sqrt(k) meta-centroids, 3 deterministic local
  // Lloyd rounds seeded from the first g cell centroids. Grouping
  // quality only affects PRUNING RATE, never correctness.
  private val g: Int =
    math.max(1, math.round(math.sqrt(k.toDouble)).toInt)
  // below ~4 groups the meta pass is pure overhead — scan flat
  private val useMeta: Boolean = k >= 64 && dim > 0

  private def sqd(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** meta centroids, member cell positions per group, per-member true
    * radius, and per-group min/max radius. */
  private val (metas, members, radii, rmin, rmax):
      (Array[Array[Double]], Array[Array[Int]], Array[Array[Double]],
        Array[Double], Array[Double]) =
    if (!useMeta)
      (Array.empty, Array.empty, Array.empty, Array.empty, Array.empty)
    else {
      var ms = Array.tabulate(g)(i => cents(i).clone())
      var assign = new Array[Int](k)
      def assignAll(): Unit = {
        var i = 0
        while (i < k) {
          var best = 0; var bd = Double.MaxValue
          var j = 0
          while (j < g) {
            val d = sqd(cents(i), ms(j))
            if (d < bd) { bd = d; best = j }
            j += 1
          }
          assign(i) = best
          i += 1
        }
      }
      var iter = 0
      while (iter < 3) {
        assignAll()
        val sums = Array.fill(g)(new Array[Double](dim))
        val cnt = new Array[Int](g)
        var i = 0
        while (i < k) {
          val gi = assign(i); cnt(gi) += 1
          var d = 0
          while (d < dim) { sums(gi)(d) += cents(i)(d); d += 1 }
          i += 1
        }
        ms = Array.tabulate(g)(j =>
          if (cnt(j) == 0) ms(j)
          else { val a = sums(j); var d = 0
            while (d < dim) { a(d) /= cnt(j); d += 1 }; a })
        iter += 1
      }
      assignAll()
      val mem = Array.tabulate(g)(j =>
        (0 until k).filter(assign(_) == j).toArray)
      // per-member true radius to its group's meta centroid
      val rad = Array.tabulate(g)(j =>
        mem(j).map(i => math.sqrt(sqd(cents(i), ms(j)))))
      val rmn = rad.map(r => if (r.isEmpty) 0.0 else r.min)
      val rmx = rad.map(r => if (r.isEmpty) 0.0 else r.max)
      (ms, mem, rad, rmn, rmx)
    }

  /** q12-quantized squared distance — the [[VecOps.q12SqDistDD]]
    * arithmetic on plain arrays (bit-identical per element). */
  private def q12(x: Array[Double], c: Array[Double], n: Int): Long = {
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x(i) - c(i)
      acc += math.floor(d * d * 1e12 + 0.5).toLong
      i += 1
    }
    acc
  }

  /** Nearest cell of `xs`: returns struct(cell, dist) equal to the flat
    * `min(struct(q12_sqdist, cell))` argmin over every centroid. */
  def assign(xs: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val xn = xs.numElements()
    val n = math.min(xn, dim)
    val x = new Array[Double](n)
    var i = 0
    while (i < n) { x(i) = xs.getDouble(i); i += 1 }
    var bestQ = Long.MaxValue
    var bestCell = Int.MaxValue
    def consider(pos: Int): Unit = {
      val q = q12(x, cents(pos), n)
      val c = cellIds(pos)
      if (q < bestQ || (q == bestQ && c < bestCell)) { bestQ = q; bestCell = c }
    }
    // truncated-dim inputs break the radius geometry — scan flat (the
    // corpus is fixed-dim; this is a safety rail, not a hot path)
    if (!useMeta || n != dim) {
      var p = 0
      while (p < k) { consider(p); p += 1 }
    } else {
      val dg = new Array[Double](g)
      var ub = Double.MaxValue
      var j = 0
      while (j < g) {
        dg(j) = math.sqrt(sqd(x, metas(j)))
        val u = dg(j) + rmin(j)
        if (u < ub) ub = u
        j += 1
      }
      j = 0
      while (j < g) {
        if (dg(j) - rmax(j) <= ub + Eps) {
          val mem = members(j); val rad = radii(j)
          var t = 0
          while (t < mem.length) {
            if (dg(j) - rad(t) <= ub + Eps) consider(mem(t))
            t += 1
          }
        }
        j += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestCell, bestQ))
  }
}

/** `ivf_assign(xs)` — nearest trained cell via [[IvfCellIndex]]:
  * struct(cell int, dist long), bit-identical to the flat
  * crossJoin-argmin it replaces, with no join and no shuffle. */
case class IvfAssign(child: Expression, index: IvfCellIndex)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("dist", LongType,
      nullable = false)))
  override def prettyName: String = "ivf_assign"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE>, got ${t.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    index.assign(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("ivfCellIndex", index,
      classOf[IvfCellIndex].getName)
    defineCodeGen(ctx, ev, c => s"$idx.assign($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfAssign =
    copy(child = newChild)
}
