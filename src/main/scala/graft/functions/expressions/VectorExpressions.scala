package graft.functions.expressions

import graft.util.Hashing
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native codegen'd expressions for the vector/ANN hot paths
  * (graft.ml.Similarity, graft.ml.TextDedup.embeddingNearDups).
  *
  * The Column forms they replace were built from higher-order builtins over
  * LITERAL plane/centroid arrays — e.g. `rankedCells` was 16 centroids × 64
  * dims of `lit(...)` nodes threaded through zip_with/aggregate/array_sort:
  * a ~10⁴-node expression tree evaluated per corpus row. Catalyst pays for
  * that tree three times over: analysis/optimization walks it repeatedly
  * (driver, single-threaded), codegen emits it into oversized methods, and
  * evaluation allocates an intermediate array per higher-order node per row.
  * Each expression here is a 2-3-node tree calling a static kernel with a
  * tight loop — same shape as the engine's other native expressions
  * (RollingFingerprintExpr etc.).
  *
  * EVERY kernel replicates its Column form's double arithmetic EXACTLY
  * (same accumulation order, same float-vs-double multiply width, same
  * null/empty propagation) so rankings and threshold filters are
  * bit-identical — the MlSpec equivalence oracles and the DuckDB gate pin
  * this. Two deliberate variants exist because the original Column forms
  * differed: the Similarity family multiplies in DOUBLE (elements were
  * `.cast("double")` before the multiply), the TextDedup embedding family
  * multiplies in FLOAT (no cast — `a * b` on float elements) and widens the
  * product.
  */
object VectorKernels {

  /** Encode a float matrix for transport inside a string literal (the
    * codebook/centroid constant of [[RankedCellsExpr]]/[[NearestCellExpr]]):
    * rows×dim little-endian floats behind two ints, Base64'd. The literal is
    * ONE leaf node; the expression decodes it once per instance.
    */
  def encodeMatrix(m: Array[Array[Float]]): String = {
    val dim = if (m.isEmpty) 0 else m(0).length
    val bb = java.nio.ByteBuffer.allocate(8 + 4 * m.length * dim)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(m.length).putInt(dim)
    m.foreach { row =>
      require(row.length == dim, "ragged codebook")
      row.foreach(bb.putFloat)
    }
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  def decodeMatrix(b64: String): Array[Array[Float]] = {
    val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(b64))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val rows = bb.getInt()
    val dim = bb.getInt()
    Array.fill(rows) { val r = new Array[Float](dim); var i = 0; while (i < dim) { r(i) = bb.getFloat(); i += 1 }; r }
  }

  /** cosine(a, b) with DOUBLE multiplies — replicates
    * `aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")), 0.0d, _+_)
    *  / (sqrt(aggregate(a, 0.0d, acc + x.cast²)) * sqrt(...b...))`:
    * three independent sequential folds = one fused loop with three
    * accumulators (identical per-element IEEE ops). Length mismatch or a
    * null element makes some fold null ⇒ result null, exactly like the
    * zip_with null-padding / null-propagating `+`.
    */
  def cosineD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0d; var na = 0.0d; var nb = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** dot(a, b) with FLOAT multiplies — replicates
    * `aggregate(zip_with(a, b, (p, q) => p * q), 0.0d, acc + t)`: the
    * product is computed at FLOAT width (both operands float, no cast),
    * then widened into the double accumulator.
    */
  def dotF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += (a.getFloat(i) * b.getFloat(i)).toDouble
      i += 1
    }
    acc
  }

  /** sqrt(Σ x*x) with FLOAT squares — replicates
    * `sqrt(aggregate(v, 0.0d, (acc, x) => acc + x * x))` (x float ⇒ float
    * multiply, widened add).
    */
  def normF(a: ArrayData): java.lang.Double = {
    val n = a.numElements()
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      acc += (a.getFloat(i) * a.getFloat(i)).toDouble
      i += 1
    }
    math.sqrt(acc)
  }

  /** Squared-L2 distances to every codebook row, DOUBLE arithmetic —
    * replicates `distTo`: Σ (x.cast("double") - cᵢ)² in index order, cᵢ the
    * double literal of the float centroid value (Float→Double is exact).
    * Returns null signal (no distances) when the vector's length differs
    * from the codebook dim or an element is null — the Column form's sort
    * over null dists is unreachable on this engine's non-null fixed-dim
    * vectors, so the kernel maps those states to SQL NULL.
    */
  private def dists(v: ArrayData, cb: Array[Array[Float]]): Array[Double] = {
    if (cb.isEmpty) return null
    val dim = cb(0).length
    if (v.numElements() != dim) return null
    val xs = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      xs(i) = v.getFloat(i).toDouble
      i += 1
    }
    val out = new Array[Double](cb.length)
    var c = 0
    while (c < cb.length) {
      val cen = cb(c)
      var d = 0.0d
      var j = 0
      while (j < dim) { val t = xs(j) - cen(j).toDouble; d += t * t; j += 1 }
      out(c) = d
      c += 1
    }
    out
  }

  /** argmin cell — replicates `array_sort(struct(dist, cell)).getItem(0)
    * .getField("cell")`: ascending by (dist, cell), so a strict "less"
    * keeping the lowest index on ties is identical. Distances compare with
    * `java.lang.Double.compare` — Spark's order, NaN after every number and
    * equal to itself (distances are sums of squares, never -0.0, the one
    * value where the two orders differ).
    */
  def nearestCell(v: ArrayData, cb: Array[Array[Float]]): java.lang.Integer = {
    val ds = dists(v, cb)
    if (ds == null) return null
    var best = 0
    var c = 1
    while (c < ds.length) { if (java.lang.Double.compare(ds(c), ds(best)) < 0) best = c; c += 1 }
    best
  }

  /** First `take` cells ranked by (dist, cell) asc — replicates
    * `transform(slice(array_sort(struct(dist, cell)), 1, take), _.cell)`.
    * Insertion sort on the cell indices: comparison by (dist, index), dist
    * in the NaN-last order of [[nearestCell]].
    */
  def rankedCells(v: ArrayData, cb: Array[Array[Float]], take: Int): ArrayData = {
    val ds = dists(v, cb)
    if (ds == null) return null
    val idx = Array.range(0, ds.length)
    var i = 1
    while (i < idx.length) {
      val cur = idx(i)
      val d = ds(cur)
      var j = i - 1
      def after(c: Int): Boolean = {
        val o = java.lang.Double.compare(ds(c), d)
        o > 0 || (o == 0 && c > cur)
      }
      while (j >= 0 && after(idx(j))) {
        idx(j + 1) = idx(j); j -= 1
      }
      idx(j + 1) = cur
      i += 1
    }
    new GenericArrayData(idx.take(math.min(math.max(take, 0), idx.length)))
  }

  /** Deterministic ±1 sign matrix memo keyed by (seed, shift, planes, dim):
    * sign(p, i) = +1 iff bit `shift` of Hashing.det(seed, p, i) is set —
    * the same draw the Column forms took per literal.
    */
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int, Int), Array[Array[Double]]]()

  private def signs(seed: Long, shift: Int, planes: Int, dim: Int): Array[Array[Double]] =
    signCache.computeIfAbsent((seed, shift, planes, dim), _ =>
      Array.tabulate(planes, dim)((p, i) =>
        if (((Hashing.det(seed, p, i) >> shift) & 1L) == 1L) 1.0d else -1.0d))

  /** Similarity.hyperplaneBucket: per plane p, dot = Σ x.cast("double") * sᵢ
    * (DOUBLE plane values ±1.0d), bucket = Σ (dot >= 0 ? 1<<p : 0) as INT.
    * A null element / length-vs-dim mismatch made every plane's `when`
    * predicate null ⇒ `otherwise(0)` ⇒ bucket 0 — replicated.
    */
  def hyperplaneBucketI(v: ArrayData, dim: Int, planes: Int, seed: Long): Int = {
    if (v.numElements() != dim) return 0
    val xs = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return 0
      xs(i) = v.getFloat(i).toDouble
      i += 1
    }
    val sg = signs(seed, 13, planes, dim)
    var bucket = 0
    var p = 0
    while (p < planes) {
      val s = sg(p)
      var dot = 0.0d
      var j = 0
      while (j < dim) { dot += xs(j) * s(j); j += 1 }
      if (dot >= 0) bucket += (1 << p)
      p += 1
    }
    bucket
  }

  /** TextDedup.embeddingNearDups' signature: per plane p, dot = Σ (x * sᵢ)
    * with FLOAT multiplies (plane values ±1.0f), bucket = Σ (dot >= 0 ?
    * 1L<<p : 0L) as LONG. Same null/mismatch ⇒ 0 rule as the int form.
    */
  def hyperplaneBucketL(v: ArrayData, dim: Int, planes: Int, seed: Long): Long = {
    if (v.numElements() != dim) return 0L
    val xs = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return 0L
      xs(i) = v.getFloat(i)
      i += 1
    }
    val sg = signs(seed, 17, planes, dim)
    var bucket = 0L
    var p = 0
    while (p < planes) {
      val s = sg(p)
      var dot = 0.0d
      var j = 0
      while (j < dim) { dot += (xs(j) * s(j).toFloat).toDouble; j += 1 }
      if (dot >= 0) bucket += (1L << p)
      p += 1
    }
    bucket
  }
}

/** Shared shape for the float-vector unary kernels: ARRAY<FLOAT> child,
  * boxed-kernel call via nullSafeCodeGen (null results surface as SQL NULL
  * even for primitive output types).
  */
trait FloatVecInput { self: Expression =>
  protected def vecChild: Expression
  protected def requireFloatVec(name: String): TypeCheckResult = vecChild.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$name requires ARRAY<FLOAT>, got ${t.catalogString}")
  }
}

/** cosine_sim(a, b): the Similarity family's exact-rank scorer. */
case class CosineSimExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires (ARRAY<FLOAT>, ARRAY<FLOAT>), got (${l.catalogString}, ${r.catalogString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |java.lang.Double ${ev.value}_r = graft.functions.expressions.VectorKernels.cosineD($a, $b);
         |${ev.isNull} = ${ev.value}_r == null;
         |if (!${ev.isNull}) ${ev.value} = ${ev.value}_r.doubleValue();
       """.stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

/** float_dot(a, b): the embedding family's float-width dot product. */
case class FloatDotExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"float_dot requires (ARRAY<FLOAT>, ARRAY<FLOAT>), got (${l.catalogString}, ${r.catalogString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "float_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |java.lang.Double ${ev.value}_r = graft.functions.expressions.VectorKernels.dotF($a, $b);
         |${ev.isNull} = ${ev.value}_r == null;
         |if (!${ev.isNull}) ${ev.value} = ${ev.value}_r.doubleValue();
       """.stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): FloatDotExpr =
    copy(left = newLeft, right = newRight)
}

/** float_norm(v): sqrt of the float-width self-dot. */
case class FloatNormExpr(child: Expression) extends UnaryExpression with FloatVecInput {
  override protected def vecChild: Expression = child
  override def checkInputDataTypes(): TypeCheckResult = requireFloatVec("float_norm")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "float_norm"

  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.normF(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |java.lang.Double ${ev.value}_r = graft.functions.expressions.VectorKernels.normF($v);
         |${ev.isNull} = ${ev.value}_r == null;
         |if (!${ev.isNull}) ${ev.value} = ${ev.value}_r.doubleValue();
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): FloatNormExpr =
    copy(child = newChild)
}

/** nearest_cell(v, 'b64'): IVF corpus-side cell assignment. The codebook
  * rides as a Base64 string constant (one literal leaf), decoded once per
  * expression instance.
  */
case class NearestCellExpr(child: Expression, codebookB64: String)
  extends UnaryExpression with FloatVecInput {
  override protected def vecChild: Expression = child
  override def checkInputDataTypes(): TypeCheckResult = requireFloatVec("nearest_cell")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_cell"

  @transient private lazy val matrix: Array[Array[Float]] =
    VectorKernels.decodeMatrix(codebookB64)

  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.nearestCell(v.asInstanceOf[ArrayData], matrix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebook", matrix, "float[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |java.lang.Integer ${ev.value}_r = graft.functions.expressions.VectorKernels.nearestCell($v, $cb);
         |${ev.isNull} = ${ev.value}_r == null;
         |if (!${ev.isNull}) ${ev.value} = ${ev.value}_r.intValue();
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellExpr =
    copy(child = newChild)
}

/** ranked_cells(v, 'b64', take): IVF query-side probe list — the first
  * `take` cell ids by (distance, cell) ascending.
  */
case class RankedCellsExpr(child: Expression, codebookB64: String, take: Int)
  extends UnaryExpression with FloatVecInput {
  override protected def vecChild: Expression = child
  override def checkInputDataTypes(): TypeCheckResult = requireFloatVec("ranked_cells")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "ranked_cells"

  @transient private lazy val matrix: Array[Array[Float]] =
    VectorKernels.decodeMatrix(codebookB64)

  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.rankedCells(v.asInstanceOf[ArrayData], matrix, take)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebook", matrix, "float[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = graft.functions.expressions.VectorKernels.rankedCells($v, $cb, $take);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): RankedCellsExpr =
    copy(child = newChild)
}

/** hyperplane_bucket(v, dim, planes, seed): Similarity's random-hyperplane
  * LSH signature (INT, double-width plane products, draw bit 13).
  */
case class HyperplaneBucketExpr(child: Expression, dim: Int, planes: Int, seed: Long)
  extends UnaryExpression with FloatVecInput {
  override protected def vecChild: Expression = child
  override def checkInputDataTypes(): TypeCheckResult = requireFloatVec("hyperplane_bucket")
  override def dataType: DataType = IntegerType
  // never null: the Column form mapped a NULL vector to bucket 0 (each
  // plane's `when(null >= 0, ...).otherwise(0)` fell through) — replicated
  // explicitly here, so a null child yields 0, not NULL and not an NPE
  override def nullable: Boolean = false
  override def prettyName: String = "hyperplane_bucket"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0
    else VectorKernels.hyperplaneBucketI(v.asInstanceOf[ArrayData], dim, planes, seed)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val resultCode =
      code"""
         |${c.code}
         |int ${ev.value} = ${c.isNull} ? 0 :
         |  graft.functions.expressions.VectorKernels.hyperplaneBucketI(${c.value}, $dim, $planes, ${seed}L);
       """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketExpr =
    copy(child = newChild)
}

/** rh_bucket_long(v, dim, planes, seed): the embedding near-dup family's
  * signature (LONG, float-width plane products, draw bit 17).
  */
case class HyperplaneBucketLongExpr(child: Expression, dim: Int, planes: Int, seed: Long)
  extends UnaryExpression with FloatVecInput {
  override protected def vecChild: Expression = child
  override def checkInputDataTypes(): TypeCheckResult = requireFloatVec("rh_bucket_long")
  override def dataType: DataType = LongType
  // never null: same NULL-vector ⇒ bucket 0 rule as the int form (the
  // Column form's per-plane `otherwise(0L)` fallthrough)
  override def nullable: Boolean = false
  override def prettyName: String = "rh_bucket_long"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else VectorKernels.hyperplaneBucketL(v.asInstanceOf[ArrayData], dim, planes, seed)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val resultCode =
      code"""
         |${c.code}
         |long ${ev.value} = ${c.isNull} ? 0L :
         |  graft.functions.expressions.VectorKernels.hyperplaneBucketL(${c.value}, $dim, $planes, ${seed}L);
       """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketLongExpr =
    copy(child = newChild)
}
