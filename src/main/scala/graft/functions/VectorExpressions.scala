package graft.functions

import scala.annotation.switch

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot paths.
  *
  * Spark's array higher-order functions (`transform` / `zip_with` /
  * `aggregate`) are CodegenFallback — every element goes through an
  * interpreted lambda with boxed Doubles. On the similarity/clustering
  * paths that cost dominates the whole query (round-1 e13 spent ~15 s
  * mostly in interpreted distance lambdas at sf0.1). Each expression
  * here has ONE kernel, a primitive `double` loop over `ArrayData` in
  * [[VectorKernels]]: `nullSafeEval` calls it and `doGenCode` emits a
  * single call to it, so dot products, norms, and nearest-centroid
  * argmin stay inside whole-stage codegen with zero boxing and the two
  * paths cannot drift apart.
  *
  * Element null slots are treated as 0.0 on both paths (the guard
  * branch predicts perfectly on dense vectors); inputs that are not
  * numeric arrays fail at analysis time via checkInputDataTypes rather
  * than as runtime ClassCastExceptions.
  */
object VectorExpressions {

  private val K = "graft.functions.VectorKernels"

  /** Supported element types and their [[VectorKernels]] read codes. */
  private val elemCodes: Map[DataType, Int] = Map(DoubleType -> VectorKernels.F64,
    FloatType -> VectorKernels.F32, LongType -> VectorKernels.I64, IntegerType -> VectorKernels.I32)

  /** The element-type code of an array child, fixed once per expression. */
  private def elemCode(e: Expression): Int =
    elemCodes(e.dataType.asInstanceOf[ArrayType].elementType)

  /** Analysis-time validation: every child must be an array whose
    * element type `ok` accepts (`want` names them) — without this, bad
    * inputs surface as raw ClassCastException from deep inside
    * eval/codegen at runtime. The first failing argument is reported. */
  private def checkArrays(name: String, children: Seq[Expression], want: String)(
      ok: DataType => Boolean): TypeCheckResult =
    children.zipWithIndex.collectFirst {
      case (c, i) if !PartialFunction.cond(c.dataType) { case ArrayType(et, _) => ok(et) } =>
        TypeCheckResult.TypeCheckFailure(
          s"$name argument ${i + 1} must be array<$want>, got " + c.dataType.catalogString)
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  /** [[checkArrays]] over every supported numeric element width. */
  private def checkNumericArrays(name: String, children: Seq[Expression]): TypeCheckResult =
    checkArrays(name, children, "double|float|bigint|int")(elemCodes.contains)

  /** Dot product of two numeric array columns, as primitive codegen.
    * Mismatched lengths truncate to the shorter array (documented
    * contract — equivalent to zero-padding the shorter vector, which is
    * the conventional embedding semantics); null slots read as 0.0. */
  case class ArrayDot(left: Expression, right: Expression) extends BinaryExpression {
    private lazy val lt = elemCode(left)
    private lazy val rt = elemCode(right)
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      checkNumericArrays("array_dot", Seq(left, right))
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VectorKernels.dot(a.asInstanceOf[ArrayData], lt, b.asInstanceOf[ArrayData], rt)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$K.dot($a, $lt, $b, $rt)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayDot =
      copy(left = l, right = r)
  }

  /** Sum of squares of a numeric array column (squared L2 norm). */
  case class ArrayNorm2(child: Expression) extends UnaryExpression {
    private lazy val t = elemCode(child)
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      checkNumericArrays("array_norm2", Seq(child))
    override protected def nullSafeEval(input: Any): Any =
      VectorKernels.norm2(input.asInstanceOf[ArrayData], t)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"$K.norm2($a, $t)")
    override protected def withNewChildInternal(c: Expression): ArrayNorm2 = copy(child = c)
  }

  /** Argmin of squared L2 distance from the input vector to a constant
    * centroid matrix (k·dim doubles, shipped as a codegen reference
    * object — the broadcast-literal pattern without array-literal
    * overhead). Ties resolve to the lowest centroid index. */
  case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
      extends UnaryExpression {
    private lazy val t = elemCode(child)
    override def dataType: DataType = IntegerType
    override def checkInputDataTypes(): TypeCheckResult =
      checkNumericArrays("nearest_centroid", Seq(child))
    override protected def nullSafeEval(input: Any): Any =
      VectorKernels.nearestCentroid(input.asInstanceOf[ArrayData], t, centroids)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cents = ctx.addReferenceObj("centroids", centroids, "double[][]")
      defineCodeGen(ctx, ev, a => s"$K.nearestCentroid($a, $t, $cents)")
    }
    override protected def withNewChildInternal(c: Expression): NearestCentroid =
      copy(child = c)
  }

  /** Squared L2 distances from the input vector to every row of a
    * constant centroid matrix, as array<double> — the probe-ranking
    * primitive (nprobe selection sorts this tiny k-array per row). */
  case class CentroidDistances(child: Expression, centroids: Array[Array[Double]])
      extends UnaryExpression {
    private lazy val t = elemCode(child)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      checkNumericArrays("centroid_distances", Seq(child))
    override protected def nullSafeEval(input: Any): Any =
      VectorKernels.centroidDistances(input.asInstanceOf[ArrayData], t, centroids)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cents = ctx.addReferenceObj("centroids", centroids, "double[][]")
      defineCodeGen(ctx, ev, a => s"$K.centroidDistances($a, $t, $cents)")
    }
    override protected def withNewChildInternal(c: Expression): CentroidDistances =
      copy(child = c)
  }

  /** Random-hyperplane LSH signature: bit p is set when the dot product
    * of the vector with constant plane p is >= 0. Plane matrix ships as
    * a codegen reference object; one primitive pass per row replaces
    * numPlanes interpreted zip_with/aggregate dot products. */
  case class PlaneSignature(child: Expression, planes: Array[Array[Double]])
      extends UnaryExpression {
    private lazy val t = elemCode(child)
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult =
      checkNumericArrays("plane_signature", Seq(child))
    override protected def nullSafeEval(input: Any): Any =
      VectorKernels.planeSignature(input.asInstanceOf[ArrayData], t, planes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val mat = ctx.addReferenceObj("planes", planes, "double[][]")
      defineCodeGen(ctx, ev, a => s"$K.planeSignature($a, $t, $mat)")
    }
    override protected def withNewChildInternal(c: Expression): PlaneSignature =
      copy(child = c)
  }

  /** Max absolute element value (the symmetric-quantization range).
    * Empty arrays yield 0.0; null slots read as 0.0 like every other
    * expression here. */
  case class ArrayAbsMax(child: Expression) extends UnaryExpression {
    private lazy val t = elemCode(child)
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      checkNumericArrays("array_abs_max", Seq(child))
    override protected def nullSafeEval(input: Any): Any =
      VectorKernels.absMax(input.asInstanceOf[ArrayData], t)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"$K.absMax($a, $t)")
    override protected def withNewChildInternal(c: Expression): ArrayAbsMax = copy(child = c)
  }

  /** Symmetric int8 quantization: code_i = floor(v_i / scale * 127 + 0.5)
    * (round-half-up IN BINARY — `floor` on the identical double is
    * engine-portable where decimal `round()` is not). |v_i| <= scale by
    * construction when scale = ArrayAbsMax(v), so codes stay within
    * [-127, 127] with no clamp branch. scale <= 0 (zero vector) yields
    * all-zero codes. Output array<int>, accepted directly by
    * ArrayDot/ArrayNorm2 — scales cancel in cosine, so quantized ANN
    * reuses the existing primitives unchanged.
    *
    * NULL-SLOT CONTRACT: a null input element quantizes as 0.0 (code
    * 0), like every expression in this file — the output therefore
    * truly has containsNull=false, and the e27 oracle coalesces null
    * elements to 0 to match. Callers needing null propagation must
    * pre-filter. */
  case class QuantizeInt8(vec: Expression, scale: Expression) extends BinaryExpression {
    private lazy val t = elemCode(vec)
    override def left: Expression = vec
    override def right: Expression = scale
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = {
      val arrOk = checkNumericArrays("quantize_int8", Seq(vec))
      if (arrOk != TypeCheckResult.TypeCheckSuccess) arrOk
      else if (scale.dataType != DoubleType)
        TypeCheckResult.TypeCheckFailure(
          s"quantize_int8 argument 2 must be double, got ${scale.dataType.catalogString}")
      else TypeCheckResult.TypeCheckSuccess
    }
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VectorKernels.quantizeInt8(a.asInstanceOf[ArrayData], t, b.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$K.quantizeInt8($a, $t, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): QuantizeInt8 =
      copy(vec = l, scale = r)
  }

  /** Intersection size of two SORTED array<bigint> columns — the
    * PPJoin verification kernel. A single allocation-free two-pointer
    * merge per row, compared against `array_intersect` + `size` which
    * builds a hash set per row and boxes every element (at sf1 the e4
    * scoring of ~6M candidate pairs spent most of its CPU there).
    *
    * CONTRACT: both inputs ascending-sorted, 64-bit exact (compared as
    * longs — gram codes can exceed 2^53, so the double-based helpers
    * above are not used). Duplicate elements count once per matching
    * position pair (min multiplicity), which equals distinct-intersect
    * semantics on the distinct arrays the dedup pipeline builds. Null
    * slots read as 0L like every expression in this file. */
  case class SortedIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def checkInputDataTypes(): TypeCheckResult =
      checkArrays("sorted_intersect_count", Seq(left, right), "bigint")(_ == LongType)
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VectorKernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$K.sortedIntersectCount($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
      copy(left = l, right = r)
  }

  /** Elementwise a ± b over two numeric array columns as array<double>:
    * the body of [[ArraySub]] and [[ArrayAdd]], which differ only in
    * the operator. No constructor parameters: Java serialization (task
    * binaries) needs a no-arg constructor on this non-serializable
    * superclass. */
  sealed abstract class ElementwiseSumDiff extends BinaryExpression {
    protected def fnName: String
    protected def subtract: Boolean
    private lazy val lt = elemCode(left)
    private lazy val rt = elemCode(right)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      checkNumericArrays(fnName, Seq(left, right))
    override protected def nullSafeEval(a: Any, b: Any): Any =
      VectorKernels.sumDiff(a.asInstanceOf[ArrayData], lt, b.asInstanceOf[ArrayData], rt, subtract)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$K.sumDiff($a, $lt, $b, $rt, $subtract)")
  }

  /** Elementwise a − b over two numeric array columns as array<double>
    * (round 12) — the codegen replacement for `zip_with(a, b, _ - _)`
    * on the IVF-PQ residual path: HigherOrderFunction is
    * CodegenFallback, so the old form ran an interpreted lambda with
    * boxed Doubles per ELEMENT of every corpus row (and broke the
    * whole-stage-codegen span it sat in). Same arithmetic in the same
    * element order (each element widens to double exactly like an
    * up-front cast, so results are bit-identical for equal-length
    * dense arrays). Mismatched lengths truncate to the shorter array
    * and null slots read as 0.0 — the documented contract of every
    * expression in this file (zip_with instead null-pads; vectors of
    * unequal length or with null slots are out of the ANN operators'
    * contract either way). */
  case class ArraySub(left: Expression, right: Expression) extends ElementwiseSumDiff {
    override protected def fnName: String = "array_sub"
    override protected def subtract: Boolean = true
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ArraySub =
      copy(left = l, right = r)
  }

  /** Elementwise a + b as array<double> — [[ArraySub]]'s twin for the
    * IVF-PQ reconstruction x̂ = c_cell + q(x − c_cell). Same contract. */
  case class ArrayAdd(left: Expression, right: Expression) extends ElementwiseSumDiff {
    override protected def fnName: String = "array_add"
    override protected def subtract: Boolean = false
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayAdd =
      copy(left = l, right = r)
  }

  /** Product-quantization encode + reconstruct in ONE compact kernel
    * (round 12): for each of the m subspaces, argmin of squared L2
    * distance from the input's s-th `dsub`-slice to that subspace's
    * codewords (ties → lowest codeword, the [[NearestCentroid]]
    * contract), emitting the chosen codewords concatenated — exactly
    * the `concat(element_at(cb_s, nearestCentroid(slice(v, …)) + 1))`
    * composition it replaces, bit-for-bit (same slice offsets, same
    * distance fold order, same tie resolution, same short-tail
    * min-length guard).
    *
    * Why a fused expression and not the composition: m unrolled
    * argmin subtrees (each with its own slice allocation and inline
    * codeword literals) generate a whole-stage function past the
    * JVM JIT's ~8 KB huge-method threshold — UNDER Spark's 64 KB
    * hugeMethodLimit, so no warning fires and the entire fused stage
    * (scan, joins, dots included) silently runs in the bytecode
    * interpreter. Measured on the sf1 e62 encode stage: 45.8
    * task-seconds composed vs 9-ish with the stage de-fused; this
    * kernel keeps the stage fused AND compiles to one small JIT-able
    * triple loop over a referenced codebook tensor. */
  case class PqReconstruct(child: Expression,
                           codebooks: Array[Array[Array[Double]]],
                           dsub: Int)
      extends UnaryExpression {
    private lazy val t = elemCode(child)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      checkNumericArrays("pq_reconstruct", Seq(child))
    override protected def nullSafeEval(input: Any): Any =
      VectorKernels.pqReconstruct(input.asInstanceOf[ArrayData], t, codebooks, dsub)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cbs = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
      defineCodeGen(ctx, ev, a => s"$K.pqReconstruct($a, $t, $cbs, $dsub)")
    }
    override protected def withNewChildInternal(c: Expression): PqReconstruct =
      copy(child = c)
  }

  /** The assignment half of [[PqReconstruct]]: per subspace, the
    * argmin codeword id (ties → lowest), as array<int> — the fused
    * replacement for the m-way `array(nearestCentroid(slice(v, …)))`
    * unroll in the codebook-fit update, which had the same silent
    * JIT huge-method failure mode as the reconstruct composition. */
  case class PqAssign(child: Expression,
                      codebooks: Array[Array[Array[Double]]],
                      dsub: Int)
      extends UnaryExpression {
    private lazy val t = elemCode(child)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      checkNumericArrays("pq_assign", Seq(child))
    override protected def nullSafeEval(input: Any): Any =
      VectorKernels.pqAssign(input.asInstanceOf[ArrayData], t, codebooks, dsub)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cbs = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
      defineCodeGen(ctx, ev, a => s"$K.pqAssign($a, $t, $cbs, $dsub)")
    }
    override protected def withNewChildInternal(c: Expression): PqAssign =
      copy(child = c)
  }

  // ---------------- Column-level entry points ----------------

  def arrayDot(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def arrayNorm2(a: Column): Column =
    ColumnBridge.column(ArrayNorm2(ColumnBridge.expression(a)))

  def nearestCentroid(v: Column, centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(NearestCentroid(ColumnBridge.expression(v), centroids))

  def centroidDistances(v: Column, centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(CentroidDistances(ColumnBridge.expression(v), centroids))

  def planeSignature(v: Column, planes: Array[Array[Double]]): Column =
    ColumnBridge.column(PlaneSignature(ColumnBridge.expression(v), planes))

  def arrayAbsMax(a: Column): Column =
    ColumnBridge.column(ArrayAbsMax(ColumnBridge.expression(a)))

  def quantizeInt8(v: Column, scale: Column): Column =
    ColumnBridge.column(QuantizeInt8(ColumnBridge.expression(v), ColumnBridge.expression(scale)))

  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def arraySub(a: Column, b: Column): Column =
    ColumnBridge.column(ArraySub(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def arrayAdd(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayAdd(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  private def requireCodebooks(codebooks: Array[Array[Array[Double]]], dsub: Int): Unit =
    require(codebooks.nonEmpty && codebooks.forall(cb =>
      cb.nonEmpty && cb.forall(_.length == dsub)),
      s"every codeword must be dsub=$dsub wide")

  def pqReconstruct(v: Column, codebooks: Array[Array[Array[Double]]],
                    dsub: Int): Column = {
    requireCodebooks(codebooks, dsub)
    ColumnBridge.column(PqReconstruct(ColumnBridge.expression(v), codebooks, dsub))
  }

  def pqAssign(v: Column, codebooks: Array[Array[Array[Double]]],
               dsub: Int): Column = {
    requireCodebooks(codebooks, dsub)
    ColumnBridge.column(PqAssign(ColumnBridge.expression(v), codebooks, dsub))
  }
}

/** The kernels behind [[VectorExpressions]] — each written once and
  * called by both the expression's `nullSafeEval` and its generated
  * code. Top-level so the Scala compiler emits static forwarders the
  * generated Java calls directly. `t` is an element-type code
  * ([[F64]], [[F32]], [[I64]], [[I32]]) fixed per expression; the
  * generated code passes it as a literal, so the JIT folds the
  * dispatch in [[elem]] to one read. Elements widen to double one at a
  * time and every sum accumulates left to right. */
object VectorKernels {
  final val F64 = 0
  final val F32 = 1
  final val I64 = 2
  final val I32 = 3

  /** Element i as a double. Null slots read as 0.0 (the branch predicts
    * perfectly on dense vectors). */
  def elem(a: ArrayData, t: Int, i: Int): Double =
    if (a.isNullAt(i)) 0.0
    else (t: @switch) match {
      case F64 => a.getDouble(i)
      case F32 => a.getFloat(i).toDouble
      case I64 => a.getLong(i).toDouble
      case _ => a.getInt(i).toDouble
    }

  def dot(x: ArrayData, xt: Int, y: ArrayData, yt: Int): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += elem(x, xt, i) * elem(y, yt, i); i += 1 }
    s
  }

  def norm2(v: ArrayData, t: Int): Double = {
    var s = 0.0; var i = 0
    while (i < v.numElements()) { val x = elem(v, t, i); s += x * x; i += 1 }
    s
  }

  /** Squared L2 distance from v[off, off + n) to w[0, n), with
    * n = min(w.length, rem). */
  private def sqDist(v: ArrayData, t: Int, off: Int, rem: Int, w: Array[Double]): Double = {
    val n = math.min(w.length, rem)
    var d = 0.0; var i = 0
    while (i < n) { val x = elem(v, t, off + i) - w(i); d += x * x; i += 1 }
    d
  }

  /** The squared-L2 argmin: index of the row of `m` nearest to v's
    * slice from `off` (`rem` elements left); ties → lowest index. */
  private def argmin(v: ArrayData, t: Int, off: Int, rem: Int, m: Array[Array[Double]]): Int = {
    var best = -1; var bestD = Double.PositiveInfinity
    var c = 0
    while (c < m.length) {
      val d = sqDist(v, t, off, rem, m(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  def nearestCentroid(v: ArrayData, t: Int, cents: Array[Array[Double]]): Int =
    argmin(v, t, 0, v.numElements(), cents)

  def centroidDistances(v: ArrayData, t: Int, cents: Array[Array[Double]]): ArrayData = {
    val out = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) { out(c) = sqDist(v, t, 0, v.numElements(), cents(c)); c += 1 }
    ArrayData.toArrayData(out)
  }

  def planeSignature(v: ArrayData, t: Int, planes: Array[Array[Double]]): Long = {
    var sig = 0L
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      val n = math.min(plane.length, v.numElements())
      var s = 0.0; var i = 0
      while (i < n) { s += elem(v, t, i) * plane(i); i += 1 }
      if (s >= 0) sig |= 1L << p
      p += 1
    }
    sig
  }

  def absMax(v: ArrayData, t: Int): Double = {
    var m = 0.0; var i = 0
    while (i < v.numElements()) { val x = math.abs(elem(v, t, i)); if (x > m) m = x; i += 1 }
    m
  }

  def quantizeInt8(v: ArrayData, t: Int, scale: Double): ArrayData = {
    val out = new Array[Int](v.numElements())
    if (scale > 0) {
      var i = 0
      while (i < out.length) { out(i) = math.floor(elem(v, t, i) / scale * 127.0 + 0.5).toInt; i += 1 }
    }
    ArrayData.toArrayData(out)
  }

  /** Element i of a bigint array as an exact long; null slots read as 0L. */
  private def exactLong(a: ArrayData, i: Int): Long = if (a.isNullAt(i)) 0L else a.getLong(i)

  /** Two-pointer merge over sorted bigint arrays, compared as exact longs. */
  def sortedIntersectCount(x: ArrayData, y: ArrayData): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < x.numElements() && j < y.numElements()) {
      val xv = exactLong(x, i); val yv = exactLong(y, j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** Elementwise x − y (`subtract`) or x + y over the shorter length. */
  def sumDiff(x: ArrayData, xt: Int, y: ArrayData, yt: Int, subtract: Boolean): ArrayData = {
    val out = new Array[Double](math.min(x.numElements(), y.numElements()))
    var i = 0
    while (i < out.length) {
      val a = elem(x, xt, i); val b = elem(y, yt, i)
      out(i) = if (subtract) a - b else a + b
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Codeword id per PQ subspace s: the argmin over `cbs(s)` of v's
    * s-th `dsub`-slice (a short tail compares only what is left). */
  private def pqCode(v: ArrayData, t: Int, cbs: Array[Array[Array[Double]]], dsub: Int,
                     s: Int): Int =
    argmin(v, t, s * dsub, math.max(v.numElements() - s * dsub, 0), cbs(s))

  def pqAssign(v: ArrayData, t: Int, cbs: Array[Array[Array[Double]]], dsub: Int): ArrayData = {
    val out = new Array[Int](cbs.length)
    var s = 0
    while (s < cbs.length) { out(s) = pqCode(v, t, cbs, dsub, s); s += 1 }
    ArrayData.toArrayData(out)
  }

  def pqReconstruct(v: ArrayData, t: Int, cbs: Array[Array[Array[Double]]],
                    dsub: Int): ArrayData = {
    val out = new Array[Double](cbs.length * dsub)
    var s = 0
    while (s < cbs.length) {
      System.arraycopy(cbs(s)(pqCode(v, t, cbs, dsub, s)), 0, out, s * dsub, dsub)
      s += 1
    }
    ArrayData.toArrayData(out)
  }
}
