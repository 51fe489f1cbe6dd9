package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native Catalyst expression for embedding dot products.
  *
  * The composable alternative — `aggregate(zip_with(a, b, _*_), 0d, _+_)` —
  * is a higher-order function: its lambda is evaluated interpreted,
  * per element, with boxing. For ANN over 100 TB of embeddings the dot
  * product is THE inner loop, so this is one of the few places where a
  * custom `Expression` with `doGenCode` is justified (SURVEY.md §7:
  * preference (b) after composing built-ins).
  *
  * Semantics match the HOF formulation exactly: elements are upcast to
  * double, accumulated left-to-right, null elements contribute 0, result
  * is null only if either array is null.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product expects array<float|double>, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotProduct(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.dotProduct($a, $b, " +
        s"${isFloat(left)}, ${isFloat(right)});")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Native exact integer squared distance Σ(a-b)² over array<long>
  * columns — the inner loop of every quantized k-means leg (cell
  * assignment is O(n·k) distance evaluations, and with k following the
  * SemDeDup contract k ~ n/1000 that leg is the dominant scale term).
  * The composable spelling
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0L, _+_)` evaluates
  * its lambdas interpreted, per element, with boxing; this expression is
  * the same exact left-to-right long arithmetic inside whole-stage
  * codegen (same overflow envelope: |a-b| bounded by the 1e-6 grid keeps
  * dim·diff² far below 2^63). Null ARRAYS yield null; null ELEMENTS are
  * skipped (DotProduct's convention — quantized vectors never carry
  * them).
  */
case class SqDistLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sq_dist_long expects array<bigint>, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sqDistLong(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.sqDistLong($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Batched argmin over a centroid MATRIX in ONE call — the blocked form
  * of [[SqDistLong]] for the k-means/IVF assignment sites: instead of k
  * expression invocations per row (one crossJoin row per centroid, then
  * a min-struct aggregate), the whole argmin runs inside one codegen'd
  * expression. The query vector is copied to a primitive long[] ONCE and
  * re-read across all k centroids (the loop-blocked, pre-SIMD shape);
  * no join rows materialize and no per-row aggregation runs.
  *
  * Returns struct(c: int, d: bigint) — the 0-based POSITION of the
  * nearest centroid in `cents` and its exact Σ(a-b)² distance. Ties
  * break to the LOWER position (strict `<` replacement scan), which
  * with cid-sorted matrices is exactly the min(struct(d, cid))
  * convention of the join form — assignments are bit-identical. Null
  * vector or null/empty matrix → null. Null ELEMENTS follow
  * [[SqDistLong]]: a null on either side of a dimension skips that
  * dimension's contribution (quantized vectors never carry them).
  *
  * SCALE BOUND: `cents` is usually a plan literal, serialized with the
  * stage's task binary — fine to a few-million elements; past that the
  * caller must fall back to the broadcast-join form (SimilarityOps'
  * argmin helper picks automatically).
  */
case class ArgMinSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("c", IntegerType, nullable = false),
    StructField("d", LongType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okVec = left.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val okMat = right.dataType match {
      case ArrayType(ArrayType(LongType, _), _) => true
      case _ => false
    }
    if (okVec && okMat)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"argmin_sq_dist expects (array<bigint>, array<array<bigint>>), " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  /** The centroid matrix hoisted ONCE into primitive long[][] — only
    * when `right` is a foldable literal with no null rows/elements (the
    * shape every argminAssign site produces). Per-row evaluation then
    * scans contiguous primitive arrays instead of re-walking the
    * literal's ArrayData (bitmap null check + offset arithmetic per
    * element, per row); the per-row-varying matrix form ([[graft.ops
    * .SimilarityOps]]'s pqAssign, `element_at(mats, _sub+1)`) keeps the
    * generic path. Computed lazily per JVM — `right` is a Literal, so
    * the fold is identical on driver and executors. Null when
    * inapplicable.
    */
  @transient private lazy val foldedMat: Array[Array[Long]] =
    if (!right.foldable) null
    else right.eval(null) match {
      case m: ArrayData => VectorKernels.hoistMatrix(m)
      case _ => null
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (foldedMat != null) VectorKernels.argminHoisted(x, foldedMat)
    else VectorKernels.argmin(x, b.asInstanceOf[ArrayData])
  }

  /** The hoisted matrix rides the generated class as ONE `long[][]`
    * reference, never re-decoded from the literal per row. */
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val call: (String, String) => String =
      if (foldedMat != null) {
        val m = ctx.addReferenceObj("argminMat", foldedMat, "long[][]")
        (a, _) => s"argminHoisted($a, $m)"
      } else (a, b) => s"argmin($a, $b)"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.VectorKernels.${call(a, b)};
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Static kernels for the vector expressions: each loop is written once
  * here, and both `nullSafeEval` and the generated code call it, so the
  * interpreted and codegen paths cannot drift apart.
  */
private[functions] object VectorKernels {
  /** [[DotProduct]]: Σ x_i·y_i over the common prefix, each element
    * upcast to double, accumulated left to right; a null element on
    * either side contributes 0. */
  def dotProduct(x: ArrayData, y: ArrayData,
      xFloat: Boolean, yFloat: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
        s += xv * yv
      }
      i += 1
    }
    s
  }

  /** [[SqDistLong]]: exact Σ(x_i - y_i)² over the common prefix, left to
    * right; a null element on either side skips that dimension. */
  def sqDistLong(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val d = x.getLong(i) - y.getLong(i)
        s += d * d
      }
      i += 1
    }
    s
  }

  /** The centroid matrix as primitive rows, or null when any row or
    * element is null (such a matrix keeps the generic [[argmin]]). */
  def hoistMatrix(m: ArrayData): Array[Array[Long]] = {
    val out = new Array[Array[Long]](m.numElements())
    var j = 0
    while (j < out.length) {
      if (m.isNullAt(j)) return null
      val cr = m.getArray(j)
      val row = new Array[Long](cr.numElements())
      var t = 0
      while (t < row.length) {
        if (cr.isNullAt(t)) return null
        row(t) = cr.getLong(t)
        t += 1
      }
      out(j) = row
      j += 1
    }
    out
  }

  /** Copies the query vector into `q` once (null elements as 0 and
    * flagged in `qn`); true when any element is null. */
  private def loadQuery(x: ArrayData, q: Array[Long],
                        qn: Array[Boolean]): Boolean = {
    var anyNull = false
    var i = 0
    while (i < q.length) {
      qn(i) = x.isNullAt(i)
      anyNull |= qn(i)
      q(i) = if (qn(i)) 0L else x.getLong(i)
      i += 1
    }
    anyNull
  }

  private def nearest(c: Int, d: Long): InternalRow =
    if (c < 0) null else new GenericInternalRow(Array[Any](c, d))

  /** [[ArgMinSqDist]] over a hoisted matrix: the no-null-query inner
    * loop is branch-free. Same argmin, tie and null rules as [[argmin]]
    * on a matrix without null rows or elements. */
  def argminHoisted(x: ArrayData,
      mat: Array[Array[Long]]): InternalRow = {
    val q = new Array[Long](x.numElements())
    val qn = new Array[Boolean](q.length)
    val anyNullQ = loadQuery(x, q, qn)
    var bestD = Long.MaxValue
    var bestC = -1
    var j = 0
    while (j < mat.length) {
      val c = mat(j)
      val n = math.min(q.length, c.length)
      var s = 0L
      var t = 0
      if (!anyNullQ) {
        while (t < n) {
          val d = q(t) - c(t)
          s += d * d
          t += 1
        }
      } else {
        while (t < n) {
          if (!qn(t)) {
            val d = q(t) - c(t)
            s += d * d
          }
          t += 1
        }
      }
      if (s < bestD) { bestD = s; bestC = j }
      j += 1
    }
    nearest(bestC, bestD)
  }

  /** [[ArgMinSqDist]] over any matrix: null rows are skipped, a null on
    * either side of a dimension skips that dimension, ties keep the lower
    * position, and no candidate row yields null. */
  def argmin(x: ArrayData, mat: ArrayData): InternalRow = {
    val q = new Array[Long](x.numElements())
    val qn = new Array[Boolean](q.length)
    loadQuery(x, q, qn)
    var bestD = Long.MaxValue
    var bestC = -1
    val k = mat.numElements()
    var j = 0
    while (j < k) {
      if (!mat.isNullAt(j)) {
        val c = mat.getArray(j)
        val n = math.min(q.length, c.numElements())
        var s = 0L
        var t = 0
        while (t < n) {
          if (!qn(t) && !c.isNullAt(t)) {
            val d = q(t) - c.getLong(t)
            s += d * d
          }
          t += 1
        }
        if (s < bestD) { bestD = s; bestC = j }
      }
      j += 1
    }
    nearest(bestC, bestD)
  }

  /** Element-wise `round(v.cast(double) * 1e6).cast(long)` with Spark's
    * exact Round semantics for doubles: NaN/Infinity pass through the
    * rounding unchanged (then saturating-cast to long like Spark's
    * double→long cast), finite values round via
    * BigDecimal.valueOf(d).setScale(0, HALF_UP) — the same
    * shortest-decimal HALF_UP algebra RoundBase compiles to, so the
    * quantized value (and every k-means/PQ trajectory built on it) is
    * bit-identical to the declarative transform it replaces. Null
    * elements stay null.
    */
  def quantize1e6(a: org.apache.spark.sql.catalyst.util.ArrayData,
                  isFloat: Boolean)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val d = (if (isFloat) a.getFloat(i).toDouble
                 else a.getDouble(i)) * 1e6
        val r =
          if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
          else java.math.BigDecimal.valueOf(d)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
        out(i) = r.toLong
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** quantize_vec(v): array<long> of round(x*1e6) per element — the codegen
  * kernel behind every quantized k-means/PQ leg's input projection (the
  * declarative `transform` HOF evaluates its lambda interpreted per
  * element).
  */
case class QuantizeVec(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = ArrayType(LongType,
    containsNull = child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "quantize_vec"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"quantize_vec expects array<float|double>, got ${other.sql}")
    }

  override def nullSafeEval(a: Any): Any =
    VectorKernels.quantize1e6(a.asInstanceOf[ArrayData],
      elemType == FloatType)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val isF = (elemType == FloatType).toString
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels.quantize1e6($c, $isF);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object VectorFunctions {
  /** Codegen'd dot product over array<float|double> columns. */
  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Codegen'd element-wise 1e6 quantization (see [[QuantizeVec]]).
    * Requires non-ANSI semantics ([[LegacySemantics]]). */
  def quantize_vec(v: Column): Column = {
    LegacySemantics.check("quantize_vec")
    Bridge.column(QuantizeVec(Bridge.expression(v)))
  }

  /** Codegen'd exact Σ(a-b)² over array<bigint> columns. */
  def sq_dist_long(a: Column, b: Column): Column =
    Bridge.column(SqDistLong(Bridge.expression(a), Bridge.expression(b)))

  /** Codegen'd one-call argmin of Σ(a-b)² over a centroid matrix:
    * struct(c = 0-based position, d = distance), ties to the lower
    * position.
    */
  def argmin_sq_dist(vec: Column, cents: Column): Column =
    Bridge.column(ArgMinSqDist(Bridge.expression(vec),
      Bridge.expression(cents)))
}
