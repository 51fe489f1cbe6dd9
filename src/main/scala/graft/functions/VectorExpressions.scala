package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
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

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

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

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
        s += xv * yv
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val lGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val rGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("sum")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(),
         |  $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

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

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("sum")
      val d = ctx.freshName("d")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(),
         |  $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    final long $d = $a.getLong($i) - $b.getLong($i);
         |    $s += $d * $d;
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

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
    computeFoldedMat()

  private def computeFoldedMat(): Array[Array[Long]] =
    if (!right.foldable) null
    else right.eval(null) match {
      case m: ArrayData =>
        val k = m.numElements()
        val out = new Array[Array[Long]](k)
        var j = 0
        while (j < k) {
          if (m.isNullAt(j)) return null
          val cr = m.getArray(j)
          val n = cr.numElements()
          val row = new Array[Long](n)
          var t = 0
          while (t < n) {
            if (cr.isNullAt(t)) return null
            row(t) = cr.getLong(t)
            t += 1
          }
          out(j) = row
          j += 1
        }
        out
      case _ => null
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val dim = x.numElements()
    val q = new Array[Long](dim)
    val qn = new Array[Boolean](dim)
    var anyNullQ = false
    var i = 0
    while (i < dim) {
      qn(i) = x.isNullAt(i)
      anyNullQ |= qn(i)
      q(i) = if (qn(i)) 0L else x.getLong(i)
      i += 1
    }
    var bestD = Long.MaxValue
    var bestC = -1
    val fm = foldedMat
    if (fm != null) {
      var j = 0
      while (j < fm.length) {
        val c = fm(j)
        val n = math.min(dim, c.length)
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
    } else {
      val m = b.asInstanceOf[ArrayData]
      var j = 0
      val k = m.numElements()
      while (j < k) {
        if (!m.isNullAt(j)) {
          val c = m.getArray(j)
          val n = math.min(dim, c.numElements())
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
    }
    if (bestC < 0) null
    else new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](bestC, bestD))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val i = ctx.freshName("i"); val j = ctx.freshName("j")
    val t = ctx.freshName("t"); val n = ctx.freshName("n")
    val dim = ctx.freshName("dim"); val k = ctx.freshName("k")
    val q = ctx.freshName("q"); val qn = ctx.freshName("qn")
    val s = ctx.freshName("s"); val d = ctx.freshName("d")
    val bd = ctx.freshName("bestD"); val bc = ctx.freshName("bestC")
    val c = ctx.freshName("cent")
    if (foldedMat != null) {
      // foldable-literal fast path: the matrix rides the generated class
      // as ONE primitive long[][] reference (hoisted at codegen, never
      // re-decoded from the literal's ArrayData bitmap+offsets per row)
      // and the no-null-query inner loop is branch-free — the
      // JIT-friendliest shape available without Panama SIMD. Same
      // argmin/tie/null algebra as the generic path (spec-pinned
      // bit-identical, VectorExprSpec).
      val mref = ctx.addReferenceObj("argminMat", foldedMat, "long[][]")
      val anq = ctx.freshName("anyNullQ")
      nullSafeCodeGen(ctx, ev, (a, _) => s"""
         |final int $dim = $a.numElements();
         |final long[] $q = new long[$dim];
         |final boolean[] $qn = new boolean[$dim];
         |boolean $anq = false;
         |for (int $i = 0; $i < $dim; $i++) {
         |  $qn[$i] = $a.isNullAt($i);
         |  $anq |= $qn[$i];
         |  $q[$i] = $qn[$i] ? 0L : $a.getLong($i);
         |}
         |long $bd = Long.MAX_VALUE;
         |int $bc = -1;
         |final int $k = $mref.length;
         |for (int $j = 0; $j < $k; $j++) {
         |  final long[] $c = $mref[$j];
         |  final int $n = java.lang.Math.min($dim, $c.length);
         |  long $s = 0L;
         |  if (!$anq) {
         |    for (int $t = 0; $t < $n; $t++) {
         |      final long $d = $q[$t] - $c[$t];
         |      $s += $d * $d;
         |    }
         |  } else {
         |    for (int $t = 0; $t < $n; $t++) {
         |      if (!$qn[$t]) {
         |        final long $d = $q[$t] - $c[$t];
         |        $s += $d * $d;
         |      }
         |    }
         |  }
         |  if ($s < $bd) { $bd = $s; $bc = $j; }
         |}
         |if ($bc < 0) {
         |  ${ev.isNull} = true;
         |  ${ev.value} = null;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions
         |    .GenericInternalRow(new Object[] {
         |      java.lang.Integer.valueOf($bc),
         |      java.lang.Long.valueOf($bd) });
         |}
       """.stripMargin)
    } else nullSafeCodeGen(ctx, ev, (a, b) => s"""
         |final int $dim = $a.numElements();
         |final long[] $q = new long[$dim];
         |final boolean[] $qn = new boolean[$dim];
         |for (int $i = 0; $i < $dim; $i++) {
         |  $qn[$i] = $a.isNullAt($i);
         |  $q[$i] = $qn[$i] ? 0L : $a.getLong($i);
         |}
         |long $bd = Long.MAX_VALUE;
         |int $bc = -1;
         |final int $k = $b.numElements();
         |for (int $j = 0; $j < $k; $j++) {
         |  if (!$b.isNullAt($j)) {
         |    final org.apache.spark.sql.catalyst.util.ArrayData $c =
         |      $b.getArray($j);
         |    final int $n = java.lang.Math.min($dim, $c.numElements());
         |    long $s = 0L;
         |    for (int $t = 0; $t < $n; $t++) {
         |      if (!$qn[$t] && !$c.isNullAt($t)) {
         |        final long $d = $q[$t] - $c.getLong($t);
         |        $s += $d * $d;
         |      }
         |    }
         |    if ($s < $bd) { $bd = $s; $bc = $j; }
         |  }
         |}
         |if ($bc < 0) {
         |  ${ev.isNull} = true;
         |  ${ev.value} = null;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions
         |    .GenericInternalRow(new Object[] {
         |      java.lang.Integer.valueOf($bc),
         |      java.lang.Long.valueOf($bd) });
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Static kernel for [[QuantizeVec]] — kept out of the expression class so
  * generated code can call it with one static invoke.
  */
object VectorKernels {
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

  /** Register dot_product for SQL use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Bridge.registerFunction(spark, "dot_product",
      exprs => DotProduct(exprs(0), exprs(1)))
}
